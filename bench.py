"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

``--scale10``: replicates the base tables 10x with join-consistent
key offsets (the SCALE.md recipe, now checked in), runs the headline
set at BOTH scales in one session, and prints a scale-ratio JSON line
instead — the per-round scale-sanity artifact (SCALE_r{N}.json). A
ratio near 1x means the query is overhead-bound at sf0.1; near 10x
means per-row cost dominates; above ~10x means the plan degrades
superlinearly and needs attention.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_1_11_2_with_comments_spark import queries as q
from flink_1_11_2_with_comments_spark.session import DEFAULT_SF_DIR, get_spark

# Headline set: relational core + heavy joins/aggs + window/streaming
# semantics + pipeline ops — one representative per operator family.
HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q10",
    "tpch_q13", "tpch_q18", "tpch_q21",
    "join_inner_shuffle", "agg_grouping_sets",
    "over_rows_unbounded_preceding", "rank_topn_per_group",
    "window_hop_agg", "window_session_agg", "interval_join_batch",
    "asof_join_batch",
    "dedup_minhash_lsh", "dedup_simhash", "text_fingerprint",
    "ann_bruteforce_topk", "ann_ivf_lloyd",
    "cep_quantified", "changelog_rowkind", "evictor_count_window",
    "graph_connected_components", "approx_sketches",
    "pipeline_end_to_end",
]

# Extra queries measured only by --scale10 (linearity evidence for the
# round-5 pipeline newcomers; kept out of HEADLINE so the headline
# total stays comparable round-over-round against BENCH_r01).
SCALE10_EXTRA = [
    "corpus_bpe_pair_counts", "dedup_semdedup",
    "dedup_exact_substring_spans", "embedding_standardize",
    # round-7-late newcomers: linearity evidence for the PCA Gram
    # pass (row-local outer products), BM25 single-tokenize plan,
    # the broadcast JL projection, and the windowed SCD2 build
    "embedding_pca_covariance", "corpus_bm25_topterms",
    "embedding_random_projection", "scd2_dimension_build",
    "events_zorder_stats",
    # round-8 newcomers: CDC round trips (map-only parse + one
    # keyed shuffle), the broadcast DSIR scorer, and the
    # deterministic sketches (register/min-k/counter aggregates —
    # sketch size is scale-independent, so ratios should track the
    # scan, not the distinct count)
    "cdc_debezium_materialize", "cdc_canal_materialize",
    "corpus_dsir_score_broadcast", "events_hll_distinct",
    "events_kmv_distinct_union", "events_countmin_point",
    "tpcds_rollup_rank_within_parent",
    "tpcds_supplier_latency_matrix",
    # the heaviest r8 tranche-2/3 TPC-DS shapes (the r8 verdict asked
    # for 10x evidence on these) and the round-9 newcomers: the q31
    # triple self-join, the q64 item chain, the q72 bucketed events
    # window, classifier training (3 fixed rounds over the one-shuffle
    # feature table), and the GK/CMS verification faces
    "tpcds_dual_correlated_spend", "tpcds_net_after_returns",
    "tpcds_channel_pair_ratio",
    "tpcds_consecutive_share_growth", "tpcds_item_chain_resale",
    "tpcds_demand_coverage_window",
    "corpus_quality_classifier_fit", "events_cms_topk",
    "events_gk_quantile_bounds",
    # round-9 tranche-2 newcomers with data-proportional input (the
    # bounded-subset probes — containment's doc_id<600 window, the
    # user_id<=50 distribution windows — are scale-constant by
    # construction and stay out): the savepoint-bootstrap rebuild,
    # the full-corpus Zipf fit, the partial-reuse rollup, and the
    # dashboard aggregates
    "scd2_state_bootstrap_roundtrip", "corpus_zipf_slope",
    "events_hourly_to_daily_rollup", "corpus_dedup_rate_by_source",
    "events_funnel_conversion", "embedding_qc_outliers",
    "fn_stats_bivariate",
    # landed after the SCALE_r09 run — first measured in round 10
    "events_kmv_intersection", "events_hll_trailing_distinct",
    "basket_brand_lift", "graph_k_core",
    # round-10 newcomers: the q70 partial-table rollup, the q27
    # four-AVG rollup, the q60 single-scan channel union, and the
    # zero-shuffle codec roundtrip face
    "tpcds_top_states_profit_rollup", "tpcds_demo_avg_rollup",
    "tpcds_three_channel_item_total", "multimodal_roundtrip_check",
    # landed after the SCALE_r10 run — first measured in round 11
    "multimodal_transform_check", "tpcds_aligned_week_returns",
    "corpus_domain_quota",
    # round-11 newcomers: the hash-enforced decode faces (map-only
    # Python codec loops, pinned parallelism), the q76 one-scan
    # NULL-key census, and the broadcast bloom dedup prefilter
    # (probe side must scale with zero shuffles)
    "multimodal_pixel_check", "multimodal_gif_check",
    "tpcds_null_key_census", "corpus_bloom_dedup_prefilter",
    # round-11 second pass: linearity evidence for the one-shuffle
    # co-occurrence build + salted wedge enumeration
    "graph_clustering_coefficient",
    # round-13 newcomers: the DataStream.iterate face — seed rows are
    # data-proportional but loop depth is log2(max key), so the ratio
    # should track the per-micro-batch row work, not the depth — and
    # the two new codec closed loops (map-only Python, zero shuffle;
    # ratios should track doc count like the other *_check faces)
    "streaming_iterate_halving",
    "multimodal_jpeg_check", "multimodal_mjpeg_frames",
    # round-14 newcomers: join-in-loop-body iterate — depth is capped
    # at 8 supersteps by construction, so the ratio should track the
    # per-superstep frontier join, not the loop — and the pHash image
    # dedup (map-only codec+hash, one 8-byte-key shuffle)
    "streaming_iterate_chain_walk", "dedup_image_phash",
    # round-14 late additions, measured in the final SCALE_r14 sweep:
    # the constellation audio dedup, the frame-hash video dedup
    # (map-only fingerprint + one 8-byte-signature shuffle; the video
    # face's ratio tracks doc count — graduated by --video-profile's
    # flat-marginal evidence) and the lossless FLAC roundtrip face
    # (map-only codec, zero shuffle)
    "dedup_audio_fingerprint", "dedup_video_fingerprint",
    "multimodal_flac_check",
]


# 10x replication: per-table key columns to offset per replica so the
# copies stay join-consistent (copy i's lineitem joins copy i's orders/
# part/supplier; nation/region are fixed dimensions shared by all).
_KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],
    "region": [],
}
_STRIDE = 100_000_000  # larger than any base key domain


def build_scaled(spark, base_dir: str, out_dir: str,
                 factor: int) -> None:
    """Replicate every base table `factor`x with join-consistent key
    offsets (replica i adds i*stride to each key column; timestamps
    unchanged, so time windows see `factor`x density). 16 files per
    table, matching the SCALE.md round-1/round-4 recipe."""
    from pyspark.sql import functions as F
    for table, key_cols in _KEY_COLS.items():
        dst = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(base_dir,
                                             f"{table}.parquet"))
        if not key_cols:  # fixed dimension: single copy
            df.write.mode("overwrite").parquet(dst)
            continue
        rep = df.withColumn("__r", F.explode(F.sequence(
            F.lit(0), F.lit(factor - 1))))
        for k in key_cols:
            rep = rep.withColumn(k, F.col(k) + F.col("__r")
                                 * F.lit(_STRIDE))
        rep.drop("__r").repartition(16).write.mode("overwrite") \
            .parquet(dst)


def build_scale10(spark, base_dir: str, out_dir: str) -> None:
    build_scaled(spark, base_dir, out_dir, 10)



def _release_persisted(spark) -> None:
    """Cold-cache discipline between measured queries: clearCache()
    drops catalog-cached relations but NOT localCheckpoint storage
    (checkpointed RDDs are persisted outside the catalog). Iterative
    queries (graph loops, classifier fits, pipeline stages) leave one
    checkpointed RDD per superstep pinned to memory; across 70+
    queries x 2 scales x 3 runs that accumulation becomes GC
    pressure that inflates later queries at 10x data. Unpersisting
    is safe here because the previous query's DataFrames are dead —
    a localCheckpointed frame must never be unpersisted while still
    referenced (its lineage is truncated, so recompute is
    impossible)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def _time_queries(spark, specs, names, sf_dir, runs) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in names:
        # queries that persist() intermediates (classifier features,
        # basket arrays, iteration state) would otherwise accumulate
        # cached frames across 70+ queries x 2 scales x 3 runs and
        # push later queries into memory pressure — measured as
        # 2-3x inflation of late-running queries in back-to-back
        # scale10 runs. EVERY run times against a cold cache,
        # including checkpoint storage (_release_persisted): released
        # only before run 1, a persist() inside the query would be
        # matched by the CacheManager against run 2/3's canonically
        # identical plan, so the best-of-N min measured a warm-cache
        # execution for persist-bearing queries (r14 verdict ask #2).
        took: list[float] = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            n = specs[name].fn(spark, sf_dir).count()
            took.append(time.perf_counter() - t0)
            assert n >= 0
        timings[name] = round(min(took), 4)
    return timings


def scale10_main() -> None:
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = base_dir.rstrip("/").rsplit("sf", 1)[-1]
    out_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR",
                             "/tmp/spark_graft_scale10")
    spark = get_spark("bench-scale10")
    build_scale10(spark, base_dir, out_dir)
    specs = q.all_specs()
    names = [n for n in HEADLINE + SCALE10_EXTRA if n in specs]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    specs[names[0]].fn(spark, base_dir).count()  # warm
    base = _time_queries(spark, specs, names, base_dir, runs)
    x10 = _time_queries(spark, specs, names, out_dir, runs)
    ratio = {n: (round(x10[n] / base[n], 2) if base[n] else None)
             for n in names}
    print(json.dumps({
        "metric": "scale10_ratio",
        "base_total": round(sum(base.values()), 4),
        "x10_total": round(sum(x10.values()), 4),
        "total_ratio": round(sum(x10.values()) / sum(base.values()), 2),
        "base": base, "x10": x10, "ratio": ratio,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


def kcore_profile_main() -> None:
    """Phase profile for graph_k_core at base and 10x — the
    graduation evidence the r13 verdict asked for: is the peel loop
    the scaling term, or the data-proportional pair build?

    Phases (each measured best-of-N from a cold cache):
      build        — co-purchase pair build (basket group + partial
                     +final distinct) up to the materialized
                     half-edge localCheckpoint
      build_degree — build + the initial degree aggregate + first
                     convergence count (everything before the loop)
      full         — the whole face (graph_k_core registry fn)
      peel = full − build_degree (the loop: all peel rounds + batch
                     convergence counts + final core-degree report)
    """
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    out_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR",
                             "/tmp/spark_graft_scale10")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("bench-kcore-profile")
    build_scale10(spark, base_dir, out_dir)
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.operators.graph import (
        _superstep, k_core_pairs)
    from flink_1_11_2_with_comments_spark.queries.graph_ops import (
        _copurchase_pairs)

    def timed(fn) -> float:
        took = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            fn()
            took.append(time.perf_counter() - t0)
        return round(min(took), 4)

    def build(sf_dir):
        _superstep(_copurchase_pairs(spark, sf_dir, persist=False)
                   .select("a", "b")).count()

    def build_degree(sf_dir):
        p = _superstep(_copurchase_pairs(spark, sf_dir, persist=False)
                       .select("a", "b"))
        deg = _superstep(
            p.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node").agg(F.count("*").alias("d")))
        deg.where(F.col("d") < 80).count()

    def full(sf_dir):
        k_core_pairs(_copurchase_pairs(spark, sf_dir, persist=False),
                     k=80).count()

    out = {"metric": "kcore_phase_profile", "unit": "sec",
           "runs": runs, "k": 80}
    for label, d in (("base", base_dir), ("x10", out_dir)):
        t_build = timed(lambda: build(d))
        t_bd = timed(lambda: build_degree(d))
        t_full = timed(lambda: full(d))
        out[label] = {"build": t_build, "build_degree": t_bd,
                      "full": t_full,
                      "peel": round(t_full - t_bd, 4)}
    for ph in ("build", "build_degree", "full", "peel"):
        b, x = out["base"][ph], out["x10"][ph]
        out.setdefault("ratio", {})[ph] = (round(x / b, 2) if b > 0
                                           else None)
    print(json.dumps(out))


def mjpeg_profile_main() -> None:
    """Two-scale phase profile for multimodal_mjpeg_frames — the
    graduation evidence the r13 verdict asked for (the face debuted
    at 10x ratio 3.88 with only a prose flat-marginal-cost claim).

    The face is map-only (zero shuffle): T(N) = fixed + marginal * W
    where W = frame-ops (JPEG encodes during clip synthesis + sampled
    decodes). Solving the two measurements: fixed = (10*T1 - T10)/9,
    marginal = (T10 - T1)/(W10 - W1). A flat marginal (µs/frame-op
    stable across scales by construction of the linear model) plus a
    large fixed share at base explains a sub-10x wall-clock ratio
    that is NOT plan degradation.

    A THIRD scale point (5x) over-determines the two-parameter
    model: fixed/marginal are fitted from (base, x5) and the x10
    prediction error is reported — small error = the marginal cost
    really is flat, not an artifact of fitting 2 points with 2
    parameters."""
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    out_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR",
                             "/tmp/spark_graft_scale10")
    mid_dir = os.environ.get("SPARK_GRAFT_SCALE5_DIR",
                             "/tmp/spark_graft_scale5")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("bench-mjpeg-profile")
    build_scale10(spark, base_dir, out_dir)
    build_scaled(spark, base_dir, mid_dir, 5)
    from pyspark.sql import functions as F
    specs = q.all_specs()

    def frame_ops(d: str) -> int:
        # encodes (n_frames) + sampled decodes ((n_frames+1)//2),
        # restated from the face's length(text) formulas
        n = F.length("text") % 5 + 2
        return (spark.read.parquet(os.path.join(d, "documents.parquet"))
                .select((n + (n + 1) / 2).cast("long").alias("w"))
                .agg(F.sum("w")).collect()[0][0])

    out = {"metric": "mjpeg_phase_profile", "unit": "sec",
           "runs": runs}
    meas = {}
    for label, d in (("base", base_dir), ("x5", mid_dir),
                     ("x10", out_dir)):
        w = frame_ops(d)
        took = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            specs["multimodal_mjpeg_frames"].fn(spark, d).count()
            took.append(time.perf_counter() - t0)
        meas[label] = (round(min(took), 4), int(w))
        out[label] = {"sec": meas[label][0], "frame_ops": int(w)}
    t1, w1 = meas["base"]
    t5, w5 = meas["x5"]
    t10, w10 = meas["x10"]
    out["ratio"] = round(t10 / t1, 2)
    # fit fixed+marginal on (base, x5); x10 is the held-out check
    marginal = (t5 - t1) / (w5 - w1)
    fixed = t1 - marginal * w1
    out["fixed_sec"] = round(fixed, 4)
    out["fixed_share_base"] = round(fixed / t1, 3)
    out["marginal_us_per_frame_op"] = round(marginal * 1e6, 2)
    pred10 = fixed + marginal * w10
    out["x10_predicted_sec"] = round(pred10, 4)
    out["x10_prediction_err"] = round((t10 - pred10) / t10, 3)
    print(json.dumps(out))


def video_profile_main() -> None:
    """Three-scale phase profile for dedup_video_fingerprint — same
    model and graduation logic as mjpeg_profile_main. The face is
    map-only + one 8-byte-signature shuffle; per document the
    measured operator does a container walk + SIGNATURE_FRAMES
    prefix JPEG decodes + pHashes (duration-independent by design),
    and frame ENCODES are memoized per (cluster, frame) so corpus
    synthesis is amortized fixed cost, not marginal. W = document
    count x SIGNATURE_FRAMES decode-ops; fixed/marginal fit on
    (base, x5), x10 held out."""
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    out_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR",
                             "/tmp/spark_graft_scale10")
    mid_dir = os.environ.get("SPARK_GRAFT_SCALE5_DIR",
                             "/tmp/spark_graft_scale5")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("bench-video-profile")
    build_scale10(spark, base_dir, out_dir)
    build_scaled(spark, base_dir, mid_dir, 5)
    from flink_1_11_2_with_comments_spark.pipeline.video_fp import (
        SIGNATURE_FRAMES)
    specs = q.all_specs()

    def decode_ops(d: str) -> int:
        n = (spark.read.parquet(os.path.join(d, "documents.parquet"))
             .count())
        return n * SIGNATURE_FRAMES

    out = {"metric": "video_phase_profile", "unit": "sec",
           "runs": runs}
    meas = {}
    for label, d in (("base", base_dir), ("x5", mid_dir),
                     ("x10", out_dir)):
        w = decode_ops(d)
        took = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            specs["dedup_video_fingerprint"].fn(spark, d).count()
            took.append(time.perf_counter() - t0)
        meas[label] = (round(min(took), 4), int(w))
        out[label] = {"sec": meas[label][0], "decode_ops": int(w)}
    t1, w1 = meas["base"]
    t5, w5 = meas["x5"]
    t10, w10 = meas["x10"]
    out["ratio"] = round(t10 / t1, 2)
    marginal = (t5 - t1) / (w5 - w1)
    fixed = t1 - marginal * w1
    out["fixed_sec"] = round(fixed, 4)
    out["fixed_share_base"] = round(fixed / t1, 3)
    out["marginal_us_per_decode_op"] = round(marginal * 1e6, 2)
    pred10 = fixed + marginal * w10
    out["x10_predicted_sec"] = round(pred10, 4)
    out["x10_prediction_err"] = round((t10 - pred10) / t10, 3)
    print(json.dumps(out))


def flac_profile_main() -> None:
    """Three-scale phase profile for multimodal_flac_check — same
    model and graduation logic as the mjpeg/video harnesses. The
    face is map-only zero-shuffle; per document it encodes+decodes
    a closed-form clip of (length(text) % 400 + 50) samples x
    (doc_id % 2 + 1) channels, so W = total PCM samples, restated
    from the same SQL the oracle uses. fixed/marginal fit on
    (base, x5), x10 held out."""
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    out_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR",
                             "/tmp/spark_graft_scale10")
    mid_dir = os.environ.get("SPARK_GRAFT_SCALE5_DIR",
                             "/tmp/spark_graft_scale5")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("bench-flac-profile")
    build_scale10(spark, base_dir, out_dir)
    build_scaled(spark, base_dir, mid_dir, 5)
    from pyspark.sql import functions as F
    specs = q.all_specs()

    def sample_ops(d: str) -> int:
        return (spark.read.parquet(os.path.join(d, "documents.parquet"))
                .select(((F.length("text") % 400 + 50)
                         * (F.col("doc_id") % 2 + 1))
                        .cast("long").alias("w"))
                .agg(F.sum("w")).collect()[0][0])

    out = {"metric": "flac_phase_profile", "unit": "sec",
           "runs": runs}
    meas = {}
    for label, d in (("base", base_dir), ("x5", mid_dir),
                     ("x10", out_dir)):
        w = sample_ops(d)
        took = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            specs["multimodal_flac_check"].fn(spark, d).count()
            took.append(time.perf_counter() - t0)
        meas[label] = (round(min(took), 4), int(w))
        out[label] = {"sec": meas[label][0], "sample_ops": int(w)}
    t1, w1 = meas["base"]
    t5, w5 = meas["x5"]
    t10, w10 = meas["x10"]
    out["ratio"] = round(t10 / t1, 2)
    marginal = (t5 - t1) / (w5 - w1)
    fixed = t1 - marginal * w1
    out["fixed_sec"] = round(fixed, 4)
    out["fixed_share_base"] = round(fixed / t1, 3)
    out["marginal_us_per_sample"] = round(marginal * 1e6, 3)
    pred10 = fixed + marginal * w10
    out["x10_predicted_sec"] = round(pred10, 4)
    out["x10_prediction_err"] = round((t10 - pred10) / t10, 3)
    print(json.dumps(out))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    specs = q.all_specs()
    names = [n for n in HEADLINE if n in specs]
    # warm the JVM + file listing once so timings measure query execution
    specs[names[0]].fn(spark, sf_dir).count()

    # best-of-3 per query with per-query spread: the later runs measure
    # steady state (no Python-worker spinup / first-use JIT); the min is
    # the stable round-over-round figure, and (max-min)/min separates
    # real plan regressions from AQE/measurement noise when comparing
    # BENCH_r{N} files.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    median: dict[str, float] = {}
    for name in names:
        # cold-cache discipline EVERY run (same as _time_queries):
        # released only before run 1, a persist() inside the query is
        # matched by the CacheManager against the later runs'
        # canonically identical plans, so the best-of-N min measured
        # a warm-cache execution for persist-bearing queries (r14
        # verdict ask #2 — this makes persist-based plans pay their
        # full materialization cost in every timed run).
        took: list[float] = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            n = df.count()  # full materialization of the result
            took.append(time.perf_counter() - t0)
            assert n >= 0
        best = min(took)
        timings[name] = round(best, 4)
        spread[name] = round((max(took) - best) / best, 3) if best else 0.0
        # additive field (r14 verdict ask #3): the median separates
        # host-noise swings from plan changes when best-of-N is
        # contaminated — the JSON contract otherwise unchanged
        median[name] = round(statistics.median(took), 4)
    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "headline_query_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "median": median,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    if "--scale10" in sys.argv[1:]:
        scale10_main()
    elif "--kcore-profile" in sys.argv[1:]:
        kcore_profile_main()
    elif "--mjpeg-profile" in sys.argv[1:]:
        mjpeg_profile_main()
    elif "--video-profile" in sys.argv[1:]:
        video_profile_main()
    elif "--flac-profile" in sys.argv[1:]:
        flac_profile_main()
    else:
        main()
