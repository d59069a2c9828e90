"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "spread": ..., "median": ..., "sf": ...}.

``--scale10``: replicates the base tables 10x with join-consistent
key offsets (build_scaled), runs the headline set plus SCALE10_EXTRA
at BOTH scales in one session, and prints a scale-ratio JSON line
instead (SCALE_r{N}.json). A ratio near 1x means the query is
overhead-bound at the base scale; near 10x means per-row cost
dominates; above ~10x means the plan degrades superlinearly.

``--profile NAME [NAME ...]``: times each named registry query at 1x,
5x and 10x and fits fixed + marginal cost per query (_fit).

Every mode times through _time_queries; SPARK_GRAFT_BENCH_RUNS sets
best-of-N (default 3). The replicated tables are written once to
$SPARK_GRAFT_SCALE5_DIR / $SPARK_GRAFT_SCALE10_DIR (default
/tmp/spark_graft_scale{5,10}) and reused while they exist.
"""

from __future__ import annotations

import argparse
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

# Extra queries measured only by --scale10: linearity evidence for
# faces added after round 1, kept out of HEADLINE so the headline
# total stays comparable round-over-round against BENCH_r01. Faces
# over a bounded subset (doc_id<600, user_id<=50) are scale-constant
# by construction and stay out.
SCALE10_EXTRA = [
    # round 5-7: pipeline faces, PCA Gram pass, BM25, JL projection,
    # windowed SCD2 build
    "corpus_bpe_pair_counts", "dedup_semdedup",
    "dedup_exact_substring_spans", "embedding_standardize",
    "embedding_pca_covariance", "corpus_bm25_topterms",
    "embedding_random_projection", "scd2_dimension_build",
    "events_zorder_stats",
    # round 8: CDC round trips, broadcast DSIR scorer, deterministic
    # sketches (sketch size is scale-independent: ratios track the scan)
    "cdc_debezium_materialize", "cdc_canal_materialize",
    "corpus_dsir_score_broadcast", "events_hll_distinct",
    "events_kmv_distinct_union", "events_countmin_point",
    "tpcds_rollup_rank_within_parent",
    "tpcds_supplier_latency_matrix",
    # round 9: the heaviest TPC-DS shapes (q31, q64, q72), classifier
    # training, GK/CMS faces and the data-proportional dashboards
    "tpcds_dual_correlated_spend", "tpcds_net_after_returns",
    "tpcds_channel_pair_ratio",
    "tpcds_consecutive_share_growth", "tpcds_item_chain_resale",
    "tpcds_demand_coverage_window",
    "corpus_quality_classifier_fit", "events_cms_topk",
    "events_gk_quantile_bounds",
    "scd2_state_bootstrap_roundtrip", "corpus_zipf_slope",
    "events_hourly_to_daily_rollup", "corpus_dedup_rate_by_source",
    "events_funnel_conversion", "embedding_qc_outliers",
    "fn_stats_bivariate",
    # round 10-11: rollups, codec faces (map-only Python, zero
    # shuffle), NULL-key census, bloom prefilter, clustering coefficient
    "events_kmv_intersection", "events_hll_trailing_distinct",
    "basket_brand_lift", "graph_k_core",
    "tpcds_top_states_profit_rollup", "tpcds_demo_avg_rollup",
    "tpcds_three_channel_item_total", "multimodal_roundtrip_check",
    "multimodal_transform_check", "tpcds_aligned_week_returns",
    "corpus_domain_quota",
    "multimodal_pixel_check", "multimodal_gif_check",
    "tpcds_null_key_census", "corpus_bloom_dedup_prefilter",
    "graph_clustering_coefficient",
    # round 13-14: DataStream.iterate faces (ratios track per-batch row
    # work, not loop depth), codec closed loops, pHash/audio/video dedup
    "streaming_iterate_halving",
    "multimodal_jpeg_check", "multimodal_mjpeg_frames",
    "streaming_iterate_chain_walk", "dedup_image_phash",
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


def _release_persisted(spark) -> None:
    """Cold-cache discipline between measured queries: clearCache()
    drops catalog-cached relations but NOT localCheckpoint storage
    (checkpointed RDDs are persisted outside the catalog). The driver
    loops (operators/graph._Loop: graph loops, PCA, the classifier
    fit) release their own rounds and caches and leave only their
    checkpointed result pinned; other checkpointing stages (BPE
    merges, streaming-batch faces) still leave theirs. Across 70+
    queries x 2 scales x 3 runs those results would accumulate into
    GC pressure that inflates later queries at 10x data. Unpersisting
    is safe here because the previous query's DataFrames are dead —
    a localCheckpointed frame must never be unpersisted while still
    referenced (its lineage is truncated, so recompute is
    impossible)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def _time_queries(spark, specs, names, sf_dir,
                  runs) -> dict[str, list[float]]:
    """The one timed loop: {name: [seconds per run]}, each run the
    wall time of building the query and count()ing its full result.

    EVERY run times against a cold cache, checkpoint storage included
    (_release_persisted): released only before run 1, a persist()
    inside the query would be matched by the CacheManager against
    run 2/3's canonically identical plan, so the best-of-N min would
    measure a warm-cache execution for persist-bearing queries."""
    timings: dict[str, list[float]] = {}
    for name in names:
        took: list[float] = []
        for _ in range(runs):
            _release_persisted(spark)
            t0 = time.perf_counter()
            n = specs[name].fn(spark, sf_dir).count()
            took.append(time.perf_counter() - t0)
            assert n >= 0
        timings[name] = took
    return timings


def _best(timings: dict[str, list[float]]) -> dict[str, float]:
    return {n: round(min(took), 4) for n, took in timings.items()}


def _fit(t1: float, t5: float, t10: float) -> dict[str, float]:
    """Fit T(f) = fixed + marginal*f on the 1x and 5x timings; 10x is
    held out. f is the replication factor, so marginal is seconds per
    1x of base data: build_scaled copies every row f times, so any
    per-row work count (frames, decodes, samples) at f x is exactly f
    times its base value. A small held-out error means the marginal
    cost really is flat, not an artifact of fitting 2 points with 2
    parameters; a large fixed share at 1x explains a sub-10x ratio
    that is NOT plan degradation."""
    marginal = (t5 - t1) / 4
    fixed = t1 - marginal
    pred10 = fixed + 10 * marginal
    return {"fixed_sec": round(fixed, 4),
            "fixed_share_base": round(fixed / t1, 3),
            "marginal_sec_per_x": round(marginal, 4),
            "x10_predicted_sec": round(pred10, 4),
            "x10_prediction_err": round((t10 - pred10) / t10, 3)}


def _sf(sf_dir: str) -> float | str:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def _setup(app: str, names: list[str]):
    """Session, registry, base dir and run count; warms the JVM and
    file listing with one untimed run of the first query."""
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark(app)
    specs = q.all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"not registry queries: {unknown}")
    specs[names[0]].fn(spark, base_dir).count()
    return spark, specs, base_dir, runs


def _scaled_dir(spark, base_dir: str, factor: int) -> str:
    out_dir = os.environ.get(f"SPARK_GRAFT_SCALE{factor}_DIR",
                             f"/tmp/spark_graft_scale{factor}")
    build_scaled(spark, base_dir, out_dir, factor)
    return out_dir


def scale10_main() -> None:
    names = HEADLINE + SCALE10_EXTRA
    spark, specs, base_dir, runs = _setup("bench-scale10", names)
    out_dir = _scaled_dir(spark, base_dir, 10)
    base = _best(_time_queries(spark, specs, names, base_dir, runs))
    x10 = _best(_time_queries(spark, specs, names, out_dir, runs))
    ratio = {n: (round(x10[n] / base[n], 2) if base[n] else None)
             for n in names}
    print(json.dumps({
        "metric": "scale10_ratio",
        "base_total": round(sum(base.values()), 4),
        "x10_total": round(sum(x10.values()), 4),
        "total_ratio": round(sum(x10.values()) / sum(base.values()), 2),
        "base": base, "x10": x10, "ratio": ratio,
        "unit": "sec",
        "sf": _sf(base_dir),
    }))


def profile_main(names: list[str]) -> None:
    """Three-scale profile of the named queries: best-of-N at 1x, 5x
    and 10x, and the fixed-plus-marginal fit of each (_fit)."""
    spark, specs, base_dir, runs = _setup("bench-profile", names)
    dirs = {"base": base_dir, "x5": _scaled_dir(spark, base_dir, 5),
            "x10": _scaled_dir(spark, base_dir, 10)}
    best = {label: _best(_time_queries(spark, specs, names, d, runs))
            for label, d in dirs.items()}
    out = {}
    for n in names:
        t1, t5, t10 = (best[label][n] for label in dirs)
        out[n] = {"base": t1, "x5": t5, "x10": t10,
                  "ratio": round(t10 / t1, 2), **_fit(t1, t5, t10)}
    print(json.dumps({"metric": "scale_profile", "unit": "sec",
                      "runs": runs, "sf": _sf(base_dir),
                      "queries": out}))


def main() -> None:
    spark, specs, sf_dir, runs = _setup("bench", HEADLINE)
    # best-of-N per query with per-query spread: the later runs measure
    # steady state (no Python-worker spinup / first-use JIT); the min is
    # the stable round-over-round figure, (max-min)/min separates real
    # plan regressions from AQE/measurement noise, and the median
    # separates host-noise swings from plan changes when best-of-N is
    # contaminated.
    took = _time_queries(spark, specs, HEADLINE, sf_dir, runs)
    timings = _best(took)
    spread = {n: round((max(t) - min(t)) / min(t), 3) if min(t) else 0.0
              for n, t in took.items()}
    median = {n: round(statistics.median(t), 4) for n, t in took.items()}
    print(json.dumps({
        "metric": "headline_query_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "median": median,
        "sf": _sf(sf_dir),
    }))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--scale10", action="store_true",
                      help="headline + SCALE10_EXTRA at base and 10x")
    mode.add_argument("--profile", nargs="+", metavar="NAME",
                      help="fixed/marginal fit of NAME... at 1x, 5x, 10x")
    args = ap.parse_args()
    if args.scale10:
        scale10_main()
    elif args.profile:
        profile_main(args.profile)
    else:
        main()
