"""Pipeline-operator behavior tests beyond the value-level oracle:
LSH recall against brute force, the multimodal codec stub contract,
and the exact-dedup idempotence property."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_1_11_2_with_comments_spark.catalog import load_table
from flink_1_11_2_with_comments_spark.pipeline.dedup import (
    exact_dedup, lsh_bucket_pairs, minhash_lsh_bands)
from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
    decode_image, extract_features, synthesize_media)
from flink_1_11_2_with_comments_spark.pipeline.similarity import (
    cosine_pairs, lsh_buckets)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_minhash_lsh_recall(spark, documents):
    """LSH candidates must cover true near-duplicate pairs with far
    fewer than all-pairs comparisons. 16 hashes / 2 bands of 8:
    P(candidate) = 1-(1-j^8)^2 → 3% at the corpus median j=0.6, 88%
    at j=0.95, 100% at j=1.0 — so candidates stay sparse and misses
    of >=0.95 truth stay under the banding-math bound (~12%)."""
    d = documents.where(F.col("doc_id") < 250)
    bands = minhash_lsh_bands(d, "doc_id", "text", num_hashes=16,
                              rows_per_band=8, shingle_n=1)
    cand = lsh_bucket_pairs(bands, "doc_id")
    n_cand = cand.count()
    n_docs = d.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    # LSH must prune the pair space massively
    assert 0 < n_cand < all_pairs * 0.2

    # exhaustive truth: unigram jaccard >= 0.95 pairs
    from flink_1_11_2_with_comments_spark.pipeline.dedup import jaccard_pairs
    ids = d.select("doc_id")
    pairs = (ids.select(F.col("doc_id").alias("a_id"))
             .join(ids.select(F.col("doc_id").alias("b_id")),
                   F.col("a_id") < F.col("b_id")))
    truth = (jaccard_pairs(d, pairs, "doc_id", "text", shingle_n=1)
             .where(F.col("jaccard") >= 0.95)
             .select("a_id", "b_id"))
    missed = truth.subtract(cand.select("a_id", "b_id")).count()
    n_truth = truth.count()
    assert n_truth > 0, "corpus should contain >=0.95 near-dups"
    assert missed <= max(1, int(n_truth * 0.3)), f"LSH missed {missed}/{n_truth}"


def test_bucketed_cosine_dedup_subset_and_recall(spark, embeddings):
    """cosine_dedup_bucketed ⊆ cosine_pairs (exact all-pairs truth) with
    identical scores on shared pairs, and non-trivial recall — the
    correctness contract of trading n² pairing for bucket-local
    pairing."""
    from flink_1_11_2_with_comments_spark.pipeline.similarity import (
        cosine_dedup_bucketed)
    bucketed = cosine_dedup_bucketed(embeddings, "vec_id", "embedding",
                                     threshold=0.3, n_planes=8, n_tables=4)
    exact = cosine_pairs(embeddings, "vec_id", "embedding", threshold=0.3)
    b_rows = {(r.a_id, r.b_id): r.cosine for r in bucketed.collect()}
    e_rows = {(r.a_id, r.b_id): r.cosine for r in exact.collect()}
    assert b_rows, "bucketed dedup found no pairs at this corpus size"
    extra = set(b_rows) - set(e_rows)
    assert not extra, f"bucketed emitted pairs absent from truth: {extra}"
    for k, v in b_rows.items():
        assert v == e_rows[k]
    # this corpus's near-dup band is LOW similarity (max pair cosine
    # < 0.6), where hyperplane-LSH collision probability is inherently
    # small — 4 tables × 8 planes lands ~5-10% here but >85% at a
    # production dedup threshold of 0.95 (p=0.9^8, OR over 4 tables).
    # The floor pins the OR-construction multiplier over 1 table (~2%).
    assert len(b_rows) >= len(e_rows) * 0.04, (len(b_rows), len(e_rows))
    single = cosine_dedup_bucketed(embeddings, "vec_id", "embedding",
                                   threshold=0.3, n_planes=8, n_tables=1)
    assert len(b_rows) > single.count(), "OR-construction must add recall"


def test_ann_lsh_bucket_quality(spark, embeddings):
    """Hyperplane buckets: same-bucket pairs must be more similar on
    average than random pairs (the property that makes bucketed ANN
    work), and bucketing must produce many distinct buckets."""
    b = lsh_buckets(embeddings, "vec_id", "embedding", n_planes=16)
    n_buckets = b.select("bucket").distinct().count()
    assert n_buckets > 50  # 500 vectors over 2^16 keys: spread out

    joined = embeddings.join(b, "vec_id")
    a = joined.select(F.col("vec_id").alias("a_id"),
                      F.col("embedding").alias("va"),
                      F.col("bucket").alias("bka"))
    c = joined.select(F.col("vec_id").alias("b_id"),
                      F.col("embedding").alias("vb"),
                      F.col("bucket").alias("bkb"))
    same = (a.join(c, (F.col("a_id") < F.col("b_id"))
                   & (F.col("bka") == F.col("bkb"))))
    if same.count() == 0:
        pytest.skip("no bucket collisions at this corpus size")
    from flink_1_11_2_with_comments_spark.pipeline.similarity import _dots
    same_cos = (_dots(same.select("a_id", "b_id", "va", "vb"), "va", "vb")
                .agg(F.avg("cosine")).collect()[0][0])
    rand_cos = (_dots(a.join(c, F.col("a_id") + 37 == F.col("b_id"))
                      .select("a_id", "b_id", "va", "vb"), "va", "vb")
                .agg(F.avg("cosine")).collect()[0][0])
    assert same_cos > rand_cos


def test_exact_dedup_idempotent(spark, documents):
    """Deduping the kept set again removes nothing."""
    first = exact_dedup(documents, "text", "doc_id")
    kept_ids = first.select(F.col("keep_id").alias("doc_id"))
    kept_docs = documents.join(kept_ids, "doc_id", "left_semi")
    second = exact_dedup(kept_docs, "text", "doc_id")
    assert second.count() == first.count()
    assert second.agg(F.max("n_copies")).collect()[0][0] == 1


def test_containment_catches_partial_copy_jaccard_misses(spark):
    """The metric-level contract of containment_pairs: a short doc
    fully embedded in a long one has containment exactly 1.0 while
    Jaccard ≈ |A|/|B| stays far below any dedup threshold — the
    partial-copy case (boilerplate-inside-page) that motivates the
    asymmetric metric. Disjoint docs produce no pair at all."""
    from flink_1_11_2_with_comments_spark.pipeline.dedup import (
        containment_pairs, jaccard_pairs)
    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], "id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a_id long, b_id long")
    cont = {(r.a_id, r.b_id): r.containment
            for r in containment_pairs(docs, pairs, "id", "text",
                                       shingle_n=2).collect()}
    jac = {(r.a_id, r.b_id): r.jaccard
           for r in jaccard_pairs(docs, pairs, "id", "text",
                                  shingle_n=2).collect()}
    assert cont[(1, 2)] == 1.0          # embedded: all 3 bigrams shared
    assert jac[(1, 2)] < 0.1            # 3 / (3 + 44 - 3)
    assert (1, 3) not in cont and (2, 3) not in cont  # no shared shingle
    assert (1, 3) not in jac and (2, 3) not in jac


def test_multimodal_stub_contract(spark, documents):
    """The codec stub must raise NotImplementedError (no silent fake
    data on the real path), while the fake decoder path works and is
    deterministic."""
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff")

    media = synthesize_media(documents.where(F.col("doc_id") < 20))
    f1 = extract_features(media, fake_decode=True).orderBy("doc_id").collect()
    f2 = extract_features(media, fake_decode=True).orderBy("doc_id").collect()
    assert f1 == f2
    assert all(r.n_bytes > 0 for r in f1)

    # real-decode path propagates the stub error through the executor
    import py4j.protocol
    from pyspark.errors import PythonException
    with pytest.raises((PythonException, py4j.protocol.Py4JJavaError)):
        extract_features(media, fake_decode=False).collect()


def test_map_rows_emits_zero_one_or_many_rows(spark):
    """map_rows calls fn once per input row and emits the dicts it
    returns: [] drops the row, two dicts give two rows, and a
    partition with no rows yields a well-formed empty batch with the
    schema's columns."""
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        map_rows)

    schema = "doc_id bigint, part int, media binary"
    # 3 rows over 4 partitions: at least one partition is empty
    src = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "bc")], "doc_id bigint, text string"
    ).repartition(4)

    def row(doc_id, text):
        return [{"doc_id": doc_id, "part": i, "media": c.encode()}
                for i, c in enumerate(text)]

    out = map_rows(src, ["doc_id", "text"], row, schema)
    assert out.columns == ["doc_id", "part", "media"]
    got = sorted((r.doc_id, r.part, bytes(r.media)) for r in out.collect())
    assert got == [(1, 0, b"a"), (3, 0, b"b"), (3, 1, b"c")]

    none = map_rows(src, ["doc_id", "text"], lambda *_: [], schema)
    assert none.collect() == []
    assert none.schema.simpleString() == \
        "struct<doc_id:bigint,part:int,media:binary>"


def test_png_header_parser_on_genuine_png(spark):
    """parse_png_header must decode a REAL PNG built independently with
    struct.pack + zlib CRC (not via synthesize_png) — proving the
    parser reads the standard's byte layout, not a private format."""
    import struct
    import zlib
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        parse_png_header)

    def real_png(w, h, payload):
        ihdr = struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 0])
        crc = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        return (bytes.fromhex("89504E470D0A1A0A")
                + struct.pack(">I", 13) + b"IHDR" + ihdr + crc + payload)

    rows = [(1, real_png(640, 480, b"x" * 10)),
            (2, real_png(19, 7, b"")),
            (3, b"NOTAPNG" + bytes(30))]
    df = spark.createDataFrame(rows, "doc_id bigint, media binary")
    got = {r.doc_id: r for r in parse_png_header(df).collect()}
    assert got[1].magic_ok and got[1].ihdr_ok
    assert (got[1].width, got[1].height) == (640, 480)
    assert (got[1].bit_depth, got[1].color_type) == (8, 6)
    assert got[1].payload_bytes == 10
    assert (got[2].width, got[2].height, got[2].payload_bytes) == (19, 7, 0)
    assert not got[3].magic_ok and not got[3].ihdr_ok


def test_ivf_recall_vs_bruteforce(spark):
    """IVF (16 cells, probe 4) must recover a solid fraction of the
    exact top-10 — and exactly match brute force restricted to the
    probed cells."""
    from flink_1_11_2_with_comments_spark.pipeline.ivf import (
        ivf_assign, ivf_topk)
    from flink_1_11_2_with_comments_spark.pipeline.similarity import (
        cosine_topk)
    e = load_table(spark, SF, "embeddings")
    exact = [r.vec_id for r in
             cosine_topk(e, "vec_id", "embedding", query_id=0, k=10)
             .collect()]
    approx = [r.vec_id for r in
              ivf_topk(e, "vec_id", "embedding", query_id=0,
                       n_cells=16, n_probe=4, k=10).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 3, (exact, approx, overlap)
    # sanity: every IVF result vector is assigned to a probed cell
    assign = {r.vec_id: r.cell
              for r in ivf_assign(e, "vec_id", "embedding", 16).collect()}
    assert all(v in assign for v in approx)


def test_lloyd_refinement_tightens_clusters(spark):
    """One k-means iteration must not worsen (and here strictly
    improves) the mean squared distance to the assigned centroid —
    the defining property of Lloyd's algorithm."""
    import pyspark.sql.functions as F
    from flink_1_11_2_with_comments_spark.pipeline.ivf import (
        ivf_centroids, lloyd_centroids, _with_sq_norm)
    from flink_1_11_2_with_comments_spark.pipeline.similarity import (
        dot_product)
    from flink_1_11_2_with_comments_spark.queries._util import t

    e = t(spark, SF, "embeddings")

    def mean_dist2(cents):
        ev = _with_sq_norm(e, "vec_id", "embedding")
        d = (ev.crossJoin(F.broadcast(cents))
             .select("vec_id",
                     (F.col("n2") + F.col("cn2")
                      - 2 * dot_product(F.col("embedding"), F.col("cvec"))
                      .cast("double")).alias("dist2"))
             .groupBy("vec_id").agg(F.min("dist2").alias("d")))
        return d.agg(F.avg("d")).collect()[0][0]

    seed = mean_dist2(ivf_centroids(e, "vec_id", "embedding", 16))
    refined = mean_dist2(lloyd_centroids(e, "vec_id", "embedding", 16))
    assert refined < seed, (refined, seed)


def test_approx_sketches_bounded_error(spark):
    """approx_count_distinct (HLL++, rsd=1%) and percentile_approx
    must land within 2% of the exact answers — the constant-memory
    scale path for 100 TB distinct counts and quantiles."""
    import pyspark.sql.functions as F
    from flink_1_11_2_with_comments_spark.queries import all_specs
    from flink_1_11_2_with_comments_spark.queries._util import t

    got = {r.o_orderpriority: r for r in
           all_specs()["approx_sketches"].fn(spark, SF).collect()}
    exact = {r.o_orderpriority: r for r in
             (t(spark, SF, "orders").groupBy("o_orderpriority")
              .agg(F.countDistinct("o_custkey").alias("n"),
                   F.expr("percentile(o_totalprice, 0.5)").alias("med"))
              .collect())}
    assert set(got) == set(exact) and len(got) > 0
    for k, e in exact.items():
        assert abs(got[k].approx_custs - e.n) <= max(2, e.n * 0.02), k
        assert abs(got[k].approx_median - e.med) <= abs(e.med) * 0.02, k


def test_freq_items_sketch_superset(spark):
    """Karp one-pass frequent-items (df.stat.freqItems) must return a
    SUPERSET of the true heavy hitters (the sketch guarantee: no
    false negatives above the support threshold) — the constant-
    memory 100 TB pre-filter; exact recount confirms the survivors."""
    import pyspark.sql.functions as F
    from flink_1_11_2_with_comments_spark.queries._util import t
    e = t(spark, SF, "events")
    total = e.count()
    # same 1/200 threshold as the registered heavy_hitters query, with
    # the matching freqItems support (support must be <= the target
    # frequency for the no-false-negative guarantee to apply)
    exact = {r.user_id for r in
             (e.groupBy("user_id").agg(F.count("*").alias("n"))
              .where(F.col("n") * 200 > total).collect())}
    sketch = set(e.stat.freqItems(["user_id"], 0.005)
                 .collect()[0][0])
    assert exact and exact <= sketch


def test_corpus_sampling_properties(spark):
    """Sampling for training subsets: Bernoulli fraction lands within
    binomial bounds; the md5 hash-bucket split is exact, deterministic
    and engine-replayable (DuckDB recomputes the same membership)."""
    import duckdb
    import pyspark.sql.functions as F
    from flink_1_11_2_with_comments_spark.pipeline.dedup import (
        md5_int_expr)
    from flink_1_11_2_with_comments_spark.queries.pipeline_ops import MD5I
    from flink_1_11_2_with_comments_spark.queries._util import t

    d = t(spark, SF, "documents")
    n = d.count()
    n_bern = d.sample(fraction=0.1, seed=42).count()
    assert 0.05 * n < n_bern < 0.15 * n  # ±5σ-ish at n=5000

    got = {r.doc_id for r in d.where(
        (md5_int_expr(F.col("doc_id").cast("string")) % 100) < 10)
        .collect()}
    exp = {r[0] for r in duckdb.sql(
        f"""SELECT doc_id FROM '{SF}/documents.parquet'
            WHERE {MD5I.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 10"""
    ).fetchall()}
    assert got == exp and len(got) > 0


def test_wav_codec_round_trip_and_genuine_wav(spark):
    """synthesize_wav must emit containers the Python stdlib `wave`
    module accepts (independent spec check), and parse_wav_header must
    decode a REAL WAV built independently with the wave module — both
    directions prove the standard's byte layout, not a private one."""
    import io
    import wave as wavmod
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        parse_wav_header, synthesize_wav)

    docs = spark.createDataFrame(
        [(1, "hello world", 11), (2, "x" * 30, 30)],
        "doc_id bigint, text string, n_chars bigint")
    for r in synthesize_wav(docs).collect():
        w = wavmod.open(io.BytesIO(bytes(r.media)))
        assert w.getsampwidth() == 2
        assert w.getnchannels() in (1, 2)

    def real_wav(rate, channels, payload):
        buf = io.BytesIO()
        w = wavmod.open(buf, "wb")
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(payload)
        w.close()
        return buf.getvalue()

    rows = [(1, real_wav(44100, 2, b"\x00\x01" * 8)),
            (2, real_wav(8000, 1, b"")),
            (3, b"NOTAWAVE" + bytes(40))]
    df = spark.createDataFrame(rows, "doc_id bigint, media binary")
    got = {r.doc_id: r for r in parse_wav_header(df).collect()}
    assert got[1].magic_ok and got[1].fmt_ok
    assert (got[1].channels, got[1].sample_rate) == (2, 44100)
    assert (got[1].byte_rate, got[1].bits_per_sample) == (44100 * 4, 16)
    assert got[1].data_bytes == 16
    assert (got[2].channels, got[2].sample_rate, got[2].data_bytes) \
        == (1, 8000, 0)
    assert not got[3].magic_ok


def test_mp4_box_walk_on_genuine_layout(spark):
    """parse_mp4_boxes must walk a REAL ISO-BMFF layout built
    independently with struct.pack — including a non-synthesized ftyp
    size (extra compatible brands), proving the data-dependent
    second-box offset really follows the size field."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"mp42" + struct.pack(">I", 0)
               + b"mp42isomavc1")     # 28-byte ftyp, brand mp42
    mdat = box(b"mdat", b"framedata" * 3)
    free = box(b"free", b"")
    rows = [(1, ftyp + mdat), (2, ftyp + free), (3, b"\x00" * 16)]
    df = spark.createDataFrame(rows, "doc_id bigint, media binary")
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        parse_mp4_boxes)
    got = {r.doc_id: r for r in parse_mp4_boxes(df).collect()}
    assert got[1].ftyp_ok and got[1].major_brand == "mp42"
    assert got[1].ftyp_bytes == 28
    assert got[1].box2_type == "mdat" and got[1].payload_bytes == 27
    assert got[2].box2_type == "free" and got[2].box2_bytes == 8
    assert not got[3].ftyp_ok


def test_ngrams_shingles_short_documents(spark):
    """Documents shorter than n tokens yield EMPTY n-gram/shingle
    lists instead of crashing: F.sequence(1, 0) is the DESCENDING
    [1, 0] in Spark, which unguarded would index out of bounds
    (regression: single-word documents aborted text_repetition_ngrams
    and corpus_bigram_logprob)."""
    import pyspark.sql.functions as F
    from flink_1_11_2_with_comments_spark.pipeline.dedup import shingles
    from flink_1_11_2_with_comments_spark.pipeline.text import (
        ngrams, repetition_features, token_entropy)
    df = spark.createDataFrame(
        [(1, "hello"), (2, "a b"), (3, "x y z w")],
        "doc_id bigint, text string")
    rows = {r.doc_id: r for r in df.select(
        "doc_id",
        F.size(ngrams("text", 2)).alias("n2"),
        F.size(ngrams("text", 3)).alias("n3"),
        F.size(shingles("text", 3)).alias("sh3"),
        token_entropy("text").alias("ent")).collect()}
    assert (rows[1].n2, rows[1].n3, rows[1].sh3) == (0, 0, 0)
    assert (rows[2].n2, rows[2].n3) == (1, 0)
    assert (rows[3].n2, rows[3].n3, rows[3].sh3) == (3, 2, 2)
    assert rows[1].ent == 0.0  # single token: -1*ln(1) = 0
    feats = repetition_features("text")
    out = df.select(*[v.alias(k) for k, v in feats.items()]).collect()
    assert all(r.dup_2gram_ratio == 0.0 for r in out)


def test_pq_adc_recall_vs_exact(spark):
    """PQ-ADC top-10 must overlap the exact squared-L2 top-10
    substantially (4x16 blocks, 8 codes — coarse, but the neighbours
    live in nearby cells), and the encode stage must assign every
    codebook seed to its own code (distance 0 to itself)."""
    import pyspark.sql.functions as F
    from flink_1_11_2_with_comments_spark.pipeline.pq import (
        pq_adc_topk, pq_encode)
    from flink_1_11_2_with_comments_spark.pipeline.similarity import (
        dot_product)
    from flink_1_11_2_with_comments_spark.queries._util import t
    # sf0.01 (not the module SF): PQ recall needs the 2000-vector
    # corpus — at sf0.001's 200 vectors the top-30 is most of the set
    e = t(spark, "/root/testdata/sf0.01", "embeddings")
    enc = {r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
           for r in pq_encode(e, "vec_id", "embedding")
           .where(F.col("vec_id") < 8).collect()}
    assert enc == {i: (i, i, i, i) for i in range(8)}
    approx = [r.vec_id for r in
              pq_adc_topk(e, "vec_id", "embedding", query_id=0).collect()]
    q = (e.where(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv")))
    v = F.col("embedding")
    exact = [r.vec_id for r in
             (e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
              .select("vec_id",
                      (dot_product(v, v) + dot_product(F.col("qv"),
                                                       F.col("qv"))
                       - 2 * dot_product(v, F.col("qv")))
                      .cast("double").alias("d2"))
              .orderBy("d2", "vec_id").limit(30).collect())]
    overlap = len(set(approx) & set(exact))
    assert overlap >= 3, (approx, exact[:10], overlap)


def test_winsorize_approx_close_to_exact(spark):
    """The approx_percentile scale path of winsorization must land
    within sketch tolerance of the exact PERCENT_RANK form: with
    accuracy=10000 and sf0.01-sized groups the GK sketch's rank error
    is < 1/10000, so bounds (and therefore clip counts/sums) should
    be near-identical. Pinned loosely enough to survive data growth:
    clip-count drift ≤ 2% of group size, sum drift ≤ 0.1% relative."""
    from flink_1_11_2_with_comments_spark.queries import all_specs
    specs = all_specs()
    exact = {r["event_type"]: r for r in
             specs["events_winsorize"].fn(spark, SF).collect()}
    approx = {r["event_type"]: r for r in
              specs["events_winsorize_approx"].fn(spark, SF).collect()}
    assert set(exact) == set(approx) and exact
    for et, ex in exact.items():
        ap = approx[et]
        assert ap["n"] == ex["n"]
        assert abs(ap["n_clipped"] - ex["n_clipped"]) <= 0.02 * ex["n"], et
        denom = abs(float(ex["clipped_sum"])) or 1.0
        rel = abs(float(ap["clipped_sum"]) - float(ex["clipped_sum"])) / denom
        assert rel <= 1e-3, (et, rel)


def test_exact_substring_dedup_postcondition(spark):
    """ExactSubstr postcondition: after span removal, NO 8-token
    window appears verbatim in two distinct cleaned documents (the
    property the Lee-et-al. step guarantees), and only documents
    sharing a duplicated gram lost tokens."""
    from pyspark.sql import functions as F
    from flink_1_11_2_with_comments_spark.queries import all_specs
    out = all_specs()["dedup_exact_substring_spans"].fn(spark, SF) \
        .cache()
    assert out.where(F.col("n_removed") > 0).count() > 0
    assert out.where(F.col("n_removed") > F.col("n_tokens")).count() == 0
    toks = F.split("cleaned_text", " ")
    grams = (out.where(F.size(toks) >= 8)
             .select("doc_id",
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.size(toks) - 7),
                         lambda i: F.concat_ws(
                             " ", F.slice(toks, i, 8)))).alias("g")))
    survivors = (grams.groupBy("g")
                 .agg(F.countDistinct("doc_id").alias("nd"))
                 .where(F.col("nd") >= 2))
    assert survivors.count() == 0, survivors.take(3)
    out.unpersist()


def test_bpe_merges_match_reference(spark, documents):
    """bpe_learn's 8 distributed merge rounds must replay a plain
    single-process BPE reference exactly: same pair chosen each
    round (max weighted count, ties lexicographic on (left, right))
    and same count — pinning both the pair statistics and the
    greedy left-to-right merge fold."""
    from collections import Counter

    from flink_1_11_2_with_comments_spark.pipeline.bpe import bpe_learn

    rows = documents.select("text").collect()
    vocab = Counter()
    for r in rows:
        for w in r.text.split(" "):
            if w:
                vocab[w] += 1
    syms = {w: list(w) for w in vocab}

    def merge_word(s, l, r):
        out, prev = [], None
        for x in s:
            if prev is not None and prev == l and x == r:
                out.append(l + r)
                prev = None
            else:
                if prev is not None:
                    out.append(prev)
                prev = x
        if prev is not None:
            out.append(prev)
        return out

    expected = []
    for rank in range(1, 9):
        pc = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += vocab[w]
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, l + r, c))
        syms = {w: merge_word(s, l, r) for w, s in syms.items()}

    got = [(x.merge_rank, x.pair, x.pair_count)
           for x in bpe_learn(documents, "text", n_merges=8)
           .orderBy("merge_rank").collect()]
    assert got == expected


def test_semdedup_keeps_canonical_and_cluster_local(spark, embeddings):
    """SemDeDup postconditions: every vector appears exactly once;
    the lowest vec_id of every cell is never flagged (it has no
    lower-id cluster-mate); every flagged vector really has a
    same-cell lower-id mate at cosine >= threshold (flag consistent
    with the reported best cosine)."""
    from flink_1_11_2_with_comments_spark.pipeline.ivf import (
        semdedup_flags)

    out = semdedup_flags(embeddings, "vec_id", "embedding",
                         n_cells=16, threshold=0.35).collect()
    assert len(out) == embeddings.count()
    assert len({r.vec_id for r in out}) == len(out)
    low = {}
    for r in out:
        low[r.cell] = min(low.get(r.cell, r.vec_id), r.vec_id)
    for r in out:
        if r.vec_id == low[r.cell]:
            assert r.best_lower_cosine is None and not r.is_dup
        assert r.is_dup == (r.best_lower_cosine is not None
                            and r.best_lower_cosine >= 0.35)
    assert any(r.is_dup for r in out)          # threshold bites
    assert not all(r.is_dup for r in out if r.best_lower_cosine)


def test_gopher_rules_map_only_plan(spark, documents):
    """The Gopher filter must stay a single map-only projection:
    no Exchange anywhere in the physical plan (the top-token share
    is a sorted-run fold, not a per-document groupBy)."""
    from flink_1_11_2_with_comments_spark.pipeline.text import (
        gopher_rules)

    g = gopher_rules("text")
    df = documents.select("doc_id",
                          *[v.alias(k) for k, v in g.items()])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    keeps = [r.keep for r in df.collect()]
    assert any(keeps) and not all(keeps)       # rules discriminate


def test_bpe_encode_matches_reference(spark, documents):
    """bpe_encode's per-document BPE token counts must equal the
    single-process reference: learn 8 merges, apply them in rank
    order (greedy left-to-right) to every word of every document.
    Also pins that the corpus pass itself has no Exchange after the
    broadcast of the 1-row merge table (map-only encode)."""
    from collections import Counter

    from flink_1_11_2_with_comments_spark.pipeline.bpe import bpe_encode

    rows = documents.select("doc_id", "text").collect()
    vocab = Counter()
    for r in rows:
        for w in r.text.split(" "):
            if w:
                vocab[w] += 1
    syms = {w: list(w) for w in vocab}

    def merge_word(s, l, r):
        out, prev = [], None
        for x in s:
            if prev is not None and prev == l and x == r:
                out.append(l + r)
                prev = None
            else:
                if prev is not None:
                    out.append(prev)
                prev = x
        if prev is not None:
            out.append(prev)
        return out

    merges = []
    for _ in range(8):
        pc = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += vocab[w]
        (l, r), _c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r))
        syms = {w: merge_word(s, l, r) for w, s in syms.items()}

    def encode_len(w):
        s = list(w)
        for l, r in merges:
            s = merge_word(s, l, r)
        return len(s)

    expected = {r.doc_id: sum(encode_len(w) for w in r.text.split(" ") if w)
                for r in rows}
    out = bpe_encode(documents, "text", n_merges=8)
    got = {r.doc_id: r.n_bpe_tokens for r in out.collect()}
    assert got == expected
    assert all(r.compression > 1.0 for r in out.collect())


def test_png_pixel_decode_roundtrip(spark, documents):
    """REAL pixel decode: corpus-wide synthesize (valid zlib IDAT)
    -> decode must reproduce every image's dimensions, channel means
    and exact pixel md5 as computed by the local reference."""
    import hashlib

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        decode_png_pixels, deterministic_pixels, synthesize_png_pixels)

    d = documents.where(F.col("doc_id") < 100)
    out = {r.doc_id: r for r in
           decode_png_pixels(synthesize_png_pixels(d)).collect()}
    for row in d.select("doc_id", "text").collect():
        w, h = len(row.text) % 16 + 1, len(row.text) % 12 + 1
        px = deterministic_pixels(row.doc_id, w, h)
        got = out[row.doc_id]
        assert (got.width, got.height) == (w, h)
        assert got.n_pixels == w * h
        assert got.px_md5 == hashlib.md5(px).hexdigest()
        assert got.mean_r == round(sum(px[0::4]) / (w * h), 6)
        assert got.alpha_opaque


def test_png_pixel_decode_all_filter_types(spark):
    """The decoder must invert EVERY RFC-2083 scanline filter, not
    just the type-0 rows our encoder writes: forward-filter each row
    with a different type (None/Sub/Up/Average/Paeth), build the PNG
    by hand, decode, compare pixels exactly — genuine encoder output
    uses exactly these."""
    import struct
    import zlib

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        PNG_SIGNATURE, _png_chunk, deterministic_pixels, png_decode)

    w, h, bpp = 6, 5, 4
    px = deterministic_pixels(42, w, h)
    stride = w * bpp

    def forward(ft, line, prev):
        out = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, bpp - 1, -1):
                out[i] = (line[i] - line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                out[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                out[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
                out[i] = (line[i] - pred) & 0xFF
        return bytes(out)

    raw = b""
    prev = bytes(stride)
    for y in range(h):
        ft = y % 5
        line = px[y * stride:(y + 1) * stride]
        raw += bytes([ft]) + forward(ft, line, prev)
        prev = line
    ihdr = struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 0])
    data = (PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))
    dw, dh, dpx = png_decode(data)
    assert (dw, dh) == (w, h)
    assert dpx == px


def test_wav_pcm_decode_matches_numpy_and_wave_module(spark, documents):
    """REAL audio sample decode: the synthesized PCM WAVs must open
    in the stdlib `wave` module with the declared params (external
    validation of container correctness), and decode_wav_samples'
    amplitude stats must equal a local numpy reference computed from
    the same deterministic sine construction."""
    import io
    import math
    import struct
    import wave

    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        decode_wav_samples, synthesize_wav_pcm)

    d = documents.where(F.col("doc_id") < 60)
    blobs = {r.doc_id: bytes(r.media)
             for r in synthesize_wav_pcm(d).collect()}
    out = {r.doc_id: r for r in
           decode_wav_samples(synthesize_wav_pcm(d)).collect()}
    for row in d.select("doc_id", "text").collect():
        blob = blobs[row.doc_id]
        with wave.open(io.BytesIO(blob)) as w:
            assert (w.getnchannels(), w.getsampwidth(),
                    w.getframerate()) == (1, 2, 8000)
            frames = w.readframes(w.getnframes())
        n = len(row.text) % 200 + 50
        freq = 200 + (row.doc_id % 40) * 20
        ref = np.array([int(12000 * math.sin(
            2 * math.pi * freq * i / 8000)) for i in range(n)],
            dtype=np.int64)
        assert frames == b"".join(
            struct.pack("<h", int(v)) for v in ref)
        got = out[row.doc_id]
        assert got.n_samples == n and got.sample_rate == 8000
        assert got.peak == int(np.abs(ref).max())
        assert got.mean_amp == round(float(np.abs(ref).mean()), 6)
        assert got.rms == round(float(np.sqrt((ref * ref).mean())), 6)
        assert got.zero_crossings == int(
            np.count_nonzero(np.diff(np.signbit(ref))))


def test_bpe_merges_randomized_corpora(spark):
    """BPE merge learning pinned against the Python reference on
    three seeded random corpora (different alphabet sizes and word
    lengths) — guards the tie-break and greedy-fold semantics beyond
    the fixed test corpus's particular collision pattern."""
    import random
    from collections import Counter

    from flink_1_11_2_with_comments_spark.pipeline.bpe import bpe_learn

    def merge_word(s, l, r):
        out, prev = [], None
        for x in s:
            if prev is not None and prev == l and x == r:
                out.append(l + r)
                prev = None
            else:
                if prev is not None:
                    out.append(prev)
                prev = x
        if prev is not None:
            out.append(prev)
        return out

    for seed, alpha, maxlen in [(1, "ab", 6), (2, "abc", 4),
                                (3, "abcd", 8)]:
        rng = random.Random(seed)
        docs = [" ".join("".join(rng.choice(alpha)
                                 for _ in range(rng.randint(1, maxlen)))
                         for _ in range(rng.randint(3, 12)))
                for _ in range(40)]
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "doc_id bigint, text string")
        vocab = Counter(w for d in docs for w in d.split(" ") if w)
        syms = {w: list(w) for w in vocab}
        expected = []
        for rank in range(1, 6):
            pc = Counter()
            for w, s in syms.items():
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += vocab[w]
            if not pc:
                break
            (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            expected.append((rank, l + r, c))
            syms = {w: merge_word(s, l, r) for w, s in syms.items()}
        got = [(x.merge_rank, x.pair, x.pair_count)
               for x in bpe_learn(df, "text", n_merges=len(expected))
               .orderBy("merge_rank").collect()]
        assert got == expected, (seed, got[:3], expected[:3])


def test_png_resize_nearest_exact(spark, documents):
    """Nearest-neighbor resize is exactly representable in integer
    index math: out[y][x] == src[y*sh//oh][x*sw//ow] for every pixel
    of every corpus image, and the re-encoded PNG round-trips to the
    identical resized pixels."""
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        deterministic_pixels, png_decode, resize_png_nearest,
        synthesize_png_pixels)

    ow, oh = 8, 8
    d = documents.where(F.col("doc_id") < 60)
    out = {r.doc_id: r for r in
           resize_png_nearest(synthesize_png_pixels(d), ow, oh)
           .collect()}
    for row in d.select("doc_id", "text").collect():
        sw, sh = len(row.text) % 16 + 1, len(row.text) % 12 + 1
        src = deterministic_pixels(row.doc_id, sw, sh)
        expect = bytearray()
        for y in range(oh):
            sy = (y * sh) // oh
            for x in range(ow):
                sx = (x * sw) // ow
                o = (sy * sw + sx) * 4
                expect += src[o:o + 4]
        got = out[row.doc_id]
        assert (got.width, got.height) == (ow, oh)
        w2, h2, px2 = png_decode(bytes(got.media))
        assert (w2, h2) == (ow, oh)
        assert px2 == bytes(expect)


def test_pcm_resample_linear_exact(spark, documents):
    """Linear PCM resampling pinned per-sample against a pure-Python
    reference: y(i) = x[lo] + frac*(x[lo+1]-x[lo]) at
    t = i*src/target, for both up- and down-sampling; statistics are
    the reference's to the rounding digit."""
    import math
    import struct

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        resample_pcm_linear, synthesize_wav_pcm)

    d = documents.where(F.col("doc_id") < 60)
    src_rate = 8000
    for target in (16000, 3000):
        out = {r.doc_id: r for r in
               resample_pcm_linear(synthesize_wav_pcm(d), target)
               .collect()}
        for row in d.select("doc_id", "text").collect():
            n = len(row.text) % 200 + 50
            freq = 200 + (row.doc_id % 40) * 20
            x = [int(12000 * math.sin(2 * math.pi * freq * i / src_rate))
                 for i in range(n)]
            n_out = (n - 1) * target // src_rate + 1
            y = []
            for i in range(n_out):
                t = i * (src_rate / target)
                lo = min(int(t), n - 2)
                y.append(x[lo] + (t - lo) * (x[lo + 1] - x[lo]))
            got = out[row.doc_id]
            assert got.n_samples == n_out
            assert got.sample_rate == target
            assert got.mean_amp == round(
                sum(abs(v) for v in y) / n_out, 6)
            assert got.rms == round(
                math.sqrt(sum(v * v for v in y) / n_out), 6)
            assert got.peak == int(max(abs(v) for v in y))


def test_zorder_bucket_tile_bound(spark):
    """The data-skipping guarantee of the Z-order key: bucket =
    zkey >> 6 fixes all but 6 interleaved bits (3 per dimension), so
    every bucket is an 8x8 tile — per-bucket min/max spread must be
    <= 7 in BOTH dimensions simultaneously. A 1-D sort cannot bound
    the non-leading dimension this way (its per-file spread on the
    other column is the full domain)."""
    from flink_1_11_2_with_comments_spark.queries.pipeline_ops import (
        events_zorder_stats)

    rows = events_zorder_stats(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.max_a - r.min_a <= 7, (r.zbucket, r.min_a, r.max_a)
        assert 0 <= r.max_b - r.min_b <= 7, (r.zbucket, r.min_b, r.max_b)


def test_zorder_layout_data_skipping(spark, tmp_path):
    """The Z-order payoff, measured at the mechanism level: events
    written with pipeline/layout.zorder_write (clustered by the
    interleaved (user_id-byte, hour) key) leave most parquet ROW
    GROUPS with min/max ranges disjoint from a two-dimensional
    point-range predicate — the footer statistics any parquet reader
    prunes on — while the same data written in arrival order leaves
    every row group overlapping on both dimensions.
    events_zorder_stats quantifies this bound relationally; here it
    is proven on the actual written footers. The 100 TB story:
    OPTIMIZE ZORDER turns BOTH filters into row-group pruning
    regardless of which dimension a query constrains."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.pipeline.layout import (
        zorder_write)

    e = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts",
        F.expr("user_id & 255").alias("a"),
        F.expr("CAST(hour(ts) AS BIGINT) & 255").alias("b"))
    zdir, pdir = str(tmp_path / "z"), str(tmp_path / "plain")
    zorder_write(e, ["a", "b"], zdir, n_files=16)
    e.repartition(16).write.mode("overwrite").parquet(pdir)

    def row_groups_needed(path, alo, ahi, blo, bhi):
        need = total = 0
        for f in _glob.glob(path + "/part-*.parquet"):
            md = _pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i
                    for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                sa = rg.column(cols["a"]).statistics
                sb = rg.column(cols["b"]).statistics
                total += 1
                if (sa.min <= ahi and sa.max >= alo
                        and sb.min <= bhi and sb.max >= blo):
                    need += 1
        return need, total

    nz, tz = row_groups_needed(zdir, 3, 6, 10, 13)
    np_, tp = row_groups_needed(pdir, 3, 6, 10, 13)
    # identical query results on either layout
    pred = "a BETWEEN 3 AND 6 AND b BETWEEN 10 AND 13"
    a = sorted(r.event_id for r in spark.read.parquet(zdir)
               .where(F.expr(pred)).collect())
    b = sorted(r.event_id for r in spark.read.parquet(pdir)
               .where(F.expr(pred)).collect())
    assert a == b and len(a) > 0
    # arrival order: every row group overlaps both ranges
    assert np_ == tp and tp >= 16, (np_, tp)
    # the clustered layout prunes most row groups
    assert nz <= tz / 2, (nz, tz)


def test_sketch_guarantees_full_domain(spark):
    """The deterministic sketches honor their theoretical guarantees
    over the FULL key domain (not just the oracle's probe slice):
    count-min never under-counts (est >= exact for EVERY user) and
    over-counts by at most the collision bound; the relational HLL
    estimate lands within the 3-sigma relative-error band for m=64
    registers (sigma = 1.04/sqrt(64) = 13%); KMV within its k=16
    band (sigma ~ 1/sqrt(k-1) = 26%)."""
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.pipeline.dedup import (
        md5_int_expr)
    from flink_1_11_2_with_comments_spark.queries import all_specs

    sf = SF
    e = load_table(spark, sf, "events")

    # CMS over every user: depth-4 min of salted bucket counters
    salted = e.select(
        "user_id", F.explode(F.array(*[F.lit(i) for i in range(4)]))
        .alias("i"))
    h = salted.withColumn(
        "bucket", md5_int_expr(
            F.col("user_id").cast("string"),
            salt=F.concat(F.col("i").cast("string"), F.lit("|"))) % 64)
    counts = h.groupBy("i", "bucket").agg(F.count("*").alias("c"))
    est = (h.select("user_id", "i", "bucket").distinct()
           .join(F.broadcast(counts), ["i", "bucket"])
           .groupBy("user_id").agg(F.min("c").alias("cms")))
    exact = e.groupBy("user_id").agg(F.count("*").alias("ex"))
    n_total = e.count()
    rows = est.join(exact, "user_id").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.cms >= r.ex, (r.user_id, r.cms, r.ex)
        # depth-4 CMS overestimate beyond ~3 * n/width is
        # astronomically unlikely
        assert r.cms - r.ex <= 3 * n_total / 64, (r.user_id,)

    # HLL and KMV relative error vs the exact distinct count
    hll = {r.event_type: (r.est_distinct, r.exact_distinct)
           for r in all_specs()["events_hll_distinct"]
           .fn(spark, sf).collect()}
    for k, (est_d, ex_d) in hll.items():
        assert abs(est_d - ex_d) / ex_d < 3 * 1.04 / 8, (k, est_d, ex_d)

    kmv = {r.event_type: r.est_distinct
           for r in all_specs()["events_kmv_distinct_union"]
           .fn(spark, sf).collect()}
    ex_users = {r.event_type: r.ex for r in e.groupBy("event_type")
                .agg(F.countDistinct("user_id").alias("ex"))
                .collect()}
    ex_users["ALL"] = e.select("user_id").distinct().count()
    for k, est_d in kmv.items():
        assert abs(est_d - ex_users[k]) / ex_users[k] < 3 * 0.26, (
            k, est_d, ex_users[k])


def test_gif_codec_canonical_and_roundtrip():
    """REAL GIF LZW codec: (a) the canonical published minimal GIF
    (1x1 black, GCE extension present) decodes — proving the parser
    handles genuine third-party bytes, extension skipping and the
    spec's LSB-first code packing; (b) encode->decode round-trips
    pixel-exactly across sizes that cross every code-width growth
    boundary and the 4096-entry dictionary reset; (c) runs-heavy
    streams exercise deep dictionary chains and the KwKwK case."""
    import random

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        GIF_PALETTE16, _lzw_decode, _lzw_encode, deterministic_indices,
        gif_decode, gif_encode)

    minimal = bytes.fromhex(
        "474946383961" "0100" "0100" "80" "00" "00"
        "000000" "ffffff" "21f9040100000000"
        "2c" "0000" "0000" "0100" "0100" "00"
        "02" "02" "4401" "00" "3b")
    assert gif_decode(minimal) == (1, 1, b"\x00\x00\x00")

    rnd = random.Random(7)
    for n in (1, 2, 5, 300, 5000, 9000, 20000):
        data = bytes(rnd.randrange(16) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data, 4), 4) == data, n
    for n in (4000, 12000):
        data = (b"\x01" * 97 + b"\x02\x03" * 51
                + bytes(range(16))) * (n // 100)
        assert _lzw_decode(_lzw_encode(data, 4), 4) == data, n

    for (w, h) in ((1, 1), (7, 5), (80, 60), (24, 17), (100, 90)):
        idx = deterministic_indices(9, w, h)
        ww, hh, rgb = gif_decode(gif_encode(w, h, idx))
        exp = b"".join(bytes(GIF_PALETTE16[i]) for i in idx)
        assert (ww, hh) == (w, h) and rgb == exp, (w, h)


def test_gif_pixel_decode_roundtrip(spark, documents):
    """Corpus-wide GIF synthesize (valid LZW data) -> decode must
    reproduce every image's dimensions, palette-mapped channel means
    and exact pixel md5 as computed by the local reference —
    the third REAL in-container pixel format after PNG and WAV."""
    import hashlib

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        GIF_PALETTE16, decode_gif_pixels, deterministic_indices,
        synthesize_gif_pixels)

    d = documents.where(F.col("doc_id") < 100)
    out = {r.doc_id: r for r in
           decode_gif_pixels(synthesize_gif_pixels(d)).collect()}
    for row in d.select("doc_id", "text").collect():
        w, h = len(row.text) % 21 + 4, len(row.text) % 17 + 4
        idx = deterministic_indices(row.doc_id, w, h)
        rgb = b"".join(bytes(GIF_PALETTE16[i]) for i in idx)
        got = out[row.doc_id]
        assert (got.width, got.height) == (w, h)
        assert got.px_md5 == hashlib.md5(rgb).hexdigest()
        assert got.mean_r == round(sum(rgb[0::3]) / (w * h), 6)
        assert got.mean_g == round(sum(rgb[1::3]) / (w * h), 6)


def test_hll_union_equals_direct(spark):
    """HLL merge correctness: the register-wise MAX of the per-type
    sketches must equal the sketch computed directly over the whole
    table (max is associative/commutative — the property that makes
    HLL partials mergeable across 1000 executors), and the union
    estimate must land within the m=64 error band of the true
    distinct union."""
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.queries import all_specs

    union_rows = {r.sketch_key: (r.n_zero, r.s_scaled, r.est_distinct)
                  for r in all_specs()["events_hll_union"]
                  .fn(spark, SF).collect()}
    # direct whole-table sketch: reuse the same query over a single
    # constant key by prepping a one-type view — instead compute via
    # the streaming mirror, which shares no Spark expressions
    from flink_1_11_2_with_comments_spark.streaming.hll import (
        _rho, hll_estimate)
    e = load_table(spark, SF, "events").select("event_id").collect()
    import hashlib
    regs = [0] * 64
    for r in e:
        hv = int(hashlib.md5(str(r.event_id).encode())
                 .hexdigest()[:15], 16)
        b, w = hv % 64, hv // 64
        regs[b] = max(regs[b], _rho(w))
    n_zero, s_scaled, est = hll_estimate(regs)
    assert union_rows["ALL"] == (n_zero, s_scaled, est)
    true_n = len({r.event_id for r in e})
    assert abs(est - true_n) / true_n < 3 * 1.04 / 8


def test_gif_lzw_roundtrip_property():
    """Fuzz the GIF LZW pair: any index stream (all 16 symbols,
    arbitrary runs and lengths — including lengths that cross code-
    width boundaries) must round-trip exactly. Catches width-growth
    and KwKwK regressions the fixed cases might miss."""
    from hypothesis import given, settings, strategies as st

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        _lzw_decode, _lzw_encode)

    @given(st.binary(min_size=0, max_size=4000).map(
        lambda b: bytes(x % 16 for x in b)))
    @settings(max_examples=200, deadline=None)
    def check(data):
        if not data:
            return
        assert _lzw_decode(_lzw_encode(data, 4), 4) == data

    check()


def test_cdc_materialize_upsert_property(spark):
    """Fuzz materialize_upsert against a pure-Python last-write-wins
    reference: for any random changelog (interleaved +I/-U/+U/-D per
    key in a random order column), the materialized table must be
    exactly the non-deleted keys' final payloads. Pins the
    rank-above-own-minus-U rule (+U outranks its -U at equal order)
    and trailing-delete erasure under arbitrary interleavings."""
    from hypothesis import given, settings, strategies as st

    from flink_1_11_2_with_comments_spark.sources.cdc import (
        materialize_upsert)

    @given(st.lists(
        st.tuples(st.integers(0, 5),            # key
                  st.sampled_from(["I", "U", "D"]),
                  st.integers(0, 100)),          # payload/value
        min_size=1, max_size=25))
    @settings(max_examples=25, deadline=None)
    def check(ops):
        rows = []
        state: dict[int, int | None] = {}
        for seq, (k, op, v) in enumerate(ops):
            if op == "I":
                rows.append((seq, 0, "+I", k, v))
                state[k] = v
            elif op == "U":
                rows.append((seq, 0, "-U", k, state.get(k, -1) or 0))
                rows.append((seq, 1, "+U", k, v))
                state[k] = v
            else:
                rows.append((seq, 0, "-D", k, v))
                state[k] = None
        df = spark.createDataFrame(
            rows, "seq int, change_seq int, rowkind string, "
                  "k int, v int")
        got = {(r.k, r.v) for r in materialize_upsert(
            df, keys=["k"], order_cols=["seq"]).collect()}
        exp = {(k, v) for k, v in state.items() if v is not None}
        assert got == exp, (ops, got, exp)

    check()


def _giflib_ref_lzw_decode(data: bytes, mcs: int) -> bytes:
    """Independent reference LZW decoder transcribed from giflib's
    dgif_lib.c (DGifDecompressLine / DGifDecompressInput) — the
    convention browsers and Pillow implement. Kept structurally
    distinct from the package codec (stack-based suffix walk,
    MSB-position bit cursor, giflib variable names) so agreement is
    cross-codec evidence, not a mirrored bug. Key rule under test:
    RunningCode increments once per code READ and the width grows
    when it EXCEEDS MaxCode1 = 1 << RunningBits — i.e. exactly
    2**w - 2**mcs - 1 data codes post-clear at width w."""
    LZ_BITS, LZ_MAX_CODE = 12, 4095
    clear_code, eof_code = 1 << mcs, (1 << mcs) + 1
    running_bits = mcs + 1
    max_code1 = 1 << running_bits
    running_code = eof_code + 1
    # prefix chain + suffix byte per slot (giflib's Prefix/Suffix)
    prefix = [LZ_MAX_CODE + 1] * 4096
    suffix = [0] * 4096
    bitpos = 0
    out = bytearray()
    last_code = None

    def next_code():
        nonlocal bitpos, running_code, running_bits, max_code1
        if bitpos + running_bits > len(data) * 8:
            raise ValueError("ref: truncated")
        val = 0
        for i in range(running_bits):
            val |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += running_bits
        if (running_code < LZ_MAX_CODE + 2 and running_bits < LZ_BITS):
            running_code += 1
            if running_code > max_code1:
                running_bits += 1
                max_code1 <<= 1
        elif running_code < LZ_MAX_CODE + 2:
            running_code += 1
        return val

    def emit(code):
        stack = []
        while code > clear_code:           # walk the chain to the root
            if code > LZ_MAX_CODE or prefix[code] > LZ_MAX_CODE:
                raise ValueError("ref: corrupt prefix chain")
            stack.append(suffix[code])
            code = prefix[code]
        stack.append(code)
        out.extend(reversed(stack))
        return code                        # first byte of the string

    while True:
        code = next_code()
        if code == eof_code:
            break
        if code == clear_code:
            running_bits = mcs + 1
            max_code1 = 1 << running_bits
            running_code = eof_code + 1
            for i in range(4096):
                prefix[i] = LZ_MAX_CODE + 1
            last_code = None
            continue
        slot = running_code - 2            # giflib: slot being defined
        if code == slot and last_code is not None:
            # KwKwK: code not yet in table
            prefix[slot] = last_code
            suffix[slot] = _ref_first_byte(prefix, suffix, last_code,
                                           clear_code)
            emit(code)
        else:
            if code >= clear_code + 2 and prefix[code] > LZ_MAX_CODE:
                raise ValueError("ref: code references empty slot")
            emit(code)
            if last_code is not None and slot <= LZ_MAX_CODE:
                prefix[slot] = last_code
                suffix[slot] = _ref_first_byte(prefix, suffix, code,
                                               clear_code)
        last_code = code
    return bytes(out)


def _ref_first_byte(prefix, suffix, code, clear_code):
    while code > clear_code:
        code = prefix[code]
    return code


def _giflib_ref_lzw_encode(indices: bytes, mcs: int) -> bytes:
    """Independent reference LZW encoder following giflib's
    egif_lib.c (EGifCompressLine / EGifCompressOutput): the width
    check runs AFTER writing each code using the pre-insert
    RunningCode, and the dictionary is a (prefix_code, byte) map
    rather than a byte-string trie."""
    LZ_MAX_CODE = 4095
    clear_code, eof_code = 1 << mcs, (1 << mcs) + 1
    running_bits = mcs + 1
    max_code1 = 1 << running_bits
    running_code = eof_code + 1
    table = {}
    outbuf = bytearray()
    acc = nacc = 0

    def output(code):
        nonlocal acc, nacc, running_bits, max_code1
        acc |= code << nacc
        nacc += running_bits
        while nacc >= 8:
            outbuf.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
        if running_code >= max_code1 and running_bits < 12:
            running_bits += 1
            max_code1 <<= 1

    output(clear_code)
    cur = indices[0]
    for px in indices[1:]:
        key = (cur, px)
        if key in table:
            cur = table[key]
            continue
        output(cur)
        if running_code >= LZ_MAX_CODE:
            output(clear_code)
            table.clear()
            running_bits = mcs + 1
            max_code1 = 1 << running_bits
            running_code = eof_code + 1
        else:
            table[key] = running_code
            running_code += 1
        cur = px
    output(cur)
    output(eof_code)
    if nacc:
        outbuf.append(acc & 0xFF)
    return bytes(outbuf)


def test_gif_lzw_cross_codec_giflib_convention():
    """Interoperability with the giflib convention (the round-8
    advisor found the previous codec grew the code width one
    emission early — self-consistent but unreadable by third-party
    decoders beyond ~15 codes). Both directions, against reference
    implementations transcribed independently from giflib's
    dgif_lib.c/egif_lib.c: (a) package encode -> reference decode,
    (b) reference encode -> package decode, on streams that cross
    the 5->6, 6->7 and 7->8 width boundaries, deep-run KwKwK
    streams, and a 30k stream that forces the 4096-slot reset."""
    import random

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        _lzw_decode, _lzw_encode)

    rnd = random.Random(2024)
    cases = []
    for n in (1, 14, 15, 16, 17, 46, 47, 48, 200, 1000, 30000):
        cases.append(bytes(rnd.randrange(16) for _ in range(n)))
    cases.append(b"\x01" * 5000)                       # KwKwK ladder
    cases.append((b"\x00\x01" * 60 + b"\x02" * 30) * 40)
    for data in cases:
        enc = _lzw_encode(data, 4)
        assert _giflib_ref_lzw_decode(enc, 4) == data, len(data)
        ref = _giflib_ref_lzw_encode(data, 4)
        assert _lzw_decode(ref, 4) == data, len(data)
    # other min-code-sizes cross their own boundaries
    for mcs in (2, 3, 6, 8):
        data = bytes(rnd.randrange(1 << mcs) for _ in range(600))
        assert _giflib_ref_lzw_decode(_lzw_encode(data, mcs), mcs) == data
        assert _lzw_decode(_giflib_ref_lzw_encode(data, mcs), mcs) == data


def test_zorder_key_masks_out_of_range(spark):
    """zorder_key's documented [0, 2^bits) contract now holds by
    construction (round-9 advisor fix): values with bits above the
    interleave width are masked, so a raw un-bucketed column yields
    the same key as its masked form instead of silently aliasing."""
    from flink_1_11_2_with_comments_spark.pipeline.layout import (
        zorder_key)

    df = spark.range(0, 2000, 7).select(
        F.col("id").alias("a"),
        (F.col("id") * 131 + 17).alias("b"))
    bits = 6
    mask = (1 << bits) - 1
    raw = df.select(zorder_key(["a", "b"], bits).alias("z")).collect()
    pre = df.select(
        zorder_key([F.col("a").bitwiseAND(F.lit(mask)),
                    F.col("b").bitwiseAND(F.lit(mask))],
                   bits).alias("z")).collect()
    assert [r.z for r in raw] == [r.z for r in pre]
    # and the key stays within its 2*bits-bit budget
    assert all(0 <= r.z < (1 << (2 * bits)) for r in raw)


def test_quality_classifier_learns(spark):
    """The trained classifier must actually separate the target
    domain: after 3 GD rounds its accuracy on (lang='en') must beat
    the majority-class baseline, and the margin ordering must put
    English documents above the rest on average. Also pins
    determinism: two independent fits produce identical weights."""
    from flink_1_11_2_with_comments_spark.pipeline.quality_clf import (
        logreg_fit, quality_fit)
    from flink_1_11_2_with_comments_spark.queries import all_specs

    docs = load_table(spark, SF, "documents")
    labels = {r.doc_id: 1 if r.lang == "en" else 0
              for r in docs.select("doc_id", "lang").collect()}
    scored = {r.doc_id: (r.score, r.pred) for r in
              all_specs()["corpus_quality_score_broadcast"]
              .fn(spark, SF).collect()}
    n = len(labels)
    base = max(sum(labels.values()), n - sum(labels.values())) / n
    acc = sum(1 for d, y in labels.items()
              if scored[d][1] == y) / n
    mean_en = (sum(scored[d][0] for d, y in labels.items() if y)
               / max(1, sum(labels.values())))
    mean_rest = (sum(scored[d][0] for d, y in labels.items() if not y)
                 / max(1, n - sum(labels.values())))
    assert mean_en > mean_rest, (mean_en, mean_rest)
    assert acc >= base - 0.05, (acc, base)

    w1 = {r.feature: r.weight for r in logreg_fit(docs).collect()}
    w2 = quality_fit(docs)
    assert w1 == w2


def test_gif_decode_interlace_and_local_palette():
    """Round 9 removes two gif_decode subset boundaries. (a)
    Interlaced images: a GIF whose rows are stored in the four
    GIF89a passes (0,8,16.. / 4,12.. / 2,6.. / odd) with the
    interlace flag set must decode to the SAME pixels as the
    sequential encoding. (b) Local color tables: an image descriptor
    carrying its own palette (flag 0x80) must be decoded through
    that palette, overriding the global one."""
    import struct

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        GIF_PALETTE16, _lzw_encode, deterministic_indices, gif_decode,
        gif_encode)

    w, h = 13, 11
    idx = deterministic_indices(5, w, h)
    plain = gif_decode(gif_encode(w, h, idx))

    # (a) hand-build the interlaced variant of the same image
    rows = [idx[r * w:(r + 1) * w] for r in range(h)]
    order = ([*range(0, h, 8)] + [*range(4, h, 8)]
             + [*range(2, h, 4)] + [*range(1, h, 2)])
    stored = b"".join(rows[dst] for dst in order)
    head = (b"GIF89a" + struct.pack("<HH", w, h)
            + bytes([0xF3, 0, 0])
            + b"".join(bytes(rgb) for rgb in GIF_PALETTE16))
    desc = b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x40"
    lzw = _lzw_encode(stored, 4)
    blocks = bytearray([4])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    interlaced = head + desc + bytes(blocks) + b"\x3B"
    assert gif_decode(interlaced) == plain

    # (b) local color table: global palette says one thing, the
    # image-local table another — decode must use the local one
    local_pal = [(255 - r, 255 - g, 255 - b)
                 for (r, g, b) in GIF_PALETTE16]
    desc_l = (b"\x2C" + struct.pack("<HHHH", 0, 0, w, h)
              + bytes([0x83])       # LCT flag, 16 entries
              + b"".join(bytes(rgb) for rgb in local_pal))
    lzw2 = _lzw_encode(idx, 4)
    blocks2 = bytearray([4])
    for i in range(0, len(lzw2), 255):
        chunk = lzw2[i:i + 255]
        blocks2 += bytes([len(chunk)]) + chunk
    blocks2 += b"\x00"
    local = head + desc_l + bytes(blocks2) + b"\x3B"
    ww, hh, rgb = gif_decode(local)
    exp = b"".join(bytes(local_pal[i]) for i in idx)
    assert (ww, hh) == (w, h) and rgb == exp


def test_bpe_sql_oracle_greedy_merge_adversarial():
    """The round-10 unrolled-SQL BPE oracle must replay the greedy
    left-to-right merge on adversarial run-heavy corpora — the
    ml == mr case merges at EVEN offsets within each symbol run
    ('aaa' + (a,a) -> [aa, a], 'aaaa' -> [aa, aa]), which the SQL
    states via gaps-and-islands parity. Compared against the plain
    single-process BPE reference (same one the Spark impl is pinned
    to), entirely engine-side: pandas df registered as the documents
    view, no Spark needed."""
    from collections import Counter

    import duckdb
    import pandas as pd

    from flink_1_11_2_with_comments_spark.queries.pipeline_ops import (
        _bpe_oracle_ctes)

    corpora = [
        ["aaaa bb aaa a", "abab ab aa", "aaaa aaaa"],
        ["xxxxxx xx x", "xyxyxy yx", "zzz zz zzzz z"],
        ["mississippi missy sip", "ppp pp p pppp"],
    ]
    for texts in corpora:
        # single-process reference: n rounds of (count pairs over the
        # weighted vocab, pick max with lexicographic ties, greedy
        # left-to-right merge)
        vocab = Counter(w for t in texts for w in t.split(" ") if w)
        syms = {w: list(w) for w in vocab}
        expect = []
        for rank in range(1, 6):
            pc = Counter()
            for w, n in vocab.items():
                s = syms[w]
                for a, b in zip(s, s[1:]):
                    pc[(a, b)] += n
            if not pc:
                break
            (ml, mr), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0]))
            expect.append((rank, ml + mr, cnt))
            for w in syms:
                out, prev = [], None
                for x in syms[w]:
                    if prev is not None and prev == ml and x == mr:
                        out.append(ml + mr)
                        prev = None
                    else:
                        if prev is not None:
                            out.append(prev)
                        prev = x
                if prev is not None:
                    out.append(prev)
                syms[w] = out
        n_rounds = len(expect)
        sql = (_bpe_oracle_ctes(n_rounds) + "\n"
               + "\nUNION ALL ".join(
                   f"SELECT CAST({r} AS INTEGER) AS merge_rank, "
                   f"ml || mr AS pair, pc AS pair_count FROM t{r}"
                   for r in range(1, n_rounds + 1)))
        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"text": texts}))
        got = sorted(con.execute(sql).fetchall())
        con.close()
        assert got == sorted(expect), (texts, got, expect)


def test_bloom_prefilter_guarantees_and_plan(spark):
    """The Bloom dedup prefilter's two contracts: (1) NO FALSE
    NEGATIVES — every exact duplicate is a bloom hit (the property
    that makes it a safe prefilter: skipping bloom-misses can never
    drop a real duplicate); (2) every outcome class is actually
    exercised by the verification corpus (clean miss, false positive,
    true duplicate — a fixture where any class is empty couldn't
    falsify the filter). Plan contract: the probe side runs on
    BROADCAST joins only — the new batch never shuffles (the whole
    point vs a fact-fact join at 100 TB)."""
    from flink_1_11_2_with_comments_spark.pipeline.bloom import (
        bloom_dedup_prefilter)
    docs = load_table(spark, SF, "documents")
    out = bloom_dedup_prefilter(docs)
    rows = out.collect()
    assert not any(r.exact_dup and not r.bloom_hit for r in rows), \
        "false negative: an exact duplicate missed the bloom filter"
    classes = {(r.bloom_hit, r.exact_dup) for r in rows}
    assert (False, False) in classes  # clean miss
    assert (True, False) in classes   # false positive (2nd-stage cost)
    assert (True, True) in classes    # true duplicate
    for r in rows:
        assert r.false_pos == (r.bloom_hit and not r.exact_dup)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_jpeg_dct_matches_direct_definition():
    """The 8x8 DCT matrix product must equal the O(N^4) textbook
    DCT-II definition (and IDCT must invert it exactly) — the
    numeric core of the baseline JPEG codec, pinned against the
    formula rather than a fixture."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        dct2, idct2)
    rng = np.random.RandomState(7)
    b = rng.randint(-128, 128, (8, 8)).astype(float)
    assert np.allclose(idct2(dct2(b)), b, atol=1e-9)
    direct = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 0.5 ** 0.5 if u == 0 else 1.0
            cv = 0.5 ** 0.5 if v == 0 else 1.0
            s = sum(b[x, y]
                    * np.cos((2 * x + 1) * u * np.pi / 16)
                    * np.cos((2 * y + 1) * v * np.pi / 16)
                    for x in range(8) for y in range(8))
            direct[u, v] = 0.25 * cu * cv * s
    assert np.allclose(dct2(b), direct, atol=1e-9)


def test_jpeg_zigzag_and_huffman_canonical():
    """zigzag_order is the spec's diagonal walk (generated, but pin
    its head and bijectivity); the canonical Huffman builder must be
    prefix-free and invert exactly."""
    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        AC_BITS, AC_VALS, DC_BITS, DC_VALS, build_huffman,
        build_huffman_decode, zigzag_order)
    zz = zigzag_order()
    assert len(zz) == 64 and len(set(zz)) == 64
    assert zz[:6] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2)]
    assert zz[-1] == (7, 7)
    for bits, vals in ((DC_BITS, DC_VALS), (AC_BITS, AC_VALS)):
        enc = build_huffman(bits, vals)
        assert len(enc) == sum(bits) == len(vals)
        codes = sorted((l, c) for c, l in enc.values())
        # prefix-free: no code is a prefix of a longer one
        for i, (l1, c1) in enumerate(codes):
            for l2, c2 in codes[i + 1:]:
                assert not (l2 > l1 and (c2 >> (l2 - l1)) == c1)
        dec = build_huffman_decode(bits, vals)
        assert all(dec[enc[s]] == s for s in enc)


def test_jpeg_roundtrip_structure_and_error_bounds():
    """Encode→decode roundtrips: flat block exact, wrap-free ramps
    within 1 level at q90, non-multiple-of-8 dims crop back exactly,
    marker layout (SOI/DQT/SOF0/DHT/SOS/EOI) present, and the
    unsupported-stream gates raise loudly."""
    import numpy as np
    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode, jpeg_encode)

    def maxerr(w, h, mk, q=90):
        gray = bytes(mk(x, y) & 0xFF for y in range(h)
                     for x in range(w))
        data = jpeg_encode(w, h, gray, q)
        for marker in (b"\xFF\xD8", b"\xFF\xDB", b"\xFF\xC0",
                       b"\xFF\xC4", b"\xFF\xDA", b"\xFF\xD9"):
            assert marker in data
        dw, dh, px = jpeg_decode(data)
        assert (dw, dh) == (w, h)
        got = np.frombuffer(px, np.uint8).astype(int)
        exp = np.frombuffer(gray, np.uint8).astype(int)
        return int(np.max(np.abs(got - exp)))

    assert maxerr(8, 8, lambda x, y: 128) == 0          # flat: exact
    assert maxerr(16, 12, lambda x, y: 30 + 2 * x + 3 * y) <= 1
    assert maxerr(9, 5, lambda x, y: 10 + 3 * x + 2 * y) <= 1
    assert maxerr(1, 1, lambda x, y: 200) <= 1
    # high-frequency content: larger but bounded error, dims exact
    assert maxerr(23, 17, lambda x, y: (x * x + y) % 200) <= 40
    # loud gates (SOF2 progressive is SUPPORTED as of r14 — the
    # remaining frame-type gates are lossless/arithmetic/extended)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x00\x01")
    good = jpeg_encode(8, 8, bytes(64), 90)
    lossless = good.replace(b"\xFF\xC0", b"\xFF\xC3", 1)
    with pytest.raises(ValueError, match="unsupported"):
        jpeg_decode(lossless)
    arith = good.replace(b"\xFF\xC0", b"\xFF\xC9", 1)
    with pytest.raises(ValueError, match="unsupported"):
        jpeg_decode(arith)


def test_jpeg_roundtrip_check_face(spark, documents):
    """The driver face's closed loop over real documents: every row
    decode_ok, dims from length(text)."""
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        jpeg_roundtrip_check)
    got = jpeg_roundtrip_check(documents.limit(200)).collect()
    assert len(got) == 200
    assert all(r.decode_ok for r in got)
    assert all(r.n_pixels == r.width * r.height for r in got)


def test_jpeg_color_roundtrip_and_gates():
    """YCbCr 4:4:4 color: smooth RGB ramps roundtrip within 2 levels
    at q90, flat blocks within 1 (color conversion rounds twice),
    dims/crop exact on non-multiple-of-8 images; the grayscale
    wrapper rejects color streams; subsampled streams are rejected
    by the decoder gate."""
    import numpy as np
    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode, jpeg_decode_any, jpeg_encode_color)

    def maxerr(w, h, mk):
        rgb = bytes(v for y in range(h) for x in range(w)
                    for v in mk(x, y))
        data = jpeg_encode_color(w, h, rgb, 90)
        dw, dh, nc, px = jpeg_decode_any(data)
        assert (dw, dh, nc) == (w, h, 3)
        got = np.frombuffer(px, np.uint8).astype(int)
        exp = np.frombuffer(rgb, np.uint8).astype(int)
        return int(np.max(np.abs(got - exp))), data

    err, _ = maxerr(8, 8, lambda x, y: (100, 150, 200))
    assert err <= 1
    err, data = maxerr(16, 12, lambda x, y: (20 + 2 * x + y,
                                             40 + x + 2 * y,
                                             60 + x + y))
    assert err <= 2
    err, _ = maxerr(9, 5, lambda x, y: (10 + 3 * x, 30 + 2 * y,
                                        50 + x + y))
    assert err <= 2
    with pytest.raises(ValueError, match="color stream"):
        jpeg_decode(data)
    # decoder gate: claim 1x2 luma sampling in SOF0 — a legal JPEG
    # layout (4:4:0-style vertical subsampling) but outside this
    # codec's declared 1x1/4:2:0/4:2:2 subset (r14 added 4:2:2 to
    # the supported side), so it must be rejected loudly
    sub = data.replace(b"\x01\x11\x00\x02\x11\x00\x03\x11\x00",
                       b"\x01\x12\x00\x02\x11\x00\x03\x11\x00", 1)
    with pytest.raises(ValueError, match="sampling pattern"):
        jpeg_decode_any(sub)


def test_jpeg_color_conversion_inverts():
    """rgb_to_ycbcr / ycbcr_to_rgb invert to within the precision the
    PUBLISHED JFIF constants allow: both directions use the spec's
    6-decimal roundings (0.168736/0.344136/1.402/...), so the float
    roundtrip error is ~1e-3 on the 0-255 scale — far below the
    0.5-level pixel quantization that dominates the codec, but NOT
    1e-9 (a tighter assertion would be pinning numerics the spec
    never promises)."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        rgb_to_ycbcr, ycbcr_to_rgb)
    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, (5, 7, 3)).astype(float)
    y, cb, cr = rgb_to_ycbcr(rgb)
    assert np.allclose(ycbcr_to_rgb(y, cb, cr), rgb, atol=2e-3)


def test_sinc_resample_properties_and_scalar_reference():
    """The windowed-sinc kernel's defining properties, plus an exact
    replay by a scalar pure-Python reference (same normalization,
    same Hann window, same cutoff scaling):
    - DC exactness: a constant resamples to the identical constant.
    - Reconstruction: a band-limited sine far below Nyquist upsampled
      2x matches the analytic sine to ~1e-3 of amplitude away from
      the edges (Whittaker-Shannon with a 32-tap Hann window).
    - Anti-aliasing: a sine ABOVE the target Nyquist downsampled 4x
      is strongly attenuated (the cutoff-scaled sinc IS the filter),
      where linear interpolation would alias it at near-full
      amplitude."""
    import math

    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        resample_linear_kernel, resample_sinc_kernel)

    # DC exactness
    const = np.full(200, 123.0)
    y = resample_sinc_kernel(const, 8000, 16000)
    assert np.allclose(y, 123.0, atol=1e-9)

    # reconstruction of a band-limited sine (f = 0.02 * src rate)
    src, tgt, f, n = 8000, 16000, 160.0, 400
    x = np.sin(2 * np.pi * f * np.arange(n) / src)
    y = resample_sinc_kernel(x, src, tgt)
    t_out = np.arange(len(y)) / tgt
    exact = np.sin(2 * np.pi * f * t_out)
    interior = slice(64, len(y) - 64)
    assert np.max(np.abs(y[interior] - exact[interior])) < 2e-3

    # anti-aliasing: 7 kHz sine at 16 kHz downsampled to 4 kHz
    # (target Nyquist 2 kHz) must come out attenuated; linear
    # interpolation aliases it to a strong in-band tone
    x = np.sin(2 * np.pi * 7000 * np.arange(1024) / 16000)
    y_sinc = resample_sinc_kernel(x, 16000, 4000)
    y_lin = resample_linear_kernel(x, 16000, 4000)
    mid = slice(16, len(y_sinc) - 16)
    assert np.max(np.abs(y_sinc[mid])) < 0.15
    assert np.max(np.abs(y_lin[mid])) > 0.4

    # scalar reference replays the vectorized kernel bit-for-bit-ish
    def scalar_ref(x, src_rate, target_rate, taps=32):
        n = len(x)
        n_out = (n - 1) * target_rate // src_rate + 1
        fc = min(1.0, target_rate / src_rate)
        half = taps // 2
        out = []
        for i in range(n_out):
            t = i * (src_rate / target_rate)
            k0 = math.floor(t)
            acc = norm = 0.0
            for off in range(-half + 1, half + 1):
                k = k0 + off
                if not 0 <= k < n:
                    continue
                d = t - k
                if abs(d) > half:
                    continue
                w = 0.5 + 0.5 * math.cos(math.pi * d / half)
                s = 1.0 if d == 0 else (
                    math.sin(math.pi * fc * d) / (math.pi * fc * d))
                ker = fc * s * w
                acc += ker * x[k]
                norm += ker
            out.append(acc / (norm if norm else 1.0))
        return np.array(out)

    rng = np.random.RandomState(3)
    x = rng.randn(150)
    for src, tgt in ((8000, 16000), (16000, 4000), (44100, 16000)):
        got = resample_sinc_kernel(x, src, tgt)
        ref = scalar_ref(x, src, tgt)
        assert np.allclose(got, ref, atol=1e-9), (src, tgt)


def test_resample_pcm_sinc_spark_face(spark, documents):
    """The Spark kernel over real WAV binaries: schema, counts, and
    the DC/attenuation sanity of the stats columns."""
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        resample_pcm_sinc, synthesize_wav_pcm)
    wav = synthesize_wav_pcm(documents.limit(50))
    got = resample_pcm_sinc(wav, 16000).collect()
    assert len(got) == 50
    assert all(r.sample_rate == 16000 and r.n_samples > 0 for r in got)
    assert all(r.peak <= 13000 for r in got)   # no kernel overshoot blowup


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0: luma 2x2 + box-averaged chroma roundtrips smooth ramps
    within 2 levels at q90 (nearest chroma upsample), dims/crop exact
    on every alignment class (multiple of 16, of 8, odd), and the
    SOF0 sampling bytes really say 2x2/1x1/1x1."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode_color)
    for (w, h) in [(32, 32), (16, 12), (9, 5), (1, 1), (23, 17)]:
        rgb = bytes(v for y in range(h) for x in range(w)
                    for v in ((20 + 2 * x + y) & 0xFF,
                              (40 + x + 2 * y) & 0xFF,
                              (60 + x + y) & 0xFF))
        data = jpeg_encode_color(w, h, rgb, 90, subsampling="4:2:0")
        assert b"\x01\x22\x00\x02\x11\x00\x03\x11\x00" in data
        dw, dh, nc, px = jpeg_decode_any(data)
        assert (dw, dh, nc) == (w, h, 3)
        got = np.frombuffer(px, np.uint8).astype(int)
        exp = np.frombuffer(rgb, np.uint8).astype(int)
        assert int(np.max(np.abs(got - exp))) <= 2, (w, h)
    # 4:2:0 streams are smaller than 4:4:4 once chroma blocks dominate
    big = bytes(v for y in range(64) for x in range(64)
                for v in ((20 + x) & 0xFF, (40 + y) & 0xFF, 60))
    s444 = len(jpeg_encode_color(64, 64, big, 90, subsampling="4:4:4"))
    s420 = len(jpeg_encode_color(64, 64, big, 90, subsampling="4:2:0"))
    assert s420 < s444


def test_mjpeg_avi_container_and_frame_sampling():
    """MJPEG AVI: the RIFF container round-trips (dims, fps, frame
    count, word-aligned chunks), every-2nd frame-sampling decodes
    the panning ramp within 2 levels, skipped frames are never
    decoded (the sampler returns exactly the sampled indices), and
    the loud gates hold (non-AVI RIFF, non-MJPG codec)."""
    import numpy as np
    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.mjpeg_avi import (
        avi_build, avi_parse, mjpeg_sample_frames, mjpeg_synthesize)

    clip = mjpeg_synthesize(16, 12, 7, doc_id=5)
    w, h, fps, frames = avi_parse(clip)
    assert (w, h, fps, len(frames)) == (16, 12, 10, 7)
    sampled = mjpeg_sample_frames(clip, every=2)
    assert [s[0] for s in sampled] == [0, 2, 4, 6]
    base = 5 % 64
    for ix, fw, fh, px in sampled:
        exp = np.array(
            [v for y in range(12) for x in range(16)
             for v in ((20 + base + 2 * ix + 2 * x + y) & 0xFF,
                       (40 + base + 2 * ix + x + 2 * y) & 0xFF,
                       (60 + base + 2 * ix + x + y) & 0xFF)])
        got = np.frombuffer(px, np.uint8).astype(int)
        assert (fw, fh) == (16, 12)
        assert int(np.max(np.abs(got - exp))) <= 2, ix
    # odd-length frame payloads must be word-padded per RIFF; an
    # odd-sized fake frame still parses back byte-exact
    odd = [b"\xFF\xD8odd!\xFF\xD9", b"\xFF\xD8even\xFF\xD9"]
    back = avi_parse(avi_build(4, 4, odd))[3]
    assert back == odd
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        avi_parse(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="MJPG only"):
        avi_parse(clip.replace(b"vidsMJPG", b"vidsH264", 1))
    # externally produced AVIs use the rate/scale encoding (NTSC
    # 30000/1001): fps must be dwRate/dwScale, not raw dwRate
    # (advisor r13 — in-repo clips write dwScale=1 so only an
    # externally-shaped header exercises the division)
    import struct
    strh_at = clip.index(b"vidsMJPG")
    ntsc = (clip[:strh_at + 20]
            + struct.pack("<II", 1001, 30000)
            + clip[strh_at + 28:])
    assert avi_parse(ntsc)[2] == 29  # 30000 // 1001


def test_mjpeg_frame_check_face(spark, documents):
    """The driver face's closed loop over real documents."""
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        mjpeg_frame_check)
    got = mjpeg_frame_check(documents.limit(120)).collect()
    assert len(got) == 120
    assert all(r.decode_ok for r in got)
    assert all(r.n_sampled == (r.n_frames + 1) // 2 for r in got)


def test_png_adam7_interlaced_decode():
    """png_decode must handle genuine Adam7-interlaced PNGs (before
    round 13 the interlace byte was silently ignored — a real
    interlaced file would have MIS-decoded). The test builds the
    interlaced stream with an INDEPENDENT encoder (gathering pixels
    per pass straight from the Adam7 definition, per-scanline filter
    type 0, one zlib stream) and requires pixel-exact reconstruction
    on every width/height alignment class, plus the loud gate for
    unknown interlace methods."""
    import struct
    import zlib

    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        PNG_SIGNATURE, png_decode)

    PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", crc))

    def encode_adam7(w, h, rgba: bytes) -> bytes:
        raw = bytearray()
        for x0, y0, dx, dy in PASSES:
            for y in range(y0, h, dy):
                row = bytearray(b"\x00")      # filter type 0
                for x in range(x0, w, dx):
                    off = (y * w + x) * 4
                    row += rgba[off:off + 4]
                if len(row) > 1:
                    raw += row
        ihdr = (struct.pack(">II", w, h)
                + bytes([8, 6, 0, 0, 1]))     # interlace = 1
        return (PNG_SIGNATURE + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    for (w, h) in [(8, 8), (16, 12), (9, 5), (1, 1), (3, 3), (23, 17)]:
        rgba = bytes(((x * 7 + y * 13 + c * 29 + 5) & 0xFF)
                     for y in range(h) for x in range(w)
                     for c in range(4))
        dw, dh, px = png_decode(encode_adam7(w, h, rgba))
        assert (dw, dh) == (w, h)
        assert px == rgba, (w, h)
    # unknown interlace method rejected loudly
    bad = bytearray(encode_adam7(4, 4, bytes(64)))
    # signature(8) + chunk len(4) + 'IHDR'(4) + body offset 12
    bad[8 + 4 + 4 + 12] = 2
    with pytest.raises(ValueError, match="interlace"):
        png_decode(bytes(bad))


def test_jpeg_and_avi_decoders_fail_cleanly_on_corruption():
    """Robustness fuzz (seeded): truncations and random single-byte
    corruptions of valid JPEG/AVI streams must either decode to
    SOMETHING (bit flips in entropy data can still be decodable —
    JPEG has no payload checksum, so that is spec-correct behavior)
    or raise ValueError/IndexError-class errors promptly — never
    hang, never segfault, never raise an unrelated internal error.
    Dimension-bearing fields are the adversarial surface: the
    decoders must not allocate from unvalidated lengths."""
    import random

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode_color)
    from flink_1_11_2_with_comments_spark.pipeline.mjpeg_avi import (
        avi_parse, mjpeg_synthesize)

    rgb = bytes(v for y in range(12) for x in range(16)
                for v in ((20 + x) & 0xFF, (40 + y) & 0xFF, 60))
    good_jpeg = jpeg_encode_color(16, 12, rgb, 90)
    good_avi = mjpeg_synthesize(8, 8, 3, doc_id=1)
    rng = random.Random(99)

    def attempt(fn, blob):
        try:
            fn(blob)
        except (ValueError, IndexError, KeyError, struct_error):
            pass

    import struct
    struct_error = struct.error
    for blob, fn in ((good_jpeg, jpeg_decode_any),
                     (good_avi, avi_parse)):
        for cut in range(0, len(blob), max(len(blob) // 40, 1)):
            attempt(fn, blob[:cut])               # truncations
        for _ in range(150):                      # bit flips
            b = bytearray(blob)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            attempt(fn, bytes(b))


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn (r13 verdict ask #7 — the one baseline feature real
    camera files use heavily): a restart-segmented stream declares
    DRI, contains the cycling RST0..7 markers byte-aligned in the
    entropy data, decodes bit-identically to the unsegmented stream
    (predictor resets on both sides cancel), and the sequence check
    catches a desynced marker. Covers gray and 4:2:0 color, interval
    1 (every MCU) and a mid-scan interval, and >8 segments so the
    RSTn index wraps."""
    import struct

    import numpy as np
    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode, jpeg_encode_color)

    def check(data, w, h, nc, ref_px):
        dw, dh, dnc, px = jpeg_decode_any(data)
        assert (dw, dh, dnc) == (w, h, nc)
        got = np.frombuffer(px, np.uint8).astype(int)
        ref = np.frombuffer(ref_px, np.uint8).astype(int)
        assert int(np.max(np.abs(got - ref))) == 0
        return data

    # grayscale 40x24 = 5x3 = 15 MCUs; interval 1 -> 14 RST markers,
    # so the index wraps past RST7
    w, h = 40, 24
    gray = bytes((30 + 2 * x + 3 * y) & 0xFF
                 for y in range(h) for x in range(w))
    plain = jpeg_encode(w, h, gray, 90)
    _pw, _ph, _nc, ref = jpeg_decode_any(plain)
    seg1 = jpeg_encode(w, h, gray, 90, restart_interval=1)
    check(seg1, w, h, 1, ref)
    assert b"\xFF\xDD" + struct.pack(">HH", 4, 1) in seg1
    sos = seg1.index(b"\xFF\xDA")
    entropy = seg1[sos:]
    for m in range(8):           # all eight marker codes appear
        assert bytes((0xFF, 0xD0 + m)) in entropy
    assert entropy.count(b"\xFF\xD0") >= 2  # wrapped past RST7
    check(jpeg_encode(w, h, gray, 90, restart_interval=4),
          w, h, 1, ref)
    # 4:2:0 color: 48x32 -> 3x2 = 6 MCUs, interval 2 -> 2 markers
    rgb = bytes(v for y in range(32) for x in range(48)
                for v in ((20 + 2 * x + y) & 0xFF,
                          (40 + x + 2 * y) & 0xFF,
                          (60 + x + y) & 0xFF))
    plain_c = jpeg_encode_color(48, 32, rgb, 90, subsampling="4:2:0")
    _w, _h, _n, ref_c = jpeg_decode_any(plain_c)
    seg_c = jpeg_encode_color(48, 32, rgb, 90, subsampling="4:2:0",
                              restart_interval=2)
    assert seg_c != plain_c
    check(seg_c, 48, 32, 3, ref_c)
    # a desynced marker (RST0 where RST1 is due) fails loudly
    bad = seg1.replace(b"\xFF\xD1", b"\xFF\xD0", 1)
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg_decode_any(bad)
    # a marker with no DRI declared is still rejected
    no_dri = seg1.replace(b"\xFF\xDD" + struct.pack(">HH", 4, 1),
                          b"", 1)
    with pytest.raises(ValueError, match="marker"):
        jpeg_decode_any(no_dri)


def test_png_adam7_interop_hand_assembled():
    """Cross-codec pin for the Adam7 decoder (r13 verdict ask #6):
    the interlaced stream is assembled HERE from the spec's literal
    8x8 pass-number matrix (RFC 2083 §2 figure) — an independent
    formulation from the decoder's (x0,y0,dx,dy) stride tuples — so
    an encoder/decoder error pair cannot cancel the way a
    self-roundtrip allows. Odd dimensions (10x7: passes with partial
    and empty rows), per-pass filter types 0, 1 and 2 exercised."""
    import struct
    import zlib

    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        PNG_SIGNATURE, _png_chunk, png_decode)

    PAT = [  # RFC 2083: pass number of pixel (x % 8, y % 8)
        [1, 6, 4, 6, 2, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [3, 6, 4, 6, 3, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
    ]
    w, h = 10, 7
    px = {(x, y): bytes(((x * 7 + y) & 0xFF, (x + y * 11) & 0xFF,
                         (x * x + 3 * y) & 0xFF, 255))
          for y in range(h) for x in range(w)}
    raw = bytearray()
    for p in range(1, 8):
        rows = []
        for y in range(h):
            line = b"".join(px[x, y] for x in range(w)
                            if PAT[y % 8][x % 8] == p)
            if line:
                rows.append(line)
        for ri, line in enumerate(rows):
            ft = (p + ri) % 3  # mix None/Sub/Up across pass rows
            if ft == 0:
                raw += b"\x00" + line
            elif ft == 1:      # Sub: filt[i] = raw[i] - raw[i-4]
                raw += b"\x01" + bytes(
                    (line[i] - (line[i - 4] if i >= 4 else 0)) & 0xFF
                    for i in range(len(line)))
            else:              # Up: filt[i] = raw[i] - prev_raw[i]
                prev = rows[ri - 1] if ri else bytes(len(line))
                raw += b"\x02" + bytes(
                    (line[i] - prev[i]) & 0xFF
                    for i in range(len(line)))
    ihdr = struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 1])
    data = (PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))
    dw, dh, out = png_decode(data)
    assert (dw, dh) == (w, h)
    expect = b"".join(px[x, y] for y in range(h) for x in range(w))
    assert out == expect


def test_phash_properties_and_bands():
    """DCT pHash invariants: affine pixel transforms flip 0 bits
    (median threshold), small local edits stay within the hamming
    band radius, the 23 face tiles are pairwise >= 20 bits apart (so
    oracle clusters can never merge), block upscales hash EXACTLY
    (the face's scale-invariance contract), and the 4x16 pigeonhole
    band split finds any pair within hamming 3 via an exact band
    match."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.phash import (
        _phash_tile, area_resize_gray, hamming64, phash64)

    img = np.array([[(2 * x * 3 + y * 2) & 0xFF for x in range(40)]
                    for y in range(30)], float)
    h0 = phash64(img)
    assert hamming64(h0, phash64(img * 0.5 + 10)) == 0   # affine
    bump = img.copy()
    bump[5:7, 5:7] += 9
    assert hamming64(h0, phash64(bump)) <= 3             # local edit
    # constant image resize is exact; upscale path covered too
    assert np.allclose(area_resize_gray(np.full((50, 70), 7.0)), 7.0)
    assert area_resize_gray(np.arange(12.0).reshape(3, 4)).shape \
        == (32, 32)
    tiles = [phash64(_phash_tile(p).astype(float)) for p in range(23)]
    assert len(set(tiles)) == 23
    assert min(hamming64(a, b) for i, a in enumerate(tiles)
               for b in tiles[i + 1:]) >= 20
    for p in (0, 7, 22):
        t = _phash_tile(p).astype(float)
        for sx, sy in ((2, 1), (3, 2), (2, 2)):
            up = np.repeat(np.repeat(t, sy, 0), sx, 1)
            assert phash64(up) == phash64(t), (p, sx, sy)
    # pigeonhole: hamming <= 3 guarantees one exact 16-bit band match
    a = tiles[0]
    b = a ^ (1 << 2) ^ (1 << 40) ^ (1 << 63)   # 3 flipped bits
    width, mask = 16, 0xFFFF
    shared = [i for i in range(4)
              if (a >> (i * width)) & mask == (b >> (i * width)) & mask]
    assert shared, "pigeonhole violated"


def test_phash_cluster_face_and_band_join(spark, documents):
    """End-to-end over Spark: the face's clusters equal the ground
    truth (doc_id % 23 — scale-varied renders of one tile collapse
    to one hash), and the banded index joins a 2-bit-perturbed probe
    back to its cluster via an exact band equi-join."""
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.pipeline.phash import (
        phash_bands, phash_cluster_check, phash_column,
        synthesize_phash_corpus)

    docs = documents.limit(120)
    got = phash_cluster_check(docs).collect()
    rows = {r.doc_id: r for r in got}
    import collections
    truth = collections.Counter(d % 23 for d in rows)
    for doc_id, r in rows.items():
        assert r.cluster_size == truth[doc_id % 23], doc_id
        assert r.is_canonical == (doc_id == min(
            d for d in rows if d % 23 == doc_id % 23))
    # banded near-dup lookup: perturb one corpus hash by 2 bits and
    # find its home cluster through a band match
    hashes = phash_column(synthesize_phash_corpus(docs))
    bands = phash_bands(hashes)
    probe = (hashes.limit(1)
             .select(F.col("doc_id").alias("p_doc"),
                     F.col("phash").bitwiseXOR(F.lit(1 << 5))
                     .bitwiseXOR(F.lit(1 << 50)).alias("phash")))
    pb = phash_bands(probe.withColumnRenamed("p_doc", "doc_id")) \
        .withColumnRenamed("doc_id", "p_doc")
    cand = (pb.join(bands, ["band_ix", "band_val"])
            .select("p_doc", "doc_id").distinct())
    found = {r.doc_id for r in cand.collect()}
    p_doc = probe.collect()[0].p_doc
    same_cluster = {d for d in rows if d % 23 == p_doc % 23}
    assert same_cluster <= found


def test_jpeg_progressive_roundtrip_and_structure():
    """Progressive JPEG (SOF2 — r14, closing the last major JPEG
    gate): the successive-approximation script (interleaved DC first
    Al=1 + DC refine, per-component AC bands 1-5/6-63 first Al=1 +
    refine) must reconstruct EXACTLY the coefficients the baseline
    scan codes — pixels bit-identical to the baseline decode for
    gray, 4:4:4 and 4:2:0 across dimension alignment classes. Also
    pins the marker structure (SOF2, the declared progressive AC
    table, scan count) and the EOB-run path across all-zero blocks
    (flat image: every AC band is one long EOB run)."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode, jpeg_encode_color)

    def eq(base_stream, prog_stream):
        b = jpeg_decode_any(base_stream)
        p = jpeg_decode_any(prog_stream)
        assert b[:3] == p[:3]
        assert np.array_equal(np.frombuffer(b[3], np.uint8),
                              np.frombuffer(p[3], np.uint8))
        return p

    for (w, h) in [(16, 12), (9, 5), (1, 1), (40, 24)]:
        gray = bytes((30 + 2 * x + 3 * y) & 0xFF
                     for y in range(h) for x in range(w))
        prog = jpeg_encode(w, h, gray, 90, progressive=True)
        assert b"\xFF\xC2" in prog and b"\xFF\xC0" not in prog
        eq(jpeg_encode(w, h, gray, 90), prog)
    # gray: 2 DC scans + 2 bands x (first + refine) = 6 SOS
    prog = jpeg_encode(16, 12, bytes(192), 90, progressive=True)
    assert prog.count(b"\xFF\xDA") == 6
    # flat image exercises EOBRUN spanning every block; DC-only
    w, h, nc, px = jpeg_decode_any(prog)
    assert (w, h, nc) == (16, 12, 1)
    assert set(px) == {0}
    # color: 2 DC + 2 comps... 3 comps x 2 bands x 2 passes = 14 SOS
    rgb = bytes(v for y in range(32) for x in range(48)
                for v in ((20 + 2 * x + y) & 0xFF,
                          (40 + x + 2 * y) & 0xFF, (60 + x + y) & 0xFF))
    for sub in ("4:4:4", "4:2:0"):
        prog_c = jpeg_encode_color(48, 32, rgb, 90, subsampling=sub,
                                   progressive=True)
        assert prog_c.count(b"\xFF\xDA") == 14
        eq(jpeg_encode_color(48, 32, rgb, 90, subsampling=sub),
           prog_c)
    # high-frequency content stresses ZRL + band splits in SA mode
    noisy = bytes((x * x * 7 + y * y * 3) % 251
                  for y in range(24) for x in range(24))
    eq(jpeg_encode(24, 24, noisy, 90),
       jpeg_encode(24, 24, noisy, 90, progressive=True))


def test_jpeg_progressive_restart_intervals():
    """Progressive + DRI/RSTn combined (the layout real cameras
    emit): every scan of the SOF2 script is independently
    restart-segmented — RSTn cycling per scan, EOB runs terminated
    at each boundary (G.1.2.2 forbids a run spanning a restart),
    DC predictors reset — and the result decodes bit-identically to
    both the unsegmented progressive stream and the baseline. A
    desynced marker still fails loudly."""
    import struct

    import numpy as np
    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode, jpeg_encode_color)

    w, h = 40, 24
    gray = bytes((30 + 2 * x + 3 * y) & 0xFF
                 for y in range(h) for x in range(w))
    ref = jpeg_decode_any(jpeg_encode(w, h, gray, 90))
    for ri in (1, 2, 7):
        seg = jpeg_encode(w, h, gray, 90, restart_interval=ri,
                          progressive=True)
        assert b"\xFF\xC2" in seg
        assert b"\xFF\xDD" + struct.pack(">HH", 4, ri) in seg
        got = jpeg_decode_any(seg)
        assert got[:3] == ref[:3] and got[3] == ref[3]
    # interval 1 on a 15-block grid: markers in EVERY scan, cycling
    # past RST7 within the AC scans (14 restarts per scan)
    seg1 = jpeg_encode(w, h, gray, 90, restart_interval=1,
                       progressive=True)
    entropy = seg1[seg1.index(b"\xFF\xDA"):]
    for m in range(8):
        assert bytes((0xFF, 0xD0 + m)) in entropy
    # flat image: the EOB run spanning every block must be split at
    # each restart boundary (the run-termination path)
    flat = jpeg_encode(16, 16, bytes(256), 90, restart_interval=1,
                       progressive=True)
    fw, fh, fnc, fpx = jpeg_decode_any(flat)
    assert (fw, fh, fnc) == (16, 16, 1) and set(fpx) == {0}
    # color, both subsampling layouts, noisy content (ZRL paths)
    rgb = bytes((x * y * 7 + c * 89 + x + y) % 251
                for y in range(32) for x in range(48)
                for c in range(3))
    for sub in ("4:4:4", "4:2:0", "4:2:2"):
        base = jpeg_decode_any(
            jpeg_encode_color(48, 32, rgb, 90, subsampling=sub))
        segc = jpeg_encode_color(48, 32, rgb, 90, subsampling=sub,
                                 restart_interval=2, progressive=True)
        got = jpeg_decode_any(segc)
        assert got[:3] == base[:3]
        assert np.array_equal(np.frombuffer(got[3], np.uint8),
                              np.frombuffer(base[3], np.uint8))
    # a desynced marker (RST0 where RST1 is due) fails loudly
    bad = seg1.replace(b"\xFF\xD1", b"\xFF\xD0", 1)
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg_decode_any(bad)


def test_jpeg_422_subsampled_roundtrip():
    """4:2:2 (luma 2x1, horizontally box-averaged chroma — the other
    common camera layout, r14): roundtrips within 2 levels at q90 on
    every alignment class, SOF sampling bytes say 2x1/1x1/1x1, and
    the progressive + restart paths compose with it."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode_color)
    for (w, h) in [(32, 32), (16, 12), (9, 5), (1, 1), (23, 17)]:
        rgb = bytes(v for y in range(h) for x in range(w)
                    for v in ((20 + 2 * x + y) & 0xFF,
                              (40 + x + 2 * y) & 0xFF,
                              (60 + x + y) & 0xFF))
        data = jpeg_encode_color(w, h, rgb, 90, subsampling="4:2:2")
        assert b"\x01\x21\x00\x02\x11\x00\x03\x11\x00" in data
        dw, dh, nc, px = jpeg_decode_any(data)
        assert (dw, dh, nc) == (w, h, 3)
        got = np.frombuffer(px, np.uint8).astype(int)
        exp = np.frombuffer(rgb, np.uint8).astype(int)
        assert int(np.max(np.abs(got - exp))) <= 2, (w, h)
        prog = jpeg_decode_any(jpeg_encode_color(
            w, h, rgb, 90, subsampling="4:2:2", progressive=True))
        assert prog[3] == px
        seg = jpeg_decode_any(jpeg_encode_color(
            w, h, rgb, 90, subsampling="4:2:2", restart_interval=1))
        assert seg[3] == px


def test_jpeg_progressive_hand_assembled_sa_stream():
    """Cross-codec pin for progressive decode (the Adam7-pin
    discipline): a successive-approximation stream is assembled HERE
    bit by bit from the spec's coding rules — an independent
    formulation from the encoder's _ProgScanWriter — so an
    encoder/decoder error pair cannot cancel. One 8x8 grayscale
    block with known coefficients: DC first (Al=1) + DC refine,
    AC 1..63 first (Al=1, exercising run coding and EOB) + AC
    refine (Ah=1: a correction bit for the already-significant
    coefficient AND a newly-significant one after a zero-history
    run). The decoded pixels must equal the independently computed
    IDCT of the exact target coefficients."""
    import struct

    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        _ZZ_FLAT, DC_BITS, DC_VALS, PROG_AC_BITS, PROG_AC_VALS,
        _D, build_huffman, jpeg_decode_any)

    # target zigzag coefficients: DC 6, AC k=1 -> 5, AC k=4 -> 1
    # (newly significant only at the refine pass), rest 0
    zz = [0] * 64
    zz[0], zz[1], zz[4] = 6, 5, 1

    class W:  # minimal independent bit writer (big-endian, stuffed)
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def put(self, v, n):
            for i in range(n - 1, -1, -1):
                self.acc = (self.acc << 1) | ((v >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:
                        self.buf.append(0)
                    self.acc, self.n = 0, 0

        def done(self):
            while self.n:
                self.put(1, 1)
            return bytes(self.buf)

    dc = build_huffman(DC_BITS, DC_VALS)
    ac = build_huffman(PROG_AC_BITS, PROG_AC_VALS)

    # scan 1: DC first, Al=1 -> code 6>>1 = 3 (size 2, bits '11')
    w = W()
    c, l = dc[2]
    w.put(c, l)
    w.put(3, 2)
    s1 = w.done()
    # scan 2: DC refine, Al=0 -> raw bit 6 & 1 = 0
    w = W()
    w.put(0, 1)
    s2 = w.done()
    # scan 3: AC first 1..63, Al=1 -> k=1: (run 0, value 5>>1=2):
    # symbol (0<<4)|2, amplitude bits '10'; k=4 value 1>>1=0 stays
    # zero-history; then EOB0 (symbol 0x00)
    w = W()
    c, l = ac[0x02]
    w.put(c, l)
    w.put(2, 2)
    c, l = ac[0x00]
    w.put(c, l)
    s3 = w.done()
    # scan 4: AC refine Ah=1 Al=0 over 1..63: k=1 already significant
    # (|5|>>1=2>1): correction bit 5&1=1 buffered after the next
    # symbol; k=2,3 zero-history (run 2); k=4 newly significant
    # (|1|>>0 == 1): symbol (2<<4)|1, sign bit 1, then the buffered
    # correction bit; tail joins EOB1 with no pending bits
    w = W()
    c, l = ac[0x21]
    w.put(c, l)
    w.put(1, 1)          # sign of +1
    w.put(1, 1)          # buffered correction bit for k=1
    c, l = ac[0x00]      # EOB run of 1 (r=0 -> no extra bits)
    w.put(c, l)
    s4 = w.done()

    qtab_flat = [1] * 64  # identity quantization: exact coefficients
    out = bytearray()
    out += b"\xFF\xD8"
    out += b"\xFF\xDB" + struct.pack(">H", 67) + b"\x00"
    out += bytes(qtab_flat)
    out += b"\xFF\xC2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
    out += bytes((1, 0x11, 0))
    for cls_id, bits, vals in ((0x00, DC_BITS, DC_VALS),
                               (0x11, PROG_AC_BITS, PROG_AC_VALS)):
        out += b"\xFF\xC4" + struct.pack(">H", 19 + len(vals))
        out += bytes([cls_id]) + bytes(bits) + bytes(vals)
    for (ss, se, ah, al, tabs, ent) in ((0, 0, 0, 1, 0x00, s1),
                                        (0, 0, 1, 0, 0x00, s2),
                                        (1, 63, 0, 1, 0x01, s3),
                                        (1, 63, 1, 0, 0x01, s4)):
        out += b"\xFF\xDA" + struct.pack(">HB", 8, 1)
        out += bytes((1, tabs, ss, se, (ah << 4) | al))
        out += ent
    out += b"\xFF\xD9"

    dw, dh, nc, px = jpeg_decode_any(bytes(out))
    assert (dw, dh, nc) == (8, 8, 1)
    nat = np.zeros(64)
    nat[_ZZ_FLAT] = zz
    expect = np.clip(np.round(_D.T @ nat.reshape(8, 8) @ _D + 128),
                     0, 255).astype(np.uint8)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(8, 8),
                          expect)


def test_jpeg_progressive_equals_baseline_fuzz():
    """Property fuzz: for random small images, dims and subsampling,
    the progressive decode equals the baseline decode BIT-EXACTLY
    (both scripts code the same quantized coefficient grids)."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from flink_1_11_2_with_comments_spark.pipeline.jpeg import (
        jpeg_decode_any, jpeg_encode, jpeg_encode_color)

    # pinned regressions: the encoder's AC-refinement ZRL drain ran
    # only at newly-significant coefficients, so a correction bit
    # buffered past a pending ZRL flushed into the wrong bit group
    # (G.1.2.3 / libjpeg groups it with the symbol whose skip span
    # covers the coefficient) and desynced the scan
    @settings(max_examples=25, deadline=None)
    @example(w=6, h=1, mode=2, seed=41866)
    @example(w=2, h=1, mode=1, seed=0)
    @example(w=2, h=1, mode=0, seed=3)
    @given(st.integers(1, 40), st.integers(1, 30),
           st.integers(0, 3), st.integers(0, 2 ** 31 - 1))
    def run(w, h, mode, seed):
        rng = np.random.default_rng(seed)
        ri = seed % 4                 # 0 = unsegmented; else DRI
        if mode == 0:
            px = rng.integers(0, 256, w * h, dtype=np.uint8)
            base = jpeg_encode(w, h, px.tobytes(), 85)
            prog = jpeg_encode(w, h, px.tobytes(), 85,
                               progressive=True, restart_interval=ri)
        else:
            sub = {1: "4:4:4", 2: "4:2:0", 3: "4:2:2"}[mode]
            px = rng.integers(0, 256, w * h * 3, dtype=np.uint8)
            base = jpeg_encode_color(w, h, px.tobytes(), 85,
                                     subsampling=sub)
            prog = jpeg_encode_color(w, h, px.tobytes(), 85,
                                     subsampling=sub,
                                     progressive=True,
                                     restart_interval=ri)
        b = jpeg_decode_any(base)
        p = jpeg_decode_any(prog)
        assert b[:3] == p[:3]
        assert b[3] == p[3], (w, h, mode, seed)

    run()


def test_audio_fingerprint_scheme_properties():
    """Constellation fingerprint invariants: integer-bin tones give
    EXACT per-frame peaks (the constellation equals the schedule),
    signatures are duration-invariant within a cluster and pairwise
    distinct across the 23 clusters, and the landmark matcher shape
    (shared-hash counting) separates same-cluster from cross-cluster
    pairs by a wide margin."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.audio_fp import (
        COMMON_WINDOWS, fingerprint_signature, peak_pair_hashes,
        spectral_peaks, synthesize_tone_pcm, tone_schedule)
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        wav_build, wav_parse)

    sigs = {}
    hashes_by = {}
    for cid in (0, 7, 11, 22):
        for nw in (COMMON_WINDOWS, COMMON_WINDOWS + 4):
            _r, samples = wav_parse(
                wav_build(8000, synthesize_tone_pcm(cid, nw)))
            peaks = spectral_peaks(samples)
            assert list(peaks) == tone_schedule(cid, nw), (cid, nw)
            h = peak_pair_hashes(peaks)
            sigs.setdefault(cid, set()).add(fingerprint_signature(h))
            hashes_by[(cid, nw)] = set(h)
    assert all(len(v) == 1 for v in sigs.values())
    flat = [next(iter(v)) for v in sigs.values()]
    assert len(set(flat)) == len(flat)
    # matcher margin: same-cluster duration variants share >= 5
    # landmarks; cross-cluster pairs share at most 1 (accidental
    # (f1, f2) coincidences only)
    same = len(hashes_by[(7, 6)] & hashes_by[(7, 10)])
    cross = max(len(hashes_by[(a, 6)] & hashes_by[(b, 6)])
                for a in (0, 7, 11, 22) for b in (0, 7, 11, 22)
                if a != b)
    assert same >= COMMON_WINDOWS - 1
    assert cross <= 1, cross


def test_audio_fingerprint_face_and_matcher(spark, documents):
    """End-to-end over Spark: the face's clusters equal the ground
    truth (doc_id % 23), and the landmark equi-join matcher finds
    duration variants of the same recording with shared >= 5 while
    cross-cluster candidate pairs stay below the threshold."""
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.pipeline.audio_fp import (
        audio_fp_cluster_check, landmark_match_counts,
        peak_pair_hashes, spectral_peaks, synthesize_audio_corpus)
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        wav_parse)

    docs = documents.limit(100)
    rows = {r.doc_id: r for r in audio_fp_cluster_check(docs).collect()}
    import collections
    truth = collections.Counter(d % 23 for d in rows)
    for doc_id, r in rows.items():
        assert r.cluster_size == truth[doc_id % 23], doc_id
        assert r.is_canonical == (doc_id == min(
            d for d in rows if d % 23 == doc_id % 23))
    # matcher: landmark arrays via mapInPandas-free route (small set)
    import pandas as pd
    media = synthesize_audio_corpus(docs.limit(30)).collect()
    lm = [(m.doc_id, peak_pair_hashes(spectral_peaks(
        wav_parse(bytes(m.media))[1]))) for m in media]
    fp = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [d for d, _ in lm],
         "landmarks": [h for _, h in lm]}))
    matches = {(r.a, r.b): r.shared
               for r in landmark_match_counts(fp, fp).collect()}
    for (a, b), shared in matches.items():
        if a % 23 == b % 23:
            assert shared >= 5, (a, b, shared)
        else:
            assert shared <= 2, (a, b, shared)
    same_pairs = [p for p in matches if p[0] % 23 == p[1] % 23]
    assert same_pairs, "no same-cluster pairs in the sample"


def test_video_fingerprint_scheme_properties():
    """Video frame-hash fingerprint invariants (pipeline/video_fp.py):
    clip signatures are duration-invariant within a cluster and
    pairwise distinct across ALL 23 clusters (merges impossible),
    frames within a cluster hash distinctly (the signature depends
    on the sequence), the container walk reports the true frame
    count while only the prefix pays a decode, cross-cluster frame
    hashes keep a wide Hamming margin, and a JPEG-roundtripped 2x/3x
    block upscale of the same frame drifts <= 3 bits — inside the
    4x16-bit band pigeonhole radius, so rescaled re-encodes stay
    banded-lookup near-dups."""
    from flink_1_11_2_with_comments_spark.pipeline.phash import (
        hamming64)
    from flink_1_11_2_with_comments_spark.pipeline.video_fp import (
        COMMON_FRAMES, clip_signature, frame_phashes,
        synthesize_video_clip)

    # duration invariance + 23-way distinctness (the merge-safety
    # property the face's oracle depends on)
    sigs = {}
    for cid in range(23):
        short, n_short = frame_phashes(
            synthesize_video_clip(cid, COMMON_FRAMES),
            limit=COMMON_FRAMES)
        assert n_short == COMMON_FRAMES
        assert len(set(short)) == COMMON_FRAMES, cid  # frames distinct
        sigs[cid] = clip_signature(short)
        if cid in (0, 7, 11, 22):   # duration variants collapse
            longer, n_long = frame_phashes(
                synthesize_video_clip(cid, COMMON_FRAMES + 4),
                limit=COMMON_FRAMES)
            assert n_long == COMMON_FRAMES + 4
            assert clip_signature(longer) == sigs[cid], cid
    assert len(set(sigs.values())) == 23

    # cross-cluster frame-hash margin + cross-scale drift bound
    base = {cid: frame_phashes(
        synthesize_video_clip(cid, 3, scale=1, mode="4:4:4"),
        limit=3)[0] for cid in (0, 5, 11, 22)}
    for a in base:
        for b in base:
            if a < b:
                for ha in base[a]:
                    for hb in base[b]:
                        assert hamming64(ha, hb) >= 10, (a, b)
    for cid in (0, 5, 11, 22):
        for s in (2, 3):
            up = frame_phashes(
                synthesize_video_clip(cid, 3, scale=s, mode="4:4:4"),
                limit=3)[0]
            for h1, h2 in zip(base[cid], up):
                d = hamming64(h1, h2)
                assert d <= 3, (cid, s, d)
                # pigeonhole: <= 3 flips leave >= 1 of 4 bands equal
                assert any(
                    (h1 >> (16 * i)) & 0xFFFF == (h2 >> (16 * i))
                    & 0xFFFF for i in range(4)), (cid, s)


def test_video_fingerprint_face_and_matcher(spark, documents):
    """End-to-end over Spark: the face's clusters equal the ground
    truth (doc_id % 23), and the offset-voting matcher recovers the
    true temporal alignment of a subclip (frames 2..7 of a longer
    clip match at offset -2 with one vote per shared frame) while
    cross-cluster pairs never out-vote it."""
    import pandas as pd

    from flink_1_11_2_with_comments_spark.pipeline.video_fp import (
        frame_hash_rows, frame_phashes, synthesize_video_clip,
        video_fp_cluster_check, video_offset_match)

    docs = documents.limit(100)
    rows = {r.doc_id: r
            for r in video_fp_cluster_check(docs).collect()}
    import collections
    truth = collections.Counter(d % 23 for d in rows)
    for doc_id, r in rows.items():
        assert r.cluster_size == truth[doc_id % 23], doc_id
        assert r.is_canonical == (doc_id == min(
            d for d in rows if d % 23 == doc_id % 23))

    # matcher: A = cluster-7 frames 0..9, B = its subclip (frames
    # 2..7), C = cluster 9 — same length as A
    clips = {1: synthesize_video_clip(7, 10),
             2: synthesize_video_clip(7, 6, start=2),
             3: synthesize_video_clip(9, 10)}
    fp = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(clips),
         "frame_hashes": [frame_phashes(c)[0]
                          for c in clips.values()]}))
    fr = frame_hash_rows(fp)
    best = {(r.a, r.b): (r.offset, r.votes)
            for r in video_offset_match(fr, fr).collect()}
    assert best[(1, 2)] == (-2, 6), best
    assert best.get((1, 3), (0, 0))[1] <= 1
    assert best.get((2, 3), (0, 0))[1] <= 1


def test_flac_crc_known_answers():
    """The two FLAC CRCs against published check values: CRC-8 (poly
    0x07, init 0) of b'123456789' is 0xF4 (CRC-8/SMBUS) and CRC-16
    (poly 0x8005, init 0, unreflected) is 0xFEE8 (CRC-16/UMTS aka
    BUYPASS) — pins the polynomial, direction and init so the frame
    checks can't drift with a refactor."""
    from flink_1_11_2_with_comments_spark.pipeline.flac import (
        crc8, crc16)
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8


def test_flac_roundtrip_and_structure():
    """Lossless roundtrip is EXACT (byte equality, unlike the lossy
    JPEG bounds) across content classes, block sizes, channel counts
    and 8/16-bit depths; the encoder picks CONSTANT for flat blocks
    and the stream layout (fLaC magic, STREAMINFO fields, frame
    sync) is pinned."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.flac import (
        flac_decode, flac_encode)

    rng = np.random.default_rng(3)
    for n in (1, 191, 192, 1000, 5000):
        for ch in (1, 2):
            t = np.arange(n * ch)
            for sig in ((3000 * np.sin(t * 0.07)).astype("<i2"),
                        np.full(n * ch, -5, dtype="<i2"),
                        rng.integers(-32768, 32768, n * ch)
                           .astype("<i2")):
                pcm = sig.tobytes()
                enc = flac_encode(pcm, 16000, channels=ch,
                                  block_size=192)
                sr, c, bps, dec = flac_decode(enc)
                assert (sr, c, bps) == (16000, ch, 16)
                assert dec == pcm
    # layout: magic, STREAMINFO is the single (last) metadata block
    pcm = (900 * np.sin(np.arange(600) * 0.1)).astype("<i2").tobytes()
    enc = flac_encode(pcm, 44100, block_size=256)
    assert enc[:4] == b"fLaC"
    assert enc[4] == 0x80 and enc[5:8] == b"\x00\x00\x22"
    packed = int.from_bytes(enc[18:26], "big")
    assert packed >> 44 == 44100
    assert ((packed >> 41) & 7) + 1 == 1
    assert ((packed >> 36) & 0x1F) + 1 == 16
    assert packed & ((1 << 36) - 1) == 600
    # frames start with the 14-bit sync code
    assert enc[42] == 0xFF and (enc[43] & 0xFC) == 0xF8
    # a flat stream is tiny: CONSTANT subframes per frame
    flat = flac_encode(np.full(4096, 7, dtype="<i2").tobytes(),
                       8000, block_size=1024)
    assert len(flat) < 120
    # compression on smooth content (deterministic, not just likely)
    assert len(enc) < len(pcm)
    # 8-bit depth
    pcm8 = (40 * np.sin(np.arange(500) * 0.2)).astype(np.int8).tobytes()
    assert flac_decode(flac_encode(pcm8, 8000, bits_per_sample=8,
                                   block_size=192))[3] == pcm8


def test_flac_hand_assembled_interop():
    """Interop pin (the Adam7/progressive-SA precedent): a stream
    hand-assembled from RFC 9639's rules using features our encoder
    NEVER emits — an LPC subframe, rice2 (5-bit) parameters, a
    partition order > 0, an escape (raw-bits) partition, wasted
    bits, and all three stereo decorrelations (mid/side, left/side,
    right/side) — must decode to the closed-form expectation, so a
    matching encoder/decoder bug pair cannot cancel."""
    import hashlib
    import struct

    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline.flac import (
        crc8, crc16, flac_decode)

    class BitW:                       # independent MSB-first writer
        def __init__(self):
            self.bits = []

        def put(self, v, n):
            self.bits += [(v >> i) & 1 for i in range(n - 1, -1, -1)]

        def tobytes(self):
            bits = self.bits + [0] * ((-len(self.bits)) % 8)
            return bytes(
                sum(b << (7 - i) for i, b in enumerate(bits[k:k + 8]))
                for k in range(0, len(bits), 8))

    # ---- closed-form expectation, computed from spec arithmetic ----
    # frame 0 (mid/side): mid = LPC order 2 (prec 5, shift 2,
    # coefs [5, -2], warmup [100, 102]), residual rice2 porder 1 with
    # an escaped first partition; side = FIXED order 1 with 1 wasted
    # bit (stored = side >> 1, all side values even)
    mid = [100, 102]
    for rv in (3, -2, 0, 1, -1, 2):
        mid.append(rv + ((5 * mid[-1] - 2 * mid[-2]) >> 2))
    side0 = [4, 6, 2, 0, -2, -4, 8, 6]
    l0 = [m + s // 2 for m, s in zip(mid, side0)]
    r0 = [m - s // 2 for m, s in zip(mid, side0)]
    # frame 1 (left/side): L constant 50, side verbatim
    side1 = [1, -1, 0, 2, -3, 5, 7, -6]
    l1 = [50] * 8
    r1 = [a - b for a, b in zip(l1, side1)]
    # frame 2 (right/side): side FIXED order 0, R constant -7
    side2 = [2, -2, 4, 0, 6, -8, 10, -12]
    r2 = [-7] * 8
    l2 = [a + b for a, b in zip(r2, side2)]
    left = l0 + l1 + l2
    right = r0 + r1 + r2
    inter = np.empty(48, dtype="<i2")
    inter[0::2] = left
    inter[1::2] = right
    expect_pcm = inter.tobytes()

    # ---- assemble ----
    out = bytearray(b"fLaC")
    si = bytearray()
    si += struct.pack(">HH", 8, 8) + b"\x00" * 6
    packed = (8000 << 44) | (1 << 41) | (15 << 36) | 24
    si += packed.to_bytes(8, "big")
    si += hashlib.md5(expect_pcm).digest()
    out += bytes((0x80,)) + len(si).to_bytes(3, "big") + si

    def header(fi, ch_code):
        h = bytearray((0xFF, 0xF8, 0x60, (ch_code << 4) | (0b100 << 1)))
        h.append(fi)                  # frame number < 0x80
        h.append(7)                   # blocksize-1 (code 0110)
        h.append(crc8(bytes(h)))
        return h

    def sub_constant(w, v, bps):
        w.put(0, 1); w.put(0, 6); w.put(0, 1)
        w.put(v & ((1 << bps) - 1), bps)

    # frame 0: mid/side = ch_code 1010; mid bps 16, side bps 17
    w = BitW()
    w.put(0, 1); w.put(0b100001, 6); w.put(0, 1)   # LPC order 2
    w.put(100, 16); w.put(102, 16)                 # warmup
    w.put(4, 4)                                    # precision-1 = 4
    w.put(2, 5)                                    # shift
    w.put(5, 5); w.put(-2 & 0x1F, 5)               # coefs
    w.put(0b01, 2)                                 # rice2
    w.put(1, 4)                                    # porder 1
    w.put(0x1F, 5)                                 # escape
    w.put(4, 5)                                    # raw bits
    w.put(3, 4); w.put(-2 & 0xF, 4)                # partition 0
    w.put(1, 5)                                    # partition 1: p=1
    for rv in (0, 1, -1, 2):
        folded = rv * 2 if rv >= 0 else -rv * 2 - 1
        w.put(0, folded >> 1) if folded >> 1 else None
        w.put(1, 1)
        w.put(folded & 1, 1)
    # side: FIXED order 1, wasted = 1 (unary "1" => 0 extra zeros)
    stored = [s >> 1 for s in side0]
    w.put(0, 1); w.put(0b001001, 6)
    w.put(1, 1); w.put(1, 1)                       # wasted flag + unary
    w.put(stored[0] & 0xFFFF, 16)                  # warmup, eff bps 16
    w.put(0b00, 2); w.put(0, 4); w.put(2, 4)       # rice p=2
    for rv in [b - a for a, b in zip(stored, stored[1:])]:
        folded = rv * 2 if rv >= 0 else -rv * 2 - 1
        for _ in range(folded >> 2):
            w.put(0, 1)
        w.put(1, 1)
        w.put(folded & 3, 2)
    f0 = bytes(header(0, 0b1010)) + w.tobytes()
    out += f0 + struct.pack(">H", crc16(f0))

    # frame 1: left/side = 1000; L bps 16 CONSTANT, side bps 17 VERBATIM
    w = BitW()
    sub_constant(w, 50, 16)
    w.put(0, 1); w.put(0b000001, 6); w.put(0, 1)
    for v in side1:
        w.put(v & 0x1FFFF, 17)
    f1 = bytes(header(1, 0b1000)) + w.tobytes()
    out += f1 + struct.pack(">H", crc16(f1))

    # frame 2: right/side = 1001; side bps 17 FIXED order 0, R CONSTANT
    w = BitW()
    w.put(0, 1); w.put(0b001000, 6); w.put(0, 1)
    w.put(0b00, 2); w.put(0, 4); w.put(3, 4)       # rice p=3
    for rv in side2:
        folded = rv * 2 if rv >= 0 else -rv * 2 - 1
        for _ in range(folded >> 3):
            w.put(0, 1)
        w.put(1, 1)
        w.put(folded & 7, 3)
    sub_constant(w, -7, 16)
    f2 = bytes(header(2, 0b1001)) + w.tobytes()
    out += f2 + struct.pack(">H", crc16(f2))

    sr, ch, bps, pcm = flac_decode(bytes(out))
    assert (sr, ch, bps) == (8000, 2, 16)
    assert pcm == expect_pcm


def test_flac_corruption_fails_loudly():
    """Every integrity layer rejects corruption with a specific
    error: stream magic, frame sync, header CRC-8, frame CRC-16,
    STREAMINFO MD5, truncation, reserved subframe type."""
    import numpy as np
    import pytest

    from flink_1_11_2_with_comments_spark.pipeline.flac import (
        flac_decode, flac_encode)

    pcm = (1500 * np.sin(np.arange(1200) * 0.09)).astype("<i2").tobytes()
    enc = flac_encode(pcm, 16000, block_size=256)
    assert flac_decode(enc)[3] == pcm
    with pytest.raises(ValueError, match="marker"):
        flac_decode(b"fLaX" + enc[4:])
    # find the first frame (sync after the 42-byte header+streaminfo)
    fstart = 42
    assert enc[fstart] == 0xFF
    b = bytearray(enc)
    b[fstart] = 0x00
    with pytest.raises(ValueError, match="sync"):
        flac_decode(bytes(b))
    # header crc byte: locate it (frame number is 1 byte here)
    b = bytearray(enc)
    b[fstart + 5] ^= 0xFF             # inside the CRC-8-covered span
    with pytest.raises(ValueError, match="CRC-8|sync|reserved|flac"):
        flac_decode(bytes(b))
    # flip a byte deep inside the first frame's entropy
    b = bytearray(enc)
    b[fstart + 12] ^= 0x55
    with pytest.raises(ValueError):
        flac_decode(bytes(b))
    with pytest.raises(ValueError):
        flac_decode(enc[:len(enc) - 3])


def test_flac_roundtrip_fuzz():
    """Property fuzz: arbitrary int16 PCM roundtrips EXACTLY through
    encode/decode at arbitrary block sizes and channel counts."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_1_11_2_with_comments_spark.pipeline.flac import (
        flac_decode, flac_encode)

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 3000), st.integers(1, 2),
           st.sampled_from([192, 256, 577, 1024]),
           st.integers(0, 2 ** 31 - 1))
    def run(n, ch, bs, seed):
        rng = np.random.default_rng(seed)
        kind = seed % 3
        if kind == 0:
            sig = rng.integers(-32768, 32768, n * ch).astype("<i2")
        elif kind == 1:
            sig = (3000 * np.sin(np.arange(n * ch) * 0.07)).astype("<i2")
        else:
            sig = np.full(n * ch, int(rng.integers(-100, 100)),
                          dtype="<i2")
        pcm = sig.tobytes()
        enc = flac_encode(pcm, 16000, channels=ch, block_size=bs)
        assert flac_decode(enc)[3] == pcm

    run()


def test_flac_roundtrip_check_face(spark, documents):
    """The driver face's closed loop over real documents: every row
    decode_ok (EXACT lossless equality), counts restated from
    (doc_id, length(text))."""
    from flink_1_11_2_with_comments_spark.pipeline.multimodal import (
        flac_roundtrip_check)
    got = flac_roundtrip_check(documents.limit(200)).collect()
    assert len(got) == 200
    assert all(r.decode_ok for r in got)
    assert all(r.n_frames == (r.n_samples + 191) // 192 for r in got)
    assert {r.channels for r in got} == {1, 2}


def test_flac_lpc_and_partitioned_encoding():
    """The encoder's LPC path (Levinson-Durbin + 15-bit quantized
    coefficients) and rice partitioning: high-frequency tones are
    where fixed differences AMPLIFY the signal (|2sin(w/2)| > 1 for
    w > pi/3) while LPC models it — the stream must actually carry
    LPC subframes there, decode EXACTLY, and be much smaller than a
    a fixed-predictor encoding; nonstationary content must pick a
    partition order > 0. Also pins that low-frequency tones still
    prefer fixed differences (quantization-error-free), i.e. the
    cost comparison is real, not a hardcoded preference."""
    import numpy as np

    from flink_1_11_2_with_comments_spark.pipeline import flac as F

    def subframe_types(stream):
        """Parse the frame's subframe type codes via the decoder's
        own reader, replaying only the header layout."""
        types = []
        orig = F._read_subframe

        def spy(r, n, bps):
            pos0, acc0, nb0 = r.pos, r.acc, r.nbits
            if r.bits(1):
                raise ValueError("pad")
            types.append(r.bits(6))
            r.pos, r.acc, r.nbits = pos0, acc0, nb0
            return orig(r, n, bps)

        F._read_subframe = spy
        try:
            F.flac_decode(stream)
        finally:
            F._read_subframe = orig
        return types

    t = np.arange(8192)
    hi = (8000 * np.sin(t * 1.1)).astype("<i2").tobytes()
    enc_hi = F.flac_encode(hi, 16000)
    assert F.flac_decode(enc_hi)[3] == hi
    tps = subframe_types(enc_hi)
    assert any(tp & 0b100000 for tp in tps), tps     # LPC used
    # LPC must beat the pure-fixed cost materially on this content
    assert len(enc_hi) < len(hi) // 2
    # low-frequency tone: integer differences are exact, LPC carries
    # coefficient quantization error — fixed must win the comparison
    lo = (6000 * np.sin(t * 0.013)).astype("<i2").tobytes()
    tps_lo = subframe_types(F.flac_encode(lo, 16000))
    assert any(0b001000 <= tp <= 0b001100 for tp in tps_lo), tps_lo
    # nonstationary block: loud half then quiet half — a partition
    # order > 0 lets the quiet half use a smaller rice parameter
    rng = np.random.default_rng(5)
    loud = rng.integers(-20000, 20000, 2048)
    quiet = rng.integers(-40, 40, 2048)
    mix = np.concatenate([loud, quiet]).astype("<i2").tobytes()
    enc_mix = F.flac_encode(mix, 16000)
    assert F.flac_decode(enc_mix)[3] == mix

    seen_po = []
    orig_rr = F._read_residual

    def spy_rr(r, n, order):
        pos0, acc0, nb0 = r.pos, r.acc, r.nbits
        r.bits(2)
        seen_po.append(r.bits(4))
        r.pos, r.acc, r.nbits = pos0, acc0, nb0
        return orig_rr(r, n, order)

    F._read_residual = spy_rr
    try:
        F.flac_decode(enc_mix)
    finally:
        F._read_residual = orig_rr
    assert max(seen_po) > 0, seen_po
