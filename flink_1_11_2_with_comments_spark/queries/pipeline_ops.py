"""Training-data pipeline operators — queries + oracles.

Every hash here is md5-derived so the DuckDB oracle replays the
Spark computation bit-for-bit (engine-native hash() functions are
not portable). Doubles follow the decimal-accumulate rule from
queries/_util.py. Thresholds are calibrated to the synthetic corpus
(unigram Jaccard median 0.6 / p99 0.93; cosine max ≈ 0.44).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import register
from ._util import dsum, sql_dsum, t

MD5I = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           (length(text) - len(string_split(text, ' ')) + 1)
             * 1.0 / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
    doc="Token counting: whitespace tokens, char count, BPE-estimate "
        "(chars/4), distinct tokens, mean token length — pure expressions, "
        "single scan, no shuffle (pipeline/text.py token_stats).",
)
def text_token_stats(spark, sf_dir):
    from ..pipeline.text import token_stats
    d = t(spark, sf_dir, "documents")
    stats = token_stats("text")
    return d.select("doc_id", *[v.alias(k) for k, v in stats.items()])


@register(
    "text_quality",
    """
    SELECT doc_id,
           length(text) AS len_chars,
           (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]',
                                                 '', 'g')))
             * 1.0 / length(text) AS punct_ratio,
           len(list_filter(string_split(text, ' '),
               tok -> list_contains(['the','and','of','to','a','in','is'], tok)))
             * 1.0 / len(string_split(text, ' ')) AS stopword_ratio,
           (len(string_split(text, ' '))
            - len(list_distinct(string_split(text, ' '))))
             * 1.0 / len(string_split(text, ' ')) AS dup_token_ratio
    FROM documents
    """,
    doc="Quality scoring: length, punctuation ratio, stopword ratio, "
        "repeated-token ratio — the standard corpus filters "
        "(pipeline/text.py quality_features).",
)
def text_quality(spark, sf_dir):
    from ..pipeline.text import quality_features
    d = t(spark, sf_dir, "documents")
    q = quality_features("text")
    return d.select("doc_id",
                    q["len_chars"].alias("len_chars"),
                    q["punct_ratio"].alias("punct_ratio"),
                    q["stopword_ratio"].alias("stopword_ratio"),
                    q["dup_token_ratio"].alias("dup_token_ratio"))


@register(
    "text_langid",
    """
    WITH scored AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['the','and','of','to','a','in','is'], t))) AS s_en,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['el','la','de','que','los','es'], t))) AS s_es,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['le','la','les','des','est','une'], t))) AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_fr >= greatest(s_de, s_en, s_es) AND s_fr > 0 THEN 'fr'
                WHEN s_es >= greatest(s_de, s_en) AND s_es > 0 THEN 'es'
                WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
    FROM scored
    """,
    doc="Language-ID: stopword-marker n-gram heuristic, deterministic "
        "argmax (pipeline/text.py language_id). Oracle re-derives the same "
        "argmax relationally.",
)
def text_langid(spark, sf_dir):
    from ..pipeline.text import language_id
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", language_id("text").alias("lang_pred"))


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(text, ' '),
                 tok -> {MD5I.format(x='tok')} % 1000003)),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
    FROM documents
    """,
    doc="Document fingerprint: order-sensitive polynomial rolling hash over "
        "md5-derived token codes (pipeline/text.py fingerprint) — replayed "
        "by the oracle via list_reduce.",
)
def text_fingerprint(spark, sf_dir):
    from ..pipeline.text import fingerprint
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: md5 of normalized content, keep lowest id — "
        "hash-groupBy, shuffles 16-byte digests not documents "
        "(pipeline/dedup.py exact_dedup).",
)
def dedup_exact(spark, sf_dir):
    from ..pipeline.dedup import exact_dedup
    d = t(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
      FROM documents WHERE doc_id < 100
    ), sz AS (
      SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM toks a JOIN toks b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           ROUND(n_inter * 1.0 / (x.sz + y.sz - n_inter), 9) AS jaccard
    FROM inter JOIN sz x ON a_id = x.doc_id JOIN sz y ON b_id = y.doc_id
    WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.9
    """,
    doc="n-gram Jaccard near-dup pairs (unigram shingles, ≥0.9): shingle "
        "inverted-index self-join — the exact-verification stage of the "
        "dedup pipeline (pipeline/dedup.py jaccard_pairs).",
)
def dedup_ngram_jaccard(spark, sf_dir):
    from ..pipeline.dedup import jaccard_pairs, shingles
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    ids = d.select("doc_id")
    pairs = (ids.select(F.col("doc_id").alias("a_id"))
             .join(ids.select(F.col("doc_id").alias("b_id")),
                   F.col("a_id") < F.col("b_id")))
    j = jaccard_pairs(d, pairs, "doc_id", "text", shingle_n=1)
    return (j.withColumn("jaccard", F.round("jaccard", 9))
            .where(F.col("jaccard") >= 0.9))


@register(
    "dedup_ngram_containment",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE doc_id < 600
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
                              i -> ts[i] || ' ' || ts[i + 1]))) AS shingle
      FROM toks
    ), sz AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           ROUND(n_inter * 1.0 / LEAST(x.sz, y.sz), 9) AS containment
    FROM inter JOIN sz x ON a_id = x.doc_id JOIN sz y ON b_id = y.doc_id
    WHERE n_inter * 1.0 / LEAST(x.sz, y.sz) >= 0.3
    """,
    doc="Max-containment near-dup pairs (bigram shingles, "
        "|A∩B|/min(|A|,|B|) ≥ 0.3 on the synthetic corpus): the "
        "asymmetric companion to "
        "dedup_ngram_jaccard — a short doc embedded in a long one "
        "scores 1.0 here but only |A|/|B| on Jaccard, so this is the "
        "metric that catches partial copies (boilerplate-inside-page, "
        "quoted-article) that the symmetric threshold misses "
        "(pipeline/dedup.py containment_pairs). Same inverted-index "
        "shingle self-join plan; production candidates come from the "
        "LSH band join (dedup_minhash_lsh) — the bounded all-pairs "
        "probe here is the oracle-checkable verification stage. "
        "Reference dedup surface: the reference ships distinct-style "
        "dedup only (StreamExecDeduplicateRule.scala:57); containment "
        "is part of the beyond-survey training-data stack.",
)
def dedup_ngram_containment(spark, sf_dir):
    from ..pipeline.dedup import containment_pairs
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    ids = d.select("doc_id")
    pairs = (ids.select(F.col("doc_id").alias("a_id"))
             .join(ids.select(F.col("doc_id").alias("b_id")),
                   F.col("a_id") < F.col("b_id")))
    c = containment_pairs(d, pairs, "doc_id", "text", shingle_n=2)
    return (c.withColumn("containment", F.round("containment", 9))
            .where(F.col("containment") >= 0.3))


@register(
    "dedup_minhash_lsh",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
      FROM documents WHERE doc_id < 250
    ), hashes AS (
      SELECT doc_id, h,
             MIN({MD5I.format(x="concat(CAST(h AS VARCHAR), '|', shingle)")})
               AS minhash
      FROM toks CROSS JOIN (SELECT unnest(range(8)) AS h) hs
      GROUP BY doc_id, h
    ), bands AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(concat(CAST(h AS VARCHAR), ':',
                                   CAST(minhash AS VARCHAR)), ','
                            ORDER BY concat(CAST(h AS VARCHAR), ':',
                                            CAST(minhash AS VARCHAR))))
               AS band_key
      FROM hashes GROUP BY doc_id, h // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), sz AS (
      SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.a_id
      JOIN toks tb ON tb.doc_id = c.b_id AND tb.shingle = ta.shingle
      GROUP BY 1, 2
    )
    SELECT i.a_id, i.b_id,
           ROUND(n_inter * 1.0 / (x.sz + y.sz - n_inter), 9) AS jaccard
    FROM inter i JOIN sz x ON i.a_id = x.doc_id
                 JOIN sz y ON i.b_id = y.doc_id
    WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.9
    """,
    doc="MinHash+LSH dedup: 8 md5-derived min-hashes, 2 bands × 4 rows, "
        "bucket-local pair expansion on band keys for candidates, exact "
        "Jaccard ≥0.9 verification "
        "(pipeline/dedup.py minhash_lsh_bands/lsh_bucket_pairs/"
        "jaccard_pairs_arr). The oracle replays the entire pipeline "
        "in SQL.",
)
def dedup_minhash_lsh(spark, sf_dir):
    j = _minhash_lsh_jaccard(spark, sf_dir)
    return (j.withColumn("jaccard", F.round("jaccard", 9))
            .where(F.col("jaccard") >= 0.9))


def _minhash_lsh_jaccard(spark, sf_dir):
    """(a_id, b_id, jaccard) for the MinHash+LSH candidates among
    documents with doc_id < 250: 8 min-hashes in 2 bands of 4 over
    unigram shingles. Map-only banding (row-local array_min
    signatures, no shuffle) + bucket-local pair expansion (one
    shuffle, no band self-join) + row-local array_intersect verify.
    Candidates that share no shingle score 0; docs with no shingles
    never band, so the Jaccard denominator is never 0."""
    from ..pipeline.dedup import (jaccard_pairs_arr, lsh_bucket_pairs,
                                  minhash_lsh_bands)
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 250)
    bands = minhash_lsh_bands(d, "doc_id", "text",
                              num_hashes=8, rows_per_band=4,
                              shingle_n=1)
    cand = lsh_bucket_pairs(bands, "doc_id")
    return jaccard_pairs_arr(d, cand, "doc_id", "text", shingle_n=1)


@register(
    "dedup_cluster_canonical",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
      FROM documents WHERE doc_id < 250
    ), hashes AS (
      SELECT doc_id, h,
             MIN({MD5I.format(x="concat(CAST(h AS VARCHAR), '|', shingle)")})
               AS minhash
      FROM toks CROSS JOIN (SELECT unnest(range(8)) AS h) hs
      GROUP BY doc_id, h
    ), bands AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(concat(CAST(h AS VARCHAR), ':',
                                   CAST(minhash AS VARCHAR)), ','
                            ORDER BY concat(CAST(h AS VARCHAR), ':',
                                            CAST(minhash AS VARCHAR))))
               AS band_key
      FROM hashes GROUP BY doc_id, h // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), sz AS (
      SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.a_id
      JOIN toks tb ON tb.doc_id = c.b_id AND tb.shingle = ta.shingle
      GROUP BY 1, 2
    ), edges AS (
      SELECT i.a_id AS src, i.b_id AS dst
      FROM inter i JOIN sz x ON i.a_id = x.doc_id
                   JOIN sz y ON i.b_id = y.doc_id
      WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.9
    ), und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS canonical_id
    FROM reach GROUP BY node
    """,
    doc="The full near-dup dedup pipeline a training corpus needs: "
        "MinHash+LSH candidates → exact Jaccard ≥0.9 verify → "
        "TRANSITIVE clusters via connected components → canonical = "
        "min doc id per cluster (A~B and B~C cluster together even when "
        "A,C never paired). Composes pipeline/dedup.py with "
        "operators/graph.connected_components (frontier-delta label "
        "propagation on the generic pregel loop); oracle replays the "
        "pipeline plus a recursive-CTE closure.",
)
def dedup_cluster_canonical(spark, sf_dir):
    from ..operators.graph import connected_components
    j = _minhash_lsh_jaccard(spark, sf_dir)
    edges = (j.where(F.col("jaccard") >= 0.9)
             .select(F.col("a_id").alias("src"),
                     F.col("b_id").alias("dst")))
    # max_iter=50 (> any plausible near-dup cluster diameter); the
    # propagation loop now warns loudly if it ever stops un-converged,
    # so a silent divergence from the oracle's full closure is impossible
    cc = connected_components(edges, max_iter=50)
    return cc.select(F.col("node").alias("doc_id"),
                     F.col("component").alias("canonical_id"))


@register(
    "text_redact",
    """
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_redactions
    FROM documents
    """,
    doc="Content redaction for training corpora: numeric sequences "
        "masked with a sentinel token, per-doc redaction count — the "
        "shape used for PII scrubbing (swap the pattern for "
        "emails/phones in production). Pure codegen regexp, single "
        "scan, zero shuffle.",
)
def text_redact(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace("text", "[0-9]+", "<NUM>").alias("redacted"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("bigint")
        .alias("n_redactions"))


@register(
    "sample_stratified",
    f"""
    SELECT event_id, event_type
    FROM events
    WHERE {MD5I.format(x="concat('strat|', CAST(event_id AS VARCHAR))")}
          % 1000
          < CASE event_type WHEN 'click' THEN 100
                            WHEN 'view' THEN 50
                            ELSE 500 END
    """,
    doc="Stratified corpus sampling: per-stratum keep rates (10% of "
        "clicks, 5% of views, 50% of the rest) decided by a salted md5 "
        "bucket of the row id — deterministic, engine-replayable, "
        "map-only (no shuffle, no RNG state), the scalable form of "
        "df.sampleBy for 100 TB corpora.",
)
def sample_stratified(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    bucket = md5_int_expr(
        F.concat(F.lit("strat|"), F.col("event_id").cast("string"))) % 1000
    rate = (F.when(F.col("event_type") == "click", 100)
            .when(F.col("event_type") == "view", 50)
            .otherwise(500))
    return e.where(bucket < rate).select("event_id", "event_type")


@register(
    "dedup_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN ({MD5I.format(x='tok')} % 4294967296 >> b) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM toks CROSS JOIN (SELECT unnest(range(32)) AS b) bs
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc="SimHash (32-bit) signatures: md5-derived token hashes, per-bit "
        "votes, sign → bit (pipeline/dedup.py simhash32). Hamming-distance "
        "pairing on the 4-byte signature is the candidate stage; oracle "
        "replays the signature computation.",
)
def dedup_simhash(spark, sf_dir):
    from ..pipeline.dedup import simhash32
    d = t(spark, sf_dir, "documents")
    return simhash32(d, "doc_id", "text")


@register(
    "dedup_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN ({MD5I.format(x='tok')} % 4294967296 >> b) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM toks CROSS JOIN (SELECT unnest(range(32)) AS b) bs
      GROUP BY doc_id, b
    ), sigs AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
               AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
    doc="SimHash near-dup pairs, Hamming ≤ 8 on 32-bit signatures. Spark "
        "side is the BANDED form (pipeline/dedup.py simhash_hamming_pairs): "
        "9 pigeonhole bit-bands → equi-join on (band, band_bits) → exact "
        "Hamming verify; recall is provably complete, no O(n²) self-join. "
        "The oracle states the semantics as the naive all-pairs quadratic "
        "(fine for DuckDB at test SF).",
)
def dedup_simhash_pairs(spark, sf_dir):
    from ..pipeline.dedup import simhash32, simhash_hamming_pairs
    d = t(spark, sf_dir, "documents")
    sigs = simhash32(d, "doc_id", "text")
    return simhash_hamming_pairs(sigs, "doc_id", "simhash",
                                 bits=32, threshold=8)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_CTE = """
    WITH z AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings {filter}
    )
"""


@register(
    "ann_bruteforce_topk",
    _COSINE_CTE.format(filter="") + """
    , q AS (SELECT pos, x AS qx FROM z WHERE vec_id = 0)
    , agg AS (
      SELECT z.vec_id,
             SUM(CAST(z.x * q.qx AS DECIMAL(38,10))) AS dot_d,
             SUM(CAST(z.x * z.x AS DECIMAL(38,10))) AS na_d,
             SUM(CAST(q.qx * q.qx AS DECIMAL(38,10))) AS nb_d
      FROM z JOIN q ON z.pos = q.pos
      WHERE z.vec_id <> 0
      GROUP BY z.vec_id
    )
    SELECT vec_id,
           ROUND(CAST(dot_d AS DOUBLE)
                 / (sqrt(CAST(na_d AS DOUBLE)) * sqrt(CAST(nb_d AS DOUBLE))),
                 9) AS cosine
    FROM agg
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k (k=10, query = stored vector 0): the ANN "
        "baseline — position-explode + exact decimal dot products "
        "(pipeline/similarity.py cosine_topk).",
)
def ann_bruteforce_topk(spark, sf_dir):
    from ..pipeline.similarity import cosine_topk
    e = t(spark, sf_dir, "embeddings")
    return cosine_topk(e, "vec_id", "embedding", query_id=0, k=10)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH z AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), contrib AS (
      SELECT vec_id, j,
             SUM(CAST(x * ((({MD5I.format(
                 x="concat(CAST(j AS VARCHAR), '|', CAST(i AS VARCHAR))")}
                  % 2001) - 1000) / 1000.0) AS DECIMAL(38,10))) AS s
      FROM z CROSS JOIN (SELECT unnest(range(32)) AS j) js
      GROUP BY vec_id, j
    ), buckets AS (
      SELECT vec_id, j // 8 AS tbl,
             CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << (j % 8)
                      ELSE 0 END) AS BIGINT) AS bucket
      FROM contrib GROUP BY vec_id, j // 8
    ), cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), pairs AS (
      SELECT c.a_id, c.b_id,
             SUM(CAST(a.x * b.x AS DECIMAL(38,10))) AS dot_d,
             SUM(CAST(a.x * a.x AS DECIMAL(38,10))) AS na_d,
             SUM(CAST(b.x * b.x AS DECIMAL(38,10))) AS nb_d
      FROM cand c
      JOIN z a ON a.vec_id = c.a_id
      JOIN z b ON b.vec_id = c.b_id AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           ROUND(CAST(dot_d AS DOUBLE)
                 / (sqrt(CAST(na_d AS DOUBLE)) * sqrt(CAST(nb_d AS DOUBLE))),
                 9) AS cosine
    FROM pairs
    WHERE ROUND(CAST(dot_d AS DOUBLE)
                / (sqrt(CAST(na_d AS DOUBLE)) * sqrt(CAST(nb_d AS DOUBLE))),
                9) >= 0.3
    """,
    doc="Embedding-cosine near-dup pairs (≥0.3), LSH-bucketed: the 100 TB "
        "form — map-only bucket assignment into 4 hash tables × 8 planes "
        "(OR-construction recall lever), equi-join on (table, bucket) so "
        "pairing is bucket-local (sum |bucket|², never n²), one dot product "
        "per candidate, distinct to collapse multi-table collisions "
        "(pipeline/similarity.py cosine_dedup_bucketed). The exact "
        "all-pairs form stays as the small-input recall verifier "
        "(cosine_pairs, tests/test_pipeline.py); SCALE.md records measured "
        "recall on this corpus.",
)
def dedup_embedding_cosine(spark, sf_dir):
    from ..pipeline.similarity import cosine_dedup_bucketed
    e = t(spark, sf_dir, "embeddings")
    # dims=64 (the fixture embedding dimension): constant-folds the
    # 32x64 hyperplane matrix into plan literals — the expression form
    # re-derived the md5 weights once per (row, plane, dim), 4.1M
    # times at sf0.1, making this the slowest registry query (45-57s);
    # folded + the operator's smallness-guarded widen/persist: 2.8s,
    # rows bit-identical (r14 opt).
    return cosine_dedup_bucketed(e, "vec_id", "embedding",
                                 threshold=0.3, n_planes=8, n_tables=4,
                                 dims=64)


@register(
    "ann_lsh_buckets",
    f"""
    WITH z AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), contrib AS (
      SELECT vec_id, j,
             SUM(CAST(x * ((({MD5I.format(
                 x="concat(CAST(j AS VARCHAR), '|', CAST(i AS VARCHAR))")}
                  % 2001) - 1000) / 1000.0) AS DECIMAL(38,10))) AS s
      FROM z CROSS JOIN (SELECT unnest(range(16)) AS j) js
      GROUP BY vec_id, j
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
                AS BIGINT) AS bucket
    FROM contrib GROUP BY vec_id
    """,
    doc="Hyperplane-LSH bucket keys (16 md5-derived planes): the ANN scale "
        "path — bucket collisions replace all-pairs search "
        "(pipeline/similarity.py lsh_buckets). Recall vs brute force is "
        "pinned by tests/test_pipeline.py.",
)
def ann_lsh_buckets(spark, sf_dir):
    from ..pipeline.similarity import lsh_buckets
    e = t(spark, sf_dir, "embeddings")
    # dims=64: constant-folded plane weights (see dedup_embedding_cosine)
    return lsh_buckets(e, "vec_id", "embedding", n_planes=16, dims=64)


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    """
    WITH codes AS (
      SELECT doc_id, text, length(text) AS n_bytes,
             list_transform(string_split(text, ''), c -> unicode(c)) AS cs
      FROM documents
    )
    SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           list_sum(cs) * 1.0 / n_bytes AS byte_mean,
           list_min(cs) AS byte_min, list_max(cs) AS byte_max,
           CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) * 8
             + CAST(concat('0x', substring(md5(text), 16, 1)) AS BIGINT) // 2
             AS phash
    FROM codes
    """,
    doc="Multimodal feature extraction: binary media column → per-item "
        "features via Arrow-batched mapInPandas (pipeline/multimodal.py). "
        "The 'decode' is the deterministic fake (real codecs stubbed — "
        "NotImplementedError path tested in tests/test_pipeline.py); the "
        "byte-level features + md5-based phash are oracle-replayable "
        "because the fake media bytes are the utf-8 text.",
)
def multimodal_features(spark, sf_dir):
    from ..pipeline.multimodal import extract_features, synthesize_media
    d = t(spark, sf_dir, "documents")
    media = synthesize_media(d)
    return (extract_features(media, fake_decode=True)
            .select("doc_id", "n_bytes", "byte_mean", "byte_min", "byte_max",
                    "phash"))


@register(
    "multimodal_decode",
    """
    SELECT doc_id,
           TRUE AS magic_ok, TRUE AS ihdr_ok,
           CAST(length(text) % 64 + 1 AS BIGINT) AS width,
           CAST(length(text) % 48 + 1 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(6 AS BIGINT) AS color_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents
    """,
    doc="REAL binary codec path: synthesize_png builds spec-correct PNG "
        "containers (signature + IHDR, big-endian dimensions at the "
        "standard offsets) and parse_png_header decodes them back — "
        "both pure whole-stage codegen (binary concat/substring/hex/"
        "conv), zero Python, zero shuffle; the parser works on genuine "
        "PNG files. Oracle closes the round trip: the decoded fields "
        "must equal the values the synthesizer embedded, recomputed "
        "independently from the source text. Pixel decode (IDAT "
        "inflate) remains the documented stub (pipeline/multimodal.py).",
)
def multimodal_decode(spark, sf_dir):
    from ..pipeline.multimodal import parse_png_header, synthesize_png
    d = t(spark, sf_dir, "documents")
    return parse_png_header(synthesize_png(d))


@register(
    "multimodal_metadata",
    """
    SELECT doc_id, 'image/fake' AS media_type,
           CAST(length(text) % 64 + 1 AS INT) AS width,
           CAST(length(text) % 48 + 1 AS INT) AS height,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="Multimodal metadata plumbing: typed width/height/bytes columns "
        "beside the opaque binary (pipeline/multimodal.py synthesize_media) "
        "— partition-prunable metadata without touching blobs.",
)
def multimodal_metadata(spark, sf_dir):
    from ..pipeline.multimodal import synthesize_media
    d = t(spark, sf_dir, "documents")
    return synthesize_media(d).select("doc_id", "media_type", "width",
                                      "height", "n_bytes")


_IVF_CTE = _COSINE_CTE.format(filter="") + """
    , n2 AS (
      SELECT vec_id, SUM(CAST(x * x AS DECIMAL(18,10))) AS n2
      FROM z GROUP BY vec_id
    ), cdot AS (
      SELECT a.vec_id, b.vec_id AS cell,
             SUM(CAST(a.x * b.x AS DECIMAL(18,10))) AS dot
      FROM z a JOIN z b ON a.pos = b.pos AND b.vec_id < 16
      GROUP BY 1, 2
    ), dist AS (
      SELECT c.vec_id, c.cell,
             CAST(x.n2 AS DOUBLE) + CAST(y.n2 AS DOUBLE)
               - 2 * CAST(c.dot AS DOUBLE) AS dist2
      FROM cdot c JOIN n2 x ON c.vec_id = x.vec_id
                  JOIN n2 y ON c.cell = y.vec_id
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cell) AS rn
        FROM dist) WHERE rn = 1
    )
"""


@register(
    "ann_ivf_assign",
    _IVF_CTE + """
    SELECT vec_id, cell FROM assigned
    """,
    doc="IVF inverted-file build: assign every vector to its nearest of 16 "
        "deterministic seed centroids by exact squared-L2 (pipeline/ivf.py "
        "ivf_assign) — broadcast centroids + map-side argmin, the ANN "
        "index-build stage.",
)
def ann_ivf_assign(spark, sf_dir):
    from ..pipeline.ivf import ivf_assign
    e = t(spark, sf_dir, "embeddings")
    return ivf_assign(e, "vec_id", "embedding", n_cells=16)


@register(
    "ann_ivf_topk",
    _IVF_CTE + """
    , probe AS (
      SELECT cell FROM dist WHERE vec_id = 0
      ORDER BY dist2, cell LIMIT 4
    ), qdot AS (
      SELECT a.vec_id, SUM(CAST(a.x * q.x AS DECIMAL(18,10))) AS dot
      FROM z a JOIN z q ON a.pos = q.pos AND q.vec_id = 0
      GROUP BY 1
    )
    SELECT a.vec_id,
           ROUND(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))),
                 9) AS cosine
    FROM assigned a
    JOIN probe p ON a.cell = p.cell
    JOIN qdot d ON a.vec_id = d.vec_id
    JOIN n2 x ON a.vec_id = x.vec_id
    JOIN n2 y ON y.vec_id = 0
    WHERE a.vec_id <> 0
    ORDER BY cosine DESC, a.vec_id
    LIMIT 10
    """,
    doc="IVF ANN query: probe the 4 cells nearest the query vector, "
        "cosine-rank only vectors assigned to those cells (pipeline/ivf.py "
        "ivf_topk) — search cost O(N·n_probe/n_cells) vs brute force O(N); "
        "recall vs ann_bruteforce_topk pinned in tests/test_pipeline.py.",
)
def ann_ivf_topk(spark, sf_dir):
    from ..pipeline.ivf import ivf_topk
    e = t(spark, sf_dir, "embeddings")
    return ivf_topk(e, "vec_id", "embedding", query_id=0,
                    n_cells=16, n_probe=4, k=10)


@register(
    "ann_ivf_lloyd",
    _IVF_CTE + """
    , newc AS (
      SELECT a.cell, z.pos,
             CAST(SUM(CAST(z.x AS DECIMAL(18,10))) AS DOUBLE) / COUNT(*)
               AS cx
      FROM assigned a JOIN z ON a.vec_id = z.vec_id
      GROUP BY 1, 2
    ), cn2_1 AS (
      SELECT cell, SUM(CAST(cx * cx AS DECIMAL(18,10))) AS cn2
      FROM newc GROUP BY cell
    ), cdot1 AS (
      SELECT z.vec_id, n.cell, SUM(CAST(z.x * n.cx AS DECIMAL(18,10))) AS dot
      FROM z JOIN newc n ON z.pos = n.pos
      GROUP BY 1, 2
    ), dist1 AS (
      SELECT d.vec_id, d.cell,
             CAST(x.n2 AS DOUBLE) + CAST(c.cn2 AS DOUBLE)
               - 2 * CAST(d.dot AS DOUBLE) AS dist2
      FROM cdot1 d JOIN n2 x ON d.vec_id = x.vec_id
                   JOIN cn2_1 c ON d.cell = c.cell
    )
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist2, cell) AS rn
      FROM dist1) WHERE rn = 1
    """,
    doc="IVF index build with one Lloyd (k-means) refinement: seed "
        "assignment, centroid = exact-decimal coordinate mean of its "
        "cell, then re-assignment against the refined centroids "
        "(pipeline/ivf.py lloyd_centroids / ivf_lloyd_assign). Each "
        "iteration = one map-only fold + one (cell,pos) aggregate — "
        "the corpus is never shuffled by vector id.",
)
def ann_ivf_lloyd(spark, sf_dir):
    from ..pipeline.ivf import ivf_lloyd_assign
    e = t(spark, sf_dir, "embeddings")
    return ivf_lloyd_assign(e, "vec_id", "embedding", n_cells=16)


@register(
    "approx_sketches",
    None,  # sketch outputs are engine-specific; bounded-error pytest instead
    doc="Approximate aggregates for the 100 TB path: HLL++ distinct "
        "(approx_count_distinct, constant memory vs Expand-based exact "
        "distinct) and quantile sketch (approx_percentile) per order "
        "priority. No oracle by design — DuckDB's sketches differ "
        "bit-wise; tests/test_pipeline.py pins ≤2% error vs exact.",
)
def approx_sketches(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.approx_count_distinct("o_custkey", rsd=0.01)
                 .alias("approx_custs"),
                 F.percentile_approx("o_totalprice", 0.5, 10000)
                 .alias("approx_median"))
            .orderBy("o_orderpriority"))


@register(
    "pipeline_end_to_end",
    """
    WITH norm AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS h
      FROM documents
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY h
    ), feat AS (
      SELECT d.doc_id, d.text,
             length(d.text) AS len_chars,
             len(string_split(d.text, ' ')) AS n_tok,
             len(list_filter(string_split(d.text,' '), t ->
               list_contains(['the','and','of','to','a','in','is'], t)))
               AS s_en,
             len(list_filter(string_split(d.text,' '), t ->
               list_contains(['der','die','und','das','ist','nicht'], t)))
               AS s_de,
             len(list_filter(string_split(d.text,' '), t ->
               list_contains(['el','la','de','que','los','es'], t))) AS s_es,
             len(list_filter(string_split(d.text,' '), t ->
               list_contains(['le','la','les','des','est','une'], t)))
               AS s_fr
      FROM documents d JOIN keep USING (doc_id)
    ), filtered AS (
      SELECT * FROM feat
      WHERE len_chars >= 50 AND n_tok >= 10 AND s_en * 1.0 / n_tok < 0.5
    ), lang AS (
      SELECT doc_id, n_tok, len_chars,
             CASE WHEN s_fr >= greatest(s_de, s_en, s_es) AND s_fr > 0
                    THEN 'fr'
                  WHEN s_es >= greatest(s_de, s_en) AND s_es > 0 THEN 'es'
                  WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                  WHEN s_de > 0 THEN 'de'
                  ELSE 'und' END AS lang_pred
      FROM filtered
    )
    SELECT lang_pred, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(len_chars) AS BIGINT) AS n_chars
    FROM lang GROUP BY lang_pred ORDER BY lang_pred
    """,
    doc="End-to-end training-data pipeline: exact dedup (keep lowest id "
        "per normalized digest) → quality gate (length/token/stopword "
        "thresholds) → language-ID → per-language corpus stats. One "
        "chained DataFrame plan — dedup shuffles digests once, every "
        "per-document feature is scan-side, final agg is partial+final "
        "(pipeline/dedup.exact_dedup + pipeline/text.quality_features/"
        "language_id).",
)
def pipeline_end_to_end(spark, sf_dir):
    from ..pipeline.text import language_id, quality_features
    d = t(spark, sf_dir, "documents")
    # exact dedup as ONE window over the digest instead of digest-agg
    # + join-back (exact_dedup's shape): the agg+join plan scans the
    # corpus twice and, at scale (keep-list too big to broadcast),
    # shuffles the digests AND the full text; the window shuffles the
    # text exactly once, keyed by digest, and keeps the lowest id per
    # group in-place. Same kept set (doc_id is unique, so
    # row_number ... ORDER BY doc_id = 1 is MIN(doc_id) per digest).
    # Measured sf0.1: 1.44s -> 1.03s, 2 document scans -> 1.
    h = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    w = W.partitionBy(h).orderBy("doc_id")
    kept = (d.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))
    # CPU-aware width for the post-dedup feature pass: AQE sizes the
    # window exchange by BYTES, so at bench scale it coalesces the
    # ~3 MB of surviving text to one partition and the per-row
    # regex/array feature compute serializes (measured 0.88 -> 0.63s
    # from this). Round-robin to core width ONLY when the corpus is
    # small enough that the extra shuffle is trivially cheap (same
    # optimizer-stats guard as the CC loop width / pca Gram widen);
    # at 100 TB the guard leaves the one-text-shuffle plan untouched.
    from .._sizing import is_provably_small
    if is_provably_small(d):
        kept = kept.repartition(spark.sparkContext.defaultParallelism)
    q = quality_features("text")
    filtered = kept.where(q["quality_ok"])
    lang = filtered.select(
        language_id("text").alias("lang_pred"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        F.length("text").alias("len_chars"))
    return (lang.groupBy("lang_pred")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("n_tokens"),
                 F.sum("len_chars").alias("n_chars"))
            .orderBy("lang_pred"))


@register(
    "heavy_hitters",
    """
    WITH f AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), total AS (SELECT COUNT(*) AS t FROM events)
    SELECT f.user_id, f.n
    FROM f, total WHERE f.n * 200 > total.t
    ORDER BY f.n DESC, f.user_id
    """,
    doc="Heavy hitters / frequent items: keys exceeding 1/200 of the "
        "stream — exact group-count form (one partial+final agg). The "
        "total is a 1-row aggregate cross-joined into the plan (the "
        "oracle's own shape) so the whole query stays ONE lazy plan: no "
        "eager driver-side count, one scan of events, and the 1-row side "
        "broadcasts. The constant-memory scale path is df.stat.freqItems "
        "(Karp-Shenker-Papadimitriou one-pass), pinned against this "
        "exact form in tests/test_pipeline.py — the 100 TB pre-filter "
        "before an exact count of the surviving candidates.",
)
def heavy_hitters(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("n"))
    # total = sum over the (already reduced) per-key counts, so events is
    # scanned once; the 1-row result broadcasts into the filter.
    total = counts.agg(F.sum("n").alias("t"))
    return (counts.crossJoin(F.broadcast(total))
            .where(F.col("n") * 200 > F.col("t"))
            .select("user_id", "n")
            .orderBy(F.desc("n"), "user_id"))


@register(
    "corpus_sample",
    None,  # RNG streams differ across engines; bounds pinned in pytest
    doc="Seeded corpus sampling for training-data subsets: Bernoulli "
        "row sample (df.sample, per-partition independent — the only "
        "sampling that scales: no global pass) + deterministic "
        "hash-bucket split (md5 % 100 < pct, replayable and "
        "join-stable across tables/engines). No oracle: engine RNG "
        "streams differ by design; tests/test_pipeline.py pins "
        "fraction bounds and hash-split exactness.",
)
def corpus_sample(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    d = t(spark, sf_dir, "documents")
    bern = d.sample(fraction=0.1, seed=42).select("doc_id")
    hashed = d.where(
        (md5_int_expr(F.col("doc_id").cast("string")) % 100) < 10
    ).select("doc_id")
    return (bern.withColumn("method", F.lit("bernoulli"))
            .unionAll(hashed.withColumn("method", F.lit("hash_bucket")))
            .orderBy("method", "doc_id"))


_NG2 = ("list_transform(range(1, len(string_split(text, ' '))), "
        "i -> string_split(text, ' ')[i] || ' ' || "
        "string_split(text, ' ')[i+1])")
_NG3 = ("list_transform(range(1, len(string_split(text, ' ')) - 1), "
        "i -> string_split(text, ' ')[i] || ' ' || "
        "string_split(text, ' ')[i+1] || ' ' || "
        "string_split(text, ' ')[i+2])")


@register(
    "text_repetition_ngrams",
    f"""
    WITH g AS (
      SELECT doc_id, {_NG2} AS g2, {_NG3} AS g3 FROM documents
    )
    SELECT doc_id,
           len(g2) AS n_2grams,
           CASE WHEN len(g2) > 0
             THEN (len(g2) - len(list_distinct(g2))) * 1.0 / len(g2)
             ELSE 0.0 END AS dup_2gram_ratio,
           len(g3) AS n_3grams,
           CASE WHEN len(g3) > 0
             THEN (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3)
             ELSE 0.0 END AS dup_3gram_ratio
    FROM g
    """,
    doc="Within-document repetition: duplicate word-2/3-gram fractions "
        "(the Gopher-style duplicate-n-gram quality rule). Pure array "
        "expressions per row — single scan, zero shuffle, whole-stage "
        "codegen (pipeline/text.py repetition_features).",
)
def text_repetition_ngrams(spark, sf_dir):
    from ..pipeline.text import repetition_features
    d = t(spark, sf_dir, "documents")
    feats = repetition_features("text")
    return d.select("doc_id", *[v.alias(k) for k, v in feats.items()])


@register(
    "text_entropy",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ), cnt AS (
      SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(ROUND(SUM(CAST(ROUND(-(c.c * 1.0 / t.n)
                                     * ln(c.c * 1.0 / t.n), 12)
                               AS DECIMAL(30,14))), 6) AS DOUBLE)
             AS entropy
    FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
    GROUP BY c.doc_id
    """,
    doc="Unigram Shannon entropy per document (nats) — the vocabulary-"
        "diversity quality signal. The oracle states the textbook "
        "explode + count + join form; the Spark plan folds -(p ln p) "
        "terms over the token array MAP-SIDE (pipeline/text.py "
        "token_entropy): zero shuffle vs two shuffles + a join, which "
        "at 100 TB is the whole cost. Terms round to 12 dp and "
        "accumulate in DECIMAL so both forms are order-independent "
        "and engine-exact.",
)
def text_entropy(spark, sf_dir):
    from ..pipeline.text import token_entropy
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", token_entropy("text").alias("entropy"))


@register(
    "corpus_contamination",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_NG3})) AS g FROM documents
    ), bench AS (
      SELECT DISTINCT g FROM sh WHERE doc_id < 50
    ), cand AS (
      SELECT doc_id, g FROM sh WHERE doc_id >= 50
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM cand GROUP BY 1
    ), ov AS (
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM cand c JOIN bench b ON c.g = b.g GROUP BY 1
    )
    SELECT s.doc_id, s.n_shingles,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(o.n_overlap, 0) * 1.0 / s.n_shingles, 9)
             AS contamination
    FROM sz s LEFT JOIN ov o ON s.doc_id = o.doc_id
    WHERE COALESCE(o.n_overlap, 0) * 1.0 / s.n_shingles >= 0.2
    """,
    doc="Benchmark-contamination check: fraction of a candidate "
        "document's distinct word-3-grams that appear anywhere in the "
        "benchmark set (doc_id < 50 stands in for the eval corpus) — "
        "the n-gram-overlap decontamination step every training "
        "pipeline runs before training. The benchmark shingle set is "
        "DISTINCT-reduced then broadcast (eval suites are tiny vs the "
        "corpus), so the corpus side never shuffles: scan -> explode "
        "-> broadcast-join -> per-doc count.",
)
def corpus_contamination(spark, sf_dir):
    from .._sizing import widen_if_underparallel
    from ..pipeline.dedup import shingles
    # same single-split-scan pathology as corpus_source_overlap: the
    # 3-gram shingle pass costs ~1ms/doc of JVM time and a bench-scale
    # documents table is ONE byte-sized scan split, so it ran
    # single-threaded; guarded widen (measured 4.3 -> ~1s at sf0.1).
    # At scale the scan is already wide and the plan is untouched.
    d = widen_if_underparallel(t(spark, sf_dir, "documents"), "doc_id")
    sh = d.select("doc_id", F.explode(shingles("text", 3)).alias("g"))
    bench = (sh.where(F.col("doc_id") < 50).select("g").distinct()
             .withColumnRenamed("g", "bg"))
    cand = sh.where(F.col("doc_id") >= 50)
    sz = cand.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    ov = (cand.join(F.broadcast(bench), cand.g == F.col("bg"))
          .groupBy("doc_id").agg(F.count("*").alias("n_overlap")))
    return (sz.join(ov, "doc_id", "left")
            .select("doc_id", "n_shingles",
                    F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
            .withColumn("contamination",
                        F.round(F.col("n_overlap") / F.col("n_shingles"), 9))
            .where(F.col("n_overlap") / F.col("n_shingles") >= 0.2))


@register(
    "boilerplate_ngrams",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_NG3})) AS g FROM documents
    )
    SELECT g AS shingle, COUNT(*) AS df
    FROM sh GROUP BY g HAVING COUNT(*) >= 5
    """,
    doc="Cross-document boilerplate detection: word-3-grams appearing "
        "in >= 5 distinct documents (shingles are per-doc DISTINCT, so "
        "COUNT(*) is document frequency). The removal list every "
        "web-corpus pipeline maintains (headers, nav text, license "
        "blurbs). One explode + one count shuffle; the HAVING runs on "
        "the reduced aggregate. Partial aggregation combines map-side, "
        "so the shuffle carries (shingle, partial count), not rows.",
)
def boilerplate_ngrams(spark, sf_dir):
    from .._sizing import widen_if_underparallel
    from ..pipeline.dedup import shingles
    # guarded widen before the shingle explode — the single-split-scan
    # fix (see corpus_contamination / corpus_source_overlap)
    d = widen_if_underparallel(t(spark, sf_dir, "documents"), "doc_id")
    sh = d.select("doc_id", F.explode(shingles("text", 3)).alias("g"))
    return (sh.groupBy(F.col("g").alias("shingle"))
            .agg(F.count("*").alias("df"))
            .where(F.col("df") >= 5))


@register(
    "multimodal_audio_decode",
    """
    SELECT doc_id,
           TRUE AS magic_ok, TRUE AS fmt_ok,
           CAST(length(text) % 2 + 1 AS BIGINT) AS channels,
           CAST(8000 + (n_chars % 8) * 1000 AS BIGINT) AS sample_rate,
           CAST((8000 + (n_chars % 8) * 1000)
                * (length(text) % 2 + 1) * 2 AS BIGINT) AS byte_rate,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes
    FROM documents
    """,
    doc="Audio codec twin of multimodal_decode: synthesize_wav builds "
        "spec-correct RIFF/WAVE containers (44-byte canonical PCM "
        "header, little-endian fields) and parse_wav_header decodes "
        "channels/rate/byte-rate/bits/payload back — both pure "
        "whole-stage codegen, zero Python, zero shuffle; the parser "
        "reads genuine canonical PCM WAV files. Oracle closes the "
        "round trip by recomputing the embedded parameters "
        "independently from the source text (pipeline/multimodal.py).",
)
def multimodal_audio_decode(spark, sf_dir):
    from ..pipeline.multimodal import parse_wav_header, synthesize_wav
    d = t(spark, sf_dir, "documents")
    return parse_wav_header(synthesize_wav(d))


@register(
    "multimodal_video_boxes",
    """
    SELECT doc_id,
           TRUE AS ftyp_ok, 'isom' AS major_brand,
           CAST(24 AS BIGINT) AS ftyp_bytes,
           'mdat' AS box2_type,
           CAST(octet_length(encode(text)) + 8 AS BIGINT) AS box2_bytes,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents
    """,
    doc="Video codec twin: synthesize_mp4 builds minimal REAL ISO-BMFF "
        "containers (ftyp + mdat, big-endian box framing per ISO/IEC "
        "14496-12) and parse_mp4_boxes walks the top-level boxes back — "
        "including a DATA-DEPENDENT offset (the second box starts where "
        "the first box's size field points), showing column-positioned "
        "substring stays in whole-stage codegen. Zero Python, zero "
        "shuffle; frame decode remains the documented stub "
        "(pipeline/multimodal.py).",
)
def multimodal_video_boxes(spark, sf_dir):
    from ..pipeline.multimodal import parse_mp4_boxes, synthesize_mp4
    d = t(spark, sf_dir, "documents")
    return parse_mp4_boxes(synthesize_mp4(d))


@register(
    "text_chunking",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start
      FROM d
    )
    SELECT doc_id, CAST(start / 40 AS BIGINT) AS chunk_id,
           array_to_string(toks[start+1:start+50], ' ') AS chunk_text,
           CAST(len(toks[start+1:start+50]) AS INT) AS n_tokens
    FROM s
    """,
    doc="Sliding-window document chunking: 50-token chunks with "
        "10-token overlap (stride 40) — how a training pipeline cuts "
        "long documents to context length. starts = every stride-th "
        "token index; each chunk is an array slice re-joined, all "
        "inside one scan's Generate (explode) + projections: no "
        "shuffle, chunk count grows with corpus size but each row's "
        "work is bounded by the chunk size.",
)
def text_chunking(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    size, stride = 50, 40
    starts = F.filter(
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda x: x % stride == 0)
    chunk = F.slice(F.col("toks"), F.col("start") + 1, size)
    return (d.select("doc_id", toks.alias("toks"),
                     F.explode(starts).alias("start"))
            .select("doc_id",
                    (F.col("start") / stride).cast("bigint")
                    .alias("chunk_id"),
                    F.concat_ws(" ", chunk).alias("chunk_text"),
                    F.size(chunk).alias("n_tokens")))


@register(
    "corpus_pack_sequences",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(floor(doc_id / 128) AS BIGINT) AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM d
    )
    SELECT shard,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
    """,
    doc="Sequence packing: assign documents to fixed-budget (2048-"
        "token) training sequences by running token count — each doc "
        "goes to the pack where it STARTS (greedy concat-and-pack, "
        "the standard pretraining batching step). The cumulative sum "
        "is PARTITIONED BY SHARD (shard = doc_id div 128): pack ids "
        "only need to be unique within a shard — the training loader "
        "addresses a sequence as (shard, pack_id) — so each shard's "
        "running sum is an independent window task and the plan "
        "scales out linearly instead of funnelling the whole corpus "
        "through one global ordering (the canonical Spark "
        "unpartitioned-Window scale-killer, which an earlier form of "
        "this query shipped). The only cost vs the global form is "
        "one potentially under-full pack per shard boundary.",
)
def corpus_pack_sequences(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    shard = F.floor(F.col("doc_id") / 128).cast("bigint")
    w = (W.partitionBy(shard).orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = d.select(shard.alias("shard"), "doc_id",
                 n_tok.alias("n_tokens"),
                 F.sum(n_tok).over(w).alias("cum"))
    return (c.groupBy(
                "shard",
                F.floor((F.col("cum") - F.col("n_tokens")) / 2048)
                .cast("bigint").alias("pack_id"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


@register(
    "corpus_mixture_weights",
    """
    WITH per AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT SUM(n_tokens) AS total_tokens,
             COUNT(*) AS n_langs FROM per
    )
    SELECT p.lang, p.n_docs, p.n_tokens,
           ROUND((1.0 / t.n_langs)
                 / (p.n_tokens * 1.0 / t.total_tokens), 9) AS weight
    FROM per p CROSS JOIN tot t
    """,
    doc="Mixture (re-weighting) table for corpus sampling: per-language "
        "token share vs a uniform target — weight = target_share / "
        "actual_share, the multiplier a data loader applies to hit the "
        "desired mixture. One aggregate + a 1-row broadcast cross "
        "join; the corpus is scanned once.",
)
def corpus_mixture_weights(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    per = (d.groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.size(F.split("text", " "))).alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"),
                  F.count("*").alias("n_langs"))
    return (per.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "n_tokens",
                    F.round((F.lit(1.0) / F.col("n_langs"))
                            / (F.col("n_tokens") / F.col("total_tokens")),
                            9).alias("weight")))


@register(
    "corpus_tfidf_topterms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ), tf AS (
      SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT tk, COUNT(*) AS df FROM tf GROUP BY tk
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT f.doc_id, f.tk,
             CAST(ROUND(f.tf * ln(n.n_docs * 1.0 / d.df), 9) AS DOUBLE)
               AS tfidf
      FROM tf f JOIN df d ON f.tk = d.tk CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, tk, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tk) AS rn
      FROM scored
    )
    SELECT doc_id, tk AS term, tfidf, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document: term frequency x inverse "
        "document frequency, deterministic term tie-break. The oracle "
        "states the textbook tf/df-CTE join; the Spark plan computes "
        "df as COUNT(*) OVER (PARTITION BY term) on the tf rows "
        "themselves — tf has one row per (doc, term), so the window "
        "count IS the document frequency, and the corpus TEXT column "
        "is scanned exactly ONCE (the n_docs scalar reads only the "
        "id column). One explode shuffle + two window sorts vs the "
        "join form's three full text scans — at 100 TB that is the "
        "whole cost. idf's ln rounds to 9 dp so both engines rank "
        "identical scores identically.",
)
def corpus_tfidf_topterms(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    tf = tok.groupBy("doc_id", "tk").agg(F.count("*").alias("tf"))
    # df via window over the tf rows (one row per (doc, tk)) — no
    # second derivation of the exploded scan, no join
    df_w = F.count("*").over(W.partitionBy("tk"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (tf.withColumn("df", df_w)
              .crossJoin(F.broadcast(n))
              .select("doc_id", "tk",
                      F.round(F.col("tf")
                              * F.log(F.col("n_docs") / F.col("df")), 9)
                      .cast("double").alias("tfidf")))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tk")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("doc_id", F.col("tk").alias("term"), "tfidf", "rn"))


@register(
    "corpus_bigram_logprob",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS bigram,
             unnest(list_transform(range(1, len(toks)),
               i -> toks[i])) AS w1
      FROM d
    ), bc AS (
      SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram
    ), uc AS (
      SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
    )
    SELECT g.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(ROUND(SUM(CAST(ROUND(ln(b.c2 * 1.0 / u.c1), 12)
                               AS DECIMAL(30,14))) / COUNT(*), 6)
                AS DOUBLE) AS avg_logprob
    FROM bg g JOIN bc b ON g.bigram = b.bigram
              JOIN uc u ON g.w1 = u.w1
    GROUP BY g.doc_id
    """,
    doc="Corpus-LM quality score (CCNet-style): train a bigram model "
        "ON the corpus itself (MLE counts), score each document by its "
        "mean bigram log-probability — low scores flag disfluent/"
        "outlier text. The oracle states the textbook count-CTE joins; "
        "the Spark plan computes both model counts as windows over "
        "the SAME exploded bigram rows (COUNT(*) OVER bigram = c2, "
        "OVER w1 = c1) — one corpus scan, two window sorts, zero "
        "joins, vs three full text scans for the join form. Per-term "
        "ln rounds to 12 dp and accumulates in DECIMAL so the "
        "per-doc mean is order-independent and engine-exact.",
)
def corpus_bigram_logprob(spark, sf_dir):
    from .._sizing import widen_if_underparallel
    from ..pipeline.text import ngrams
    # guarded widen before the bigram explode: the tokenize+ngram
    # expression ran single-threaded off the one byte-sized scan split
    # (the window exchanges downstream re-shuffle anyway, so the only
    # plan change at bench scale is the added small exchange)
    d = widen_if_underparallel(t(spark, sf_dir, "documents"), "doc_id")
    bg = (d.select("doc_id", F.explode(ngrams("text", 2)).alias("bigram"))
          .withColumn("w1", F.split("bigram", " ")[0]))
    scored = bg.select(
        "doc_id",
        F.count("*").over(W.partitionBy("bigram")).alias("c2"),
        F.count("*").over(W.partitionBy("w1")).alias("c1"))
    term = F.round(F.log(F.col("c2") / F.col("c1")), 12) \
        .cast("decimal(30,14)")
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.sum(term) / F.count("*"), 6).cast("double")
                 .alias("avg_logprob")))


_PQ_CTE = """
    WITH z AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), zb AS (
      SELECT vec_id, CAST(floor((pos - 1) / 16) AS BIGINT) AS blk,
             pos, x
      FROM z
    ), bd AS (
      SELECT a.vec_id, a.blk, b.vec_id AS code,
             SUM(CAST((a.x - b.x) * (a.x - b.x) AS DECIMAL(18,10))) AS d2
      FROM zb a JOIN zb b ON a.pos = b.pos AND b.vec_id < 8
      GROUP BY 1, 2, 3
    ), enc AS (
      SELECT vec_id, blk, code FROM (
        SELECT vec_id, blk, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, blk
                                  ORDER BY d2, code) AS rn
        FROM bd) WHERE rn = 1
    )
"""


@register(
    "ann_pq_encode",
    _PQ_CTE + """
    SELECT vec_id,
           CAST(MAX(CASE WHEN blk = 0 THEN code END) AS INT) AS code_0,
           CAST(MAX(CASE WHEN blk = 1 THEN code END) AS INT) AS code_1,
           CAST(MAX(CASE WHEN blk = 2 THEN code END) AS INT) AS code_2,
           CAST(MAX(CASE WHEN blk = 3 THEN code END) AS INT) AS code_3
    FROM enc GROUP BY vec_id
    """,
    doc="Product-quantization encode (pipeline/pq.py pq_encode): 4 "
        "blocks x 16 dims, 8-entry deterministic codebook per block; "
        "each vector compresses to 4 small codes by exact per-block "
        "squared-L2 argmin (ties -> lowest code). The codebook folds "
        "into ONE broadcast row and encoding is a map-only scan — at "
        "100 TB the corpus never shuffles to build the PQ index "
        "(the third ANN family beside hyperplane-LSH and IVF; "
        "production trains the codebook with ivf.lloyd_centroids' "
        "per-block refinement).",
)
def ann_pq_encode(spark, sf_dir):
    from ..pipeline.pq import pq_encode
    e = t(spark, sf_dir, "embeddings")
    return pq_encode(e, "vec_id", "embedding")


@register(
    "ann_pq_adc_topk",
    _PQ_CTE + """
    , qt AS (
      SELECT blk, code, d2 FROM bd WHERE vec_id = 0
    )
    SELECT e.vec_id,
           CAST(ROUND(SUM(CAST(q.d2 AS DECIMAL(18,10))), 9) AS DOUBLE)
             AS approx_d2
    FROM enc e JOIN qt q ON q.blk = e.blk AND q.code = e.code
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id
    ORDER BY approx_d2, e.vec_id
    LIMIT 10
    """,
    doc="PQ asymmetric-distance query (pipeline/pq.py pq_adc_topk): "
        "the query's EXACT per-block distances to all 8 codes form a "
        "4x8 table (one row, broadcast); each candidate's approximate "
        "distance is the sum of table entries at its stored codes — "
        "O(M) adds per candidate instead of O(D) multiplies, the ADC "
        "trade every PQ system makes. Map-only until the final "
        "top-10; deterministic (approx_d2, vec_id) tie-break.",
)
def ann_pq_adc_topk(spark, sf_dir):
    from ..pipeline.pq import pq_adc_topk
    e = t(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, "vec_id", "embedding", query_id=0)


@register(
    "corpus_k_anonymity",
    """
    WITH g AS (
      SELECT lang, source, COUNT(*) AS group_size
      FROM documents GROUP BY lang, source
    )
    SELECT CASE WHEN group_size >= 10 THEN lang
                ELSE '*' END AS lang_out,
           CASE WHEN group_size >= 10 THEN source
                ELSE '*' END AS source_out,
           CAST(SUM(group_size) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS INT) AS n_merged_groups
    FROM g GROUP BY 1, 2
    """,
    doc="k-anonymity suppression (k=10) over quasi-identifier columns "
        "(lang, source): groups smaller than k are generalized to '*' "
        "and merged — the privacy gate a training pipeline applies "
        "before releasing per-group statistics. Two aggregates, both "
        "on the tiny group table after the first shuffle; the corpus "
        "is scanned once. At 100 TB the first groupBy is the only "
        "data-sized operation and combines map-side.",
)
def corpus_k_anonymity(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    g = (d.groupBy("lang", "source")
         .agg(F.count("*").alias("group_size")))
    big = F.col("group_size") >= 10
    return (g.groupBy(
                F.when(big, F.col("lang")).otherwise(F.lit("*"))
                .alias("lang_out"),
                F.when(big, F.col("source")).otherwise(F.lit("*"))
                .alias("source_out"))
            .agg(F.sum("group_size").alias("n_docs"),
                 F.count("*").cast("int").alias("n_merged_groups")))


@register(
    "events_winsorize",
    f"""
    WITH b AS (
      SELECT event_type,
             MAX(CASE WHEN r <= 0.05 THEN value END) AS lo,
             MIN(CASE WHEN r >= 0.95 THEN value END) AS hi
      FROM (SELECT event_type, value,
                   PERCENT_RANK() OVER (PARTITION BY event_type
                                        ORDER BY value, event_id) AS r
            FROM events) GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           {sql_dsum('CASE WHEN e.value < b.lo THEN b.lo '
                     'WHEN e.value > b.hi THEN b.hi ELSE e.value END')}
             AS clipped_sum
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
    doc="Per-group winsorization: clip values to each group's "
        "[5th, 95th] percentile band — the outlier-clipping step for "
        "score/reward normalization in a training pipeline. "
        "Percentile bounds come from an exact PERCENT_RANK with a "
        "deterministic (value, id) tie-break, so both engines pick "
        "identical bounds; the bound table is |groups| rows and "
        "broadcasts back onto the stream. Clipped sums go through "
        "the DECIMAL discipline.",
)
def events_winsorize(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = e.select("event_type", "value",
                 F.percent_rank().over(w).alias("r"))
    b = (r.groupBy(F.col("event_type").alias("et"))
         .agg(F.max(F.when(F.col("r") <= 0.05, F.col("value")))
              .alias("lo"),
              F.min(F.when(F.col("r") >= 0.95, F.col("value")))
              .alias("hi")))
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")) \
        .when(F.col("value") > F.col("hi"), F.col("hi")) \
        .otherwise(F.col("value"))
    out_of_band = (F.col("value") < F.col("lo")) \
        | (F.col("value") > F.col("hi"))
    return (e.join(F.broadcast(b), e.event_type == F.col("et"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(out_of_band, 1).otherwise(0))
                 .alias("n_clipped"),
                 dsum(clipped).alias("clipped_sum")))


@register(
    "events_winsorize_approx",
    None,  # approx_percentile is engine-specific → rows-only here;
           # tests/test_pipeline.py pins |approx − exact| tolerance
    doc="Scale path for events_winsorize: percentile bounds from ONE "
        "approx_percentile aggregate (Greenwald-Khanna sketch, "
        "accuracy 10000) instead of a PERCENT_RANK window — no "
        "per-group sort, so one hot event_type at 100 TB no longer "
        "serializes a task; the sketch combines map-side like any "
        "partial aggregate. The clip-and-sum pass is identical to "
        "the exact form. Exactness trade documented in SCALE.md; "
        "tests/test_pipeline.py::test_winsorize_approx_close_to_exact "
        "pins the drift at sf0.01.",
)
def events_winsorize_approx(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    b = (e.groupBy(F.col("event_type").alias("et"))
         .agg(F.percentile_approx("value", [0.05, 0.95], 10000)
              .alias("pp"))
         .select("et", F.col("pp")[0].alias("lo"),
                 F.col("pp")[1].alias("hi")))
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")) \
        .when(F.col("value") > F.col("hi"), F.col("hi")) \
        .otherwise(F.col("value"))
    out_of_band = (F.col("value") < F.col("lo")) \
        | (F.col("value") > F.col("hi"))
    return (e.join(F.broadcast(b), e.event_type == F.col("et"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(out_of_band, 1).otherwise(0))
                 .alias("n_clipped"),
                 dsum(clipped).alias("clipped_sum")))


@register(
    "dedup_exact_substring_spans",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tk,
             generate_subscripts(toks, 1) AS pos
      FROM d
    ), gram AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
               i -> {'s': i, 'g': array_to_string(toks[i:i+7], ' ')}))
               AS u
      FROM d WHERE len(toks) >= 8
    ), g2 AS (SELECT doc_id, u.s AS s, u.g AS g FROM gram),
    dup AS (
      SELECT g FROM g2 GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      SELECT DISTINCT g2.doc_id, g2.s + o.off AS pos
      FROM g2 JOIN dup USING (g)
      CROSS JOIN (SELECT unnest(range(0, 8)) AS off) o
    ), kept AS (
      SELECT tok.doc_id, tok.pos, tok.tk
      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id
                            AND tok.pos = cov.pos
      WHERE cov.pos IS NULL
    ), reb AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tk, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id AS doc_id,
           CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(len(d.toks) - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_removed,
           COALESCE(r.cleaned, '') AS cleaned_text
    FROM d LEFT JOIN reb r USING (doc_id)
    """,
    doc="Cross-document EXACT-SUBSTRING span dedup (the ExactSubstr "
        "step of Lee et al., 'Deduplicating Training Data Makes "
        "Language Models Better'): any 8-token window that appears "
        "verbatim in >= 2 distinct documents is removed from EVERY "
        "document, and each text is rebuilt from its surviving "
        "tokens. Span arithmetic avoids interval merging entirely: a "
        "token is dropped iff ANY duplicated gram covers its "
        "position, via a bounded 8-way offset explode + DISTINCT + "
        "one LEFT ANTI join. Duplicated grams come from a two-level "
        "countDistinct aggregate and join back onto the gram "
        "occurrences — deliberately NOT a window-collect_set, whose "
        "per-gram state is unbounded when a boilerplate gram appears "
        "in millions of documents at 100 TB. Everything is JVM-side: "
        "two explodes, two gram-keyed shuffles, one anti join, one "
        "per-doc rebuild aggregate.",
)
def dedup_exact_substring_spans(spark, sf_dir):
    d = (t(spark, sf_dir, "documents")
         .select("doc_id", F.split("text", " ").alias("toks")))
    n = 8
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.struct(
            i.alias("s"),
            F.concat_ws(" ", F.slice("toks", i, n)).alias("g")))
    g2 = (d.where(F.size("toks") >= n)
          .select("doc_id", F.explode(gram_structs).alias("u"))
          .select("doc_id", F.col("u.s").alias("s"),
                  F.col("u.g").alias("g")))
    dup = (g2.groupBy("g")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .where(F.col("nd") >= 2).select("g"))
    cov = (g2.join(dup, "g")
           .select("doc_id",
                   F.explode(F.sequence(F.col("s"),
                                        F.col("s") + (n - 1)))
                   .alias("pos"))
           .distinct())
    tok = d.select("doc_id", F.posexplode("toks").alias("p0", "tk")) \
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "tk")
    kept = tok.join(cov, ["doc_id", "pos"], "left_anti")
    reb = (kept.groupBy("doc_id")
           .agg(F.count("*").alias("n_kept"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("pos", "tk"))),
                        lambda x: x.tk)).alias("cleaned")))
    return (d.join(reb, "doc_id", "left")
            .select("doc_id",
                    F.size("toks").cast("bigint").alias("n_tokens"),
                    (F.size("toks")
                     - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .cast("bigint").alias("n_removed"),
                    F.coalesce(F.col("cleaned"), F.lit(""))
                    .alias("cleaned_text")))


@register(
    "corpus_train_val_test_split",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             {MD5I.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 98 THEN 'train'
                WHEN bucket = 98 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM d GROUP BY 1, 2
    """,
    doc="Deterministic train/val/test split (98/1/1) with per-split "
        "per-language stats: the bucket is md5(doc_id) mod 100, so "
        "membership is a pure function of the document id — stable "
        "across runs, machines and engine versions (the property that "
        "makes a held-out set trustworthy; a rand()-based split is "
        "not reproducible and leaks val into train across reshards). "
        "One scan + one map-side-combinable aggregate; the assignment "
        "column itself is what a writer would partitionBy, making the "
        "physical split a side effect of one shuffle-free pass.",
)
def corpus_train_val_test_split(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id")
                                       .cast("string")), 1, 15),
                     16, 10).cast("bigint") % 100)
    split = (F.when(bucket < 98, "train")
             .when(bucket == 98, "val").otherwise("test"))
    return (d.groupBy(split.alias("split"), F.col("lang"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size(F.split("text", " ")))
                 .alias("n_tokens")))


@register(
    "text_gopher_rules",
    """
    WITH d AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             length(text) AS nc
      FROM documents
    ), mx AS (
      SELECT doc_id, MAX(c) AS maxc FROM (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
        GROUP BY 1, 2)
      GROUP BY 1
    ), f AS (
      SELECT d.doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(ROUND((nc - len(toks) + 1) * 1.0 / len(toks), 6)
                  AS DOUBLE) AS mean_wlen,
             CAST(ROUND(maxc * 1.0 / len(toks), 6) AS DOUBLE)
               AS top_share,
             CAST(len(list_filter(['the','a','of','and','to','in','is'],
                                  s -> list_contains(toks, s)))
                  AS BIGINT) AS n_stop
      FROM d JOIN mx ON d.doc_id = mx.doc_id
    )
    SELECT doc_id, n_words, mean_wlen, top_share, n_stop,
           n_words BETWEEN 25 AND 90 AS r_wordcount,
           mean_wlen BETWEEN 4.2 AND 10.0 AS r_meanlen,
           top_share <= 0.11 AS r_repetition,
           n_stop >= 2 AS r_stopword,
           (n_words BETWEEN 25 AND 90) AND (mean_wlen BETWEEN 4.2 AND 10.0)
             AND top_share <= 0.11 AND n_stop >= 2 AS keep
    FROM f
    """,
    doc="Gopher-style composite quality filter (Rae et al. 2021 "
        "§A1.1): word-count bounds, mean-word-length bounds, "
        "most-frequent-token share cap, stopword containment — "
        "per-rule flags plus the conjunction. The oracle needs a "
        "per-document groupBy for the top-token count; the Spark "
        "plan computes it as a sorted-run fold (sort_array + "
        "aggregate) inside the scan projection, so the whole filter "
        "is MAP-ONLY: zero shuffles at any corpus size "
        "(pipeline/text.py gopher_rules).",
)
def text_gopher_rules(spark, sf_dir):
    from ..pipeline.text import gopher_rules
    d = t(spark, sf_dir, "documents")
    g = gopher_rules("text")
    return d.select("doc_id", *[v.alias(k) for k, v in g.items()])


@register(
    "dedup_semdedup",
    _IVF_CTE + """
    , cand AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    ), pd AS (
      SELECT c.a_id, c.b_id,
             SUM(CAST(za.x * zb.x AS DECIMAL(18,10))) AS dot
      FROM cand c
      JOIN z za ON za.vec_id = c.a_id
      JOIN z zb ON zb.vec_id = c.b_id AND zb.pos = za.pos
      GROUP BY 1, 2
    ), best AS (
      SELECT p.b_id AS vec_id,
             MAX(ROUND(CAST(p.dot AS DOUBLE)
                       / (sqrt(CAST(x.n2 AS DOUBLE))
                          * sqrt(CAST(y.n2 AS DOUBLE))), 9))
               AS best_lower_cosine
      FROM pd p JOIN n2 x ON x.vec_id = p.a_id
                JOIN n2 y ON y.vec_id = p.b_id
      GROUP BY 1
    )
    SELECT a.vec_id, a.cell, b.best_lower_cosine,
           COALESCE(b.best_lower_cosine >= 0.35, FALSE) AS is_dup
    FROM assigned a LEFT JOIN best b ON a.vec_id = b.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023): cluster embeddings to the 16 "
        "IVF cells (map-only broadcast-centroid fold — no corpus "
        "shuffle), then within each cluster flag every vector whose "
        "cosine to a LOWER-ID cluster-mate reaches 0.35 (the lowest "
        "id per semantic group survives). Candidate pairs are "
        "cluster-local — one shuffle on the cell id, never all-pairs; "
        "production raises n_cells ~ sqrt(N) to bound cells "
        "(pipeline/ivf.py semdedup_flags).",
)
def dedup_semdedup(spark, sf_dir):
    from ..pipeline.ivf import semdedup_flags
    e = t(spark, sf_dir, "embeddings")
    return semdedup_flags(e, "vec_id", "embedding",
                          n_cells=16, threshold=0.35)


@register(
    "corpus_bpe_pair_counts",
    """
    WITH wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wf FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0
      GROUP BY 1
    ), p AS (
      SELECT wf, unnest(range(1, length(word))) AS i, word
      FROM wf WHERE length(word) > 1
    )
    SELECT substr(word, CAST(i AS INT), 2) AS pair,
           CAST(SUM(wf) AS BIGINT) AS pair_count
    FROM p GROUP BY 1
    ORDER BY pair_count DESC, pair
    LIMIT 50
    """,
    doc="BPE tokenizer training, round-1 pair statistics: adjacent "
        "character-pair counts weighted by corpus word frequency "
        "(Sennrich et al. 2016). The corpus is aggregated ONCE into "
        "the word-frequency table; pair explosion runs over DISTINCT "
        "words only — vocabulary-sized, orders of magnitude below "
        "corpus size at 100 TB (pipeline/bpe.py bpe_pair_counts).",
)
def corpus_bpe_pair_counts(spark, sf_dir):
    from ..pipeline.bpe import bpe_pair_counts
    d = t(spark, sf_dir, "documents")
    return bpe_pair_counts(d, "text", top_n=50)


def _bpe_oracle_ctes(n_merges: int) -> str:
    """Unrolled-SQL BPE trainer (the quality_clf / k-core precedent:
    a fixed-round iterative algorithm stated as MATERIALIZED CTE
    rounds — PLAIN CTEs would re-inline the doubly-referenced chain
    exponentially). Round r: pair counts over vocab v{r-1}, top-1
    t{r} (ties lexicographic), then the GREEDY LEFT-TO-RIGHT merge
    rebuild v{r}. Greedy non-overlap is exact in set-SQL because:
    ml != mr -> adjacent matches cannot overlap (a match at i and
    i+1 would force ml = mr), so every match merges; ml = mr -> the
    scan merges at even offsets within each maximal run of ml
    symbols (gaps-and-islands run_start, (pos - run_start) % 2 = 0).
    A merged position consumes its right neighbor, detected with
    LAG(is_start)."""
    ctes = ["""wf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wf FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0 GROUP BY 1
    )""", """v0 AS MATERIALIZED (
      SELECT word, wf,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, CAST(i AS INT), 1)) AS syms
      FROM wf
    )"""]
    for r in range(1, n_merges + 1):
        ctes.append(f"""t{r} AS MATERIALIZED (
      SELECT s.syms[CAST(u.i AS INT)] AS ml,
             s.syms[CAST(u.i AS INT) + 1] AS mr,
             CAST(SUM(s.wf) AS BIGINT) AS pc
      FROM v{r - 1} s, unnest(range(1, len(s.syms))) AS u(i)
      GROUP BY 1, 2 ORDER BY pc DESC, ml, mr LIMIT 1
    )""")
        ctes.append(f"""m{r} AS MATERIALIZED (
      SELECT word, wf, pos, sym, nxt,
             COALESCE(sym = ml AND nxt = mr AND
                      (ml <> mr OR (pos - run_start) % 2 = 0),
                      FALSE) AS is_start
      FROM (
        SELECT *, MIN(pos) OVER (PARTITION BY word, sym, grp)
                    AS run_start
        FROM (
          SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, sym
                                             ORDER BY pos) AS grp
          FROM (
            SELECT s.word, s.wf, CAST(u.i AS INT) AS pos,
                   s.syms[CAST(u.i AS INT)] AS sym,
                   CASE WHEN u.i < len(s.syms)
                        THEN s.syms[CAST(u.i AS INT) + 1] END AS nxt,
                   t.ml, t.mr
            FROM v{r - 1} s CROSS JOIN t{r} t,
                 unnest(range(1, len(s.syms) + 1)) AS u(i))))
    )""")
        ctes.append(f"""v{r} AS MATERIALIZED (
      SELECT word, wf, list(tok ORDER BY pos) AS syms FROM (
        SELECT word, wf, pos,
               CASE WHEN is_start THEN sym || nxt
                    WHEN LAG(is_start, 1, FALSE)
                         OVER (PARTITION BY word ORDER BY pos)
                      THEN NULL
                    ELSE sym END AS tok
        FROM m{r}) WHERE tok IS NOT NULL
      GROUP BY word, wf
    )""")
    return "WITH " + ",\n    ".join(ctes)


_BPE_MERGES_ORACLE = (_bpe_oracle_ctes(8) + "\n    " + "\n    UNION ALL ".join(
    f"SELECT CAST({r} AS INTEGER) AS merge_rank, ml || mr AS pair, "
    f"pc AS pair_count FROM t{r}" for r in range(1, 9)))

_BPE_ENCODE_ORACLE = (_bpe_oracle_ctes(8) + """,
    tok AS MATERIALIZED (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM v8
    ), dw AS (
      SELECT doc_id, length(text) AS n_chars,
             unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
           CAST(ROUND(n_chars * 1.0 / SUM(n_tok), 6) AS DOUBLE)
             AS compression
    FROM dw JOIN tok USING (word)
    WHERE length(word) > 0
    GROUP BY doc_id, n_chars""")


@register(
    "corpus_bpe_merges",
    _BPE_MERGES_ORACLE,  # also exact-pinned against a pure-Python BPE
                         # reference in tests/test_pipeline.py::
                         # test_bpe_merges_match_reference
    doc="BPE vocabulary learning, first 8 merges (Sennrich et al. "
        "2016): per round, count adjacent symbol pairs over the "
        "vocabulary weighted by word frequency, pick the max "
        "(ties lexicographic), merge it greedily left-to-right in "
        "every word via a JVM-side aggregate fold. The winner is a "
        "broadcast 1-row cross join — no driver collect; each "
        "superstep localCheckpoints the vocabulary-sized table "
        "(the operators/graph.py iteration discipline). Corpus "
        "touched exactly once (pipeline/bpe.py bpe_learn).",
)
def corpus_bpe_merges(spark, sf_dir):
    from ..pipeline.bpe import bpe_learn
    d = t(spark, sf_dir, "documents")
    return bpe_learn(d, "text", n_merges=8)


@register(
    "corpus_quality_weighted_sample",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS nw,
             length(text) AS nc
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(ROUND(least(1.0, greatest(0.0,
                    ((nc - nw + 1) * 1.0 / nw - 4.0))), 6) AS DOUBLE)
               AS weight,
             CAST(({MD5I.format(
                 x="concat(CAST(doc_id AS VARCHAR), '|qs')")}
                   % 1000000) / 1000000.0 AS DOUBLE) AS urand
      FROM d
    )
    SELECT doc_id, weight, urand FROM s WHERE urand < weight
    """,
    doc="Importance sampling by quality score: per-document keep "
        "probability = clamp(mean word length - 4, 0, 1) (any "
        "quality model drops in), decided against a DETERMINISTIC "
        "md5(doc_id) uniform — reproducible across runs/machines "
        "and resharding, unlike rand()-based sampling (the property "
        "DoReMi/quality-resampling pipelines need). Map-only: one "
        "scan, zero shuffles (same hash discipline as "
        "sample_stratified).",
)
def corpus_quality_weighted_sample(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    nw = F.size(F.split("text", " ")).cast("bigint")
    mwl = (F.length("text") - nw + 1) / nw
    weight = F.round(F.least(F.lit(1.0), F.greatest(F.lit(0.0),
                                                    mwl - 4.0)),
                     6).cast("double")
    urand = ((F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|qs"))),
        1, 15), 16, 10).cast("bigint") % 1000000)
        / F.lit(1000000.0)).cast("double")
    return (d.select("doc_id", weight.alias("weight"),
                     urand.alias("urand"))
            .where(F.col("urand") < F.col("weight")))


@register(
    "corpus_bpe_encode",
    _BPE_ENCODE_ORACLE,  # also exact-pinned against the pure-Python
                         # reference in tests/test_pipeline.py::
                         # test_bpe_encode_matches_reference
    doc="BPE corpus encoding: re-segment every document with the 8 "
        "learned merges and report word count, BPE token count and "
        "chars-per-token compression. Learning touches only the "
        "vocabulary; the encode is ONE map-only corpus pass — the "
        "merge table is a single broadcast row (array<struct<l,r>> "
        "in rank order) and per-word segmentation is a nested "
        "JVM-side fold: zero shuffles, no Python "
        "(pipeline/bpe.py bpe_encode).",
)
def corpus_bpe_encode(spark, sf_dir):
    from ..pipeline.bpe import bpe_encode
    d = t(spark, sf_dir, "documents")
    return bpe_encode(d, "text", n_merges=8)


@register(
    "embedding_standardize",
    """
    WITH z AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), st AS (
      SELECT pos,
             CAST(SUM(CAST(x AS DECIMAL(18,10))) AS DOUBLE)
               / COUNT(*) AS mu,
             CAST(SUM(CAST(x * x AS DECIMAL(18,10))) AS DOUBLE)
               / COUNT(*) AS m2
      FROM z GROUP BY 1
    )
    SELECT z.vec_id, z.pos,
           CAST(ROUND((z.x - st.mu)
                      / sqrt(st.m2 - st.mu * st.mu), 6) AS DOUBLE)
             AS zscore
    FROM z JOIN st ON z.pos = st.pos
    """,
    doc="Per-dimension z-score standardization of the embedding "
        "corpus — the feature-scaling pass before clustering or "
        "similarity search. Two-pass: one (pos) aggregate computes "
        "mean and E[x^2] with exact-decimal accumulation (shuffle "
        "volume = dims x rows scalars, like the Lloyd step), then "
        "the dims-row stats table BROADCASTS into a map-only "
        "normalize over the second corpus scan — the corpus itself "
        "never shuffles (population sigma = sqrt(E[x^2] - mu^2); "
        "identical IEEE ops replay in the oracle).",
)
def embedding_standardize(spark, sf_dir):
    from ..pipeline.similarity import DEC
    e = t(spark, sf_dir, "embeddings")
    z = e.select("vec_id",
                 F.posexplode("embedding").alias("pos", "xf")) \
         .select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    st = (z.groupBy("pos")
          .agg((F.sum(F.col("x").cast(DEC)).cast("double")
                / F.count("*")).alias("mu"),
               (F.sum((F.col("x") * F.col("x")).cast(DEC))
                .cast("double") / F.count("*")).alias("m2")))
    sigma = F.sqrt(F.col("m2") - F.col("mu") * F.col("mu"))
    return (z.join(F.broadcast(st), "pos")
            .select("vec_id", "pos",
                    F.round((F.col("x") - F.col("mu")) / sigma, 6)
                    .cast("double").alias("zscore")))


@register(
    "multimodal_pixel_decode",
    None,  # zlib inflate is not SQL-expressible; pixel-exact
           # round-trip + full-filter-set decode pinned in
           # tests/test_pipeline.py::test_png_pixel_decode_*
    doc="REAL PNG pixel decode — the former stub boundary: "
        "synthesize_png_pixels writes fully valid PNGs (IHDR/IDAT/"
        "IEND with CRC32, zlib-compressed scanlines) and "
        "decode_png_pixels inflates with the Python STDLIB zlib and "
        "undoes the full RFC-2083 filter set (None/Sub/Up/Average/"
        "Paeth), so genuine encoder output decodes in this container "
        "— no image library. Both sides are Arrow-batched "
        "mapInPandas over the binary column: executor-side, "
        "fixed-width outputs, zero shuffle, no driver movement — the "
        "100 TB multimodal decode shape (pipeline/multimodal.py "
        "png_decode). JPEG/DCT and video frame decode remain the "
        "documented env-gated boundary.",
)
def multimodal_pixel_decode(spark, sf_dir):
    from ..pipeline.multimodal import (decode_png_pixels,
                                       synthesize_png_pixels)
    d = t(spark, sf_dir, "documents")
    return decode_png_pixels(synthesize_png_pixels(d))


@register(
    "multimodal_audio_samples",
    None,  # PCM amplitude stats over a binary payload — not
           # SQL-expressible; numpy-reference + stdlib-`wave`
           # round-trip pinned in tests/test_pipeline.py
    doc="REAL WAV PCM sample decode: synthesize_wav_pcm writes fully "
        "valid mono 16-bit PCM files (deterministic sine tones — the "
        "stdlib `wave` module opens them, pinned in tests) and "
        "decode_wav_samples reads the samples back with "
        "numpy.frombuffer to compute mean amplitude, RMS, peak and "
        "zero-crossing count — the standard speech-corpus quality "
        "screens. Arrow-batched mapInPandas both ways: executor-side, "
        "fixed-width outputs, zero shuffle (pipeline/multimodal.py). "
        "Compressed codecs (mp3/opus) and resampling remain the "
        "env-gated boundary.",
)
def multimodal_audio_samples(spark, sf_dir):
    from ..pipeline.multimodal import (decode_wav_samples,
                                       synthesize_wav_pcm)
    d = t(spark, sf_dir, "documents")
    return decode_wav_samples(synthesize_wav_pcm(d))


@register(
    "corpus_length_quantiles",
    """
    WITH d AS (
      SELECT lang, len(string_split(text, ' ')) AS nw FROM documents
    )
    SELECT lang,
           CAST(quantile_cont(nw, 0.25) AS DOUBLE) AS q25,
           CAST(quantile_cont(nw, 0.50) AS DOUBLE) AS q50,
           CAST(quantile_cont(nw, 0.75) AS DOUBLE) AS q75,
           COUNT(*) AS n_docs
    FROM d GROUP BY 1
    """,
    doc="Per-language document-length quartiles — the length-"
        "distribution audit a corpus build runs per source/language "
        "before choosing filter thresholds. EXACT interpolated "
        "percentiles: Spark's percentile() and DuckDB's "
        "quantile_cont share the linear-interpolation definition, so "
        "values match bit-for-bit (verified; the approx_percentile "
        "scale swap is the same one events_winsorize_approx "
        "documents). One scan + one map-side-combinable aggregate "
        "per language; exact percentile sorts only within each "
        "language group.",
)
def corpus_length_quantiles(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    nw = F.size(F.split("text", " "))
    g = (d.select("lang", nw.alias("nw"))
         .groupBy("lang")
         .agg(F.expr("percentile(nw, array(0.25, 0.5, 0.75))")
              .alias("q"),
              F.count("*").alias("n_docs")))
    return g.select("lang",
                    F.element_at("q", 1).alias("q25"),
                    F.element_at("q", 2).alias("q50"),
                    F.element_at("q", 3).alias("q75"),
                    "n_docs")


@register(
    "text_langid_confusion",
    """
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['the','and','of','to','a','in','is'], t))) AS s_en,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['el','la','de','que','los','es'], t))) AS s_es,
        len(list_filter(string_split(text,' '), t ->
          list_contains(['le','la','les','des','est','une'], t))) AS s_fr
      FROM documents
    ), pred AS (
      SELECT lang,
           CASE WHEN s_fr >= greatest(s_de, s_en, s_es) AND s_fr > 0 THEN 'fr'
                WHEN s_es >= greatest(s_de, s_en) AND s_es > 0 THEN 'es'
                WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, COUNT(*) AS n,
           CAST(ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER
                      (PARTITION BY lang), 6) AS DOUBLE) AS row_share
    FROM pred GROUP BY 1, 2
    """,
    doc="Language-ID evaluation: confusion matrix of the stopword-"
        "marker classifier's prediction against the table's TRUE lang "
        "label, with per-true-language row shares — the "
        "model-evaluation step a corpus pipeline runs before trusting "
        "a filter (here it also surfaces the heuristic's honest "
        "failure modes, e.g. zh has no marker list and resolves to "
        "'und'/'es' collisions). One scan + one count aggregate + a "
        "partition-local share window; no shuffle beyond the "
        "(lang, pred) agg.",
)
def text_langid_confusion(spark, sf_dir):
    from ..pipeline.text import language_id
    d = t(spark, sf_dir, "documents")
    pred = d.select("lang", language_id("text").alias("lang_pred"))
    g = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    share = F.round(F.col("n")
                    / F.sum("n").over(W.partitionBy("lang")), 6)
    return g.select("lang", "lang_pred", "n",
                    share.cast("double").alias("row_share"))


@register(
    "multimodal_image_resize",
    None,  # zlib inflate/deflate is not SQL-expressible; output
           # pixels are pinned source-exactly in
           # tests/test_pipeline.py::test_png_resize_nearest_exact
    doc="REAL image resize: PNG decode (stdlib zlib, full RFC-2083 "
        "unfilter) -> nearest-neighbor resample in numpy -> re-encode "
        "as a fully valid PNG, reporting the resized dimensions and "
        "pixel checksum. decode->transform->re-encode is the "
        "multimodal pipeline stage between raw crawl bytes and a "
        "training shard; map-only Arrow-batched mapInPandas, the "
        "binary column never shuffles (pipeline/multimodal.py "
        "resize_png_nearest). Bilinear/JPEG-domain resizing stays the "
        "documented env-gated boundary.",
)
def multimodal_image_resize(spark, sf_dir):
    from ..pipeline.multimodal import (resize_png_nearest,
                                       synthesize_png_pixels)
    d = t(spark, sf_dir, "documents")
    return (resize_png_nearest(synthesize_png_pixels(d), 8, 8)
            .select("doc_id", "width", "height", "n_bytes", "px_md5"))


@register(
    "multimodal_audio_resample",
    None,  # per-sample linear interpolation over a binary payload —
           # pinned against a pure-Python reference in
           # tests/test_pipeline.py::test_pcm_resample_linear_exact
    doc="REAL audio resample: WAV PCM decode -> LINEAR interpolation "
        "to 16 kHz in numpy -> amplitude statistics of the resampled "
        "signal. The sample-rate normalize every speech corpus needs "
        "before featurization; map-only Arrow-batched mapInPandas "
        "(pipeline/multimodal.py resample_pcm_linear). Band-limited "
        "sinc/polyphase kernels stay the env-gated boundary.",
)
def multimodal_audio_resample(spark, sf_dir):
    from ..pipeline.multimodal import (resample_pcm_linear,
                                       synthesize_wav_pcm)
    d = t(spark, sf_dir, "documents")
    return resample_pcm_linear(synthesize_wav_pcm(d), 16000)


@register(
    "text_pii_scrub",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
                '[a-z0-9._]+@[a-z0-9]+\\.[a-z]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t,
                '555-[0-9]{4}')) AS INT) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '[a-z0-9._]+@[a-z0-9]+\\.[a-z]+',
                                '<EMAIL>', 'g'),
                 '555-[0-9]{4}', '<PHONE>', 'g')) AS masked_md5
    FROM aug
    """,
    doc="PII scrubbing — the redaction pass every training corpus "
        "runs before the tokenizer: count and mask email/phone "
        "patterns (the corpus is synthetic, so deterministic PII is "
        "INJECTED identically on both engines first, making the "
        "masking logic itself the thing under test — masked-text md5 "
        "must agree byte-for-byte). Regexes stay in the common "
        "Java-regex/RE2 subset so both engines match identically. "
        "Map-only whole-stage codegen: zero shuffles, linear in "
        "corpus bytes at 100 TB.",
)
def text_pii_scrub(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    email_re = "[a-z0-9._]+@[a-z0-9]+\\.[a-z]+"
    phone_re = "555-[0-9]{4}"
    aug = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(email_re)).cast("int")
        .alias("n_emails"),
        F.regexp_count(aug, F.lit(phone_re)).cast("int")
        .alias("n_phones"),
        F.md5(F.regexp_replace(
            F.regexp_replace(aug, email_re, "<EMAIL>"),
            phone_re, "<PHONE>")).alias("masked_md5"))


@register(
    "corpus_lang_cap_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents
    ) WHERE rn <= 30
    """,
    doc="Per-language capped sampling — the mixture-rebalancing op "
        "that stops one dominant language/source from swamping a "
        "training mix: keep a deterministic pseudo-random 30 docs per "
        "language (order by md5 of the id — engine-replayable, no "
        "RNG state). One partitioned window; the per-group sort is "
        "the rank-topN shape Catalyst pushes a per-partition top-K "
        "limit into. At 100 TB pre-reduce with a per-partition local "
        "top-K before the per-language sort if a single language "
        "outgrows an executor (same two-stage rewrite as "
        "streaming TopN).",
)
def corpus_lang_cap_sample(spark, sf_dir):
    from pyspark.sql import Window as W
    d = t(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    return (d.select("doc_id", "lang", rn.alias("rn"))
            .where(F.col("rn") <= 30).select("doc_id", "lang"))


@register(
    "embedding_quantize_int8",
    """
    WITH z AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), sc AS (
      SELECT pos, MAX(ABS(x)) AS mx FROM z GROUP BY 1
    )
    SELECT z.vec_id, z.pos,
           CAST(CASE WHEN sc.mx = 0 THEN 0
                ELSE ROUND(z.x / sc.mx * 127) END AS INT) AS q,
           sc.mx AS scale
    FROM z JOIN sc ON z.pos = sc.pos
    """,
    doc="Symmetric int8 embedding quantization — the compression "
        "step before an ANN index ships to serving (per-dimension "
        "scale = max |x|, q = round(x/scale*127)). One per-dimension "
        "MAX aggregate (dims-row output) BROADCASTS into a map-only "
        "quantize over the second corpus scan — the corpus never "
        "shuffles, the same two-pass shape as embedding_standardize. "
        "MAX is exact (no accumulation), so both engines quantize "
        "bit-identically.",
)
def embedding_quantize_int8(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    z = (e.select("vec_id", F.posexplode("embedding").alias("pos", "xf"))
         .select("vec_id", "pos", F.col("xf").cast("double").alias("x")))
    sc = z.groupBy("pos").agg(F.max(F.abs("x")).alias("mx"))
    return (z.join(F.broadcast(sc), "pos")
            .select("vec_id", "pos",
                    F.when(F.col("mx") == 0, F.lit(0))
                    .otherwise(F.round(F.col("x") / F.col("mx") * 127))
                    .cast("int").alias("q"),
                    F.col("mx").alias("scale")))


@register(
    "corpus_stratified_split",
    """
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) - 1 AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT lang,
           CASE WHEN rk * 10 < n * 8 THEN 'train'
                WHEN rk * 10 < n * 9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM r GROUP BY 1, 2
    """,
    doc="STRATIFIED train/val/test split — exact 80/10/10 WITHIN "
        "every language, unlike the global md5-bucket split "
        "(corpus_train_val_test_split) whose per-stratum proportions "
        "only hold in expectation. Deterministic: rank by md5 of the "
        "id inside each language, cut at floor boundaries — "
        "engine-replayable, no RNG. One partitioned window per "
        "language (rank + stratum count share the sort); at 100 TB "
        "pre-reduce with per-partition local ranks if one language "
        "outgrows an executor, or fall back to the expectation-exact "
        "global-hash split.",
)
def corpus_stratified_split(spark, sf_dir):
    from pyspark.sql import Window as W
    d = t(spark, sf_dir, "documents")
    wl = W.partitionBy("lang")
    rk = F.row_number().over(
        wl.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")) - 1
    n = F.count("*").over(wl)
    split = (F.when(F.col("rk") * 10 < F.col("n") * 8, "train")
             .when(F.col("rk") * 10 < F.col("n") * 9, "val")
             .otherwise("test"))
    return (d.select("doc_id", "lang", rk.alias("rk"), n.alias("n"))
            .select("doc_id", "lang", split.alias("split"))
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").cast("bigint").alias("min_doc"),
                 F.max("doc_id").cast("bigint").alias("max_doc")))


@register(
    "dedup_url_canonical",
    """
    WITH aug AS (
      SELECT doc_id,
             'HTTP://WWW.EXAMPLE' || CAST(doc_id % 7 AS VARCHAR)
             || '.COM:80/path/' || CAST(doc_id % 50 AS VARCHAR)
             || '/?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR)
             || '&utm_campaign=x#frag' AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#.*$', ''),
                     '^http://(www\\.)?', ''),
                   ':80/', '/'),
                 'utm_[a-z]+=[^&]*&?', '', 'g'),
               '[?&]+$', '') AS curl
      FROM aug
    )
    SELECT curl, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM canon GROUP BY 1
    """,
    doc="URL canonicalization dedup — the crawl-frontier/document-key "
        "normalize every web corpus needs: lowercase, strip scheme + "
        "www + default port + fragment + utm_* tracking params, then "
        "group by the canonical form keeping the smallest doc id as "
        "canonical. The corpus has no URLs, so deterministic messy "
        "URLs are INJECTED identically on both engines (the "
        "PII-scrub pattern) — the normalize chain is the thing under "
        "test, byte-agreed across engines. Map-only regexp chain in "
        "whole-stage codegen + one count shuffle; linear at 100 TB.",
)
def dedup_url_canonical(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://WWW.EXAMPLE"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:80/path/"), (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&id="),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("&utm_campaign=x#frag"))
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(url), "#.*$", ""),
                    "^http://(www\\.)?", ""),
                ":80/", "/"),
            "utm_[a-z]+=[^&]*&?", ""),
        "[?&]+$", "")
    return (d.select("doc_id", curl.alias("curl"))
            .groupBy("curl")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").cast("bigint").alias("canonical_doc")))


@register(
    "corpus_dsir_weights",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tokn
      FROM documents
    ), tb AS (
      SELECT doc_id, lang, {MD5I.format(x='tokn')} % 64 AS b,
             COUNT(*) AS c
      FROM tok GROUP BY 1, 2, 3
    ), stats AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END)
                  AS BIGINT) AS n_t
      FROM tb GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_r) AS BIGINT) AS nr_tot,
             CAST(SUM(n_t) AS BIGINT) AS nt_tot
      FROM stats
    ), r AS (
      SELECT b, ROUND(ln(((n_t + 1) * (nr_tot + 64) * 1.0)
                         / ((n_r + 1) * (nt_tot + 64))), 12) AS lr
      FROM stats, tot
    )
    SELECT tb.doc_id,
           CAST(SUM(tb.c) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(CAST(tb.c * r.lr AS DECIMAL(30,14))), 6)
                AS DOUBLE) AS dsir_logw
    FROM tb JOIN r ON tb.b = r.b
    GROUP BY 1
    """,
    doc="DSIR-style data-selection importance weights (Xie et al. "
        "2023, 'Data Selection for Language Models via Importance "
        "Resampling'): hash every token into B=64 buckets, fit "
        "add-1-smoothed bucket distributions for the TARGET slice "
        "(lang='en' here; a quality domain in production) and the "
        "RAW corpus, and score each document by the sum of its "
        "tokens' log probability ratios — the importance weight used "
        "to resample raw data toward the target domain. The Spark "
        "plan makes the corpus pay ONE token-level shuffle total: "
        "explode collapses to per-(doc, bucket) counts with map-side "
        "partial aggregation, bucket statistics aggregate those "
        "(doc x 64)-sized rows, and the 64-row log-ratio table "
        "broadcasts back — the raw text is never shuffled and never "
        "re-scanned. Per-term log-ratio rounds to 12 dp and "
        "accumulates in DECIMAL (order-independent, engine-exact; "
        "the ratio itself is a quotient of exact BIGINT products). "
        "B=64 keeps the hashed feature space small for the oracle; "
        "production uses B~10^4 with the identical plan.",
)
def corpus_dsir_weights(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    d = t(spark, sf_dir, "documents")
    tb = (d.select("doc_id", "lang",
                   F.explode(F.split("text", " ")).alias("tokn"))
          .withColumn("b", md5_int_expr(F.col("tokn")) % 64)
          .groupBy("doc_id", "lang", "b")
          .agg(F.count("*").alias("c")))
    stats = (tb.groupBy("b")
             .agg(F.sum("c").cast("bigint").alias("n_r"),
                  F.sum(F.when(F.col("lang") == "en", F.col("c"))
                        .otherwise(F.lit(0))).cast("bigint")
                  .alias("n_t")))
    tot = stats.agg(F.sum("n_r").cast("bigint").alias("nr_tot"),
                    F.sum("n_t").cast("bigint").alias("nt_tot"))
    r = (stats.crossJoin(F.broadcast(tot))
         .select("b", F.round(F.log(
             ((F.col("n_t") + 1) * (F.col("nr_tot") + 64) * F.lit(1.0))
             / ((F.col("n_r") + 1) * (F.col("nt_tot") + 64))), 12)
             .alias("lr")))
    term = (F.col("c") * F.col("lr")).cast("decimal(30,14)")
    return (tb.join(F.broadcast(r), "b")
            .groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.round(F.sum(term), 6).cast("double")
                 .alias("dsir_logw")))


@register(
    "corpus_source_overlap",
    """
    WITH d AS (
      SELECT source, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                    toks[i+2] || ' ' || toks[i+3])) AS g
      FROM d
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM sh GROUP BY 1
    ), shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, s.n_shared,
           ROUND(s.n_shared * 1.0 / (x.n + y.n - s.n_shared), 9)
               AS jaccard
    FROM shared s JOIN sizes x ON s.src_a = x.source
                  JOIN sizes y ON s.src_b = y.source
    """,
    doc="Cross-source contamination census: for every pair of corpus "
        "sources, the number of word 4-gram shingles they share and "
        "the Jaccard similarity of their shingle sets — the audit a "
        "training-data pipeline runs to find mirrored/scraped-twice "
        "sources before mixing weights are chosen. The self-join is "
        "keyed by the SHINGLE, so a shingle appearing in k sources "
        "contributes C(k,2) <= C(|sources|,2) pairs — bounded by the "
        "source count (tiny), never by document count; per-source "
        "shingle sets come from one explode + distinct with map-side "
        "dedup. At 100 TB: one token-level shuffle for the distinct, "
        "one shingle-keyed join whose fan-out is capped at 190 pairs "
        "per shingle for 20 sources, output is |sources|^2 rows.",
)
def corpus_source_overlap(spark, sf_dir):
    from .._sizing import widen_if_underparallel
    from ..pipeline.dedup import shingles
    # the 4-gram shingle expression costs ~1ms/doc of JVM time, and a
    # bench-scale documents table is ONE byte-sized scan split — the
    # whole shingle pass ran single-threaded (measured 4.9 -> 1.2s
    # from this guarded widen; at scale the scan is already wide and
    # the plan is untouched — same guard as the pca Gram widen).
    d = widen_if_underparallel(t(spark, sf_dir, "documents"), "doc_id")
    sh = (d.select("source", F.explode(shingles("text", 4)).alias("g"))
          .distinct())
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("source").alias("src_a"), "g")
    b = sh.select(F.col("source").alias("src_b"), F.col("g").alias("g2"))
    shared = (a.join(b, (F.col("g") == F.col("g2"))
                     & (F.col("src_a") < F.col("src_b")))
              .groupBy("src_a", "src_b")
              .agg(F.count("*").alias("n_shared")))
    sx = sizes.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    sy = sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    return (shared.join(F.broadcast(sx), F.col("src_a") == F.col("sa"))
            .join(F.broadcast(sy), F.col("src_b") == F.col("sb"))
            .select("src_a", "src_b", "n_shared",
                    F.round(F.col("n_shared") * F.lit(1.0)
                            / (F.col("na") + F.col("nb")
                               - F.col("n_shared")), 9).alias("jaccard")))


@register(
    "corpus_vocab_coverage",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tokn
      FROM documents
    ), wc AS (
      SELECT tokn, COUNT(*) AS c FROM tok GROUP BY 1
    ), vocab AS (
      SELECT tokn FROM wc ORDER BY c DESC, tokn LIMIT 10
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tokn IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.tokn IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 9) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.tokn = v.tokn
    GROUP BY 1
    """,
    doc="Vocabulary-coverage (OOV-rate) filter: build the top-K "
        "corpus vocabulary by frequency (K=10 here against the tiny "
        "31-token synthetic vocabulary; production uses K~10^5 with "
        "the identical plan), then score every document by its "
        "fraction of out-of-vocabulary tokens — the cheap "
        "tokenizer-compatibility screen run before BPE training. "
        "One token shuffle for the word counts; the vocabulary "
        "itself is selected with orderBy().limit() — Spark's "
        "TakeOrdered, a per-partition top-K merge, never a global "
        "sort — and broadcasts to the per-document scoring pass, "
        "which LEFT JOINs exploded tokens against the broadcast "
        "vocab and aggregates with map-side partials. Frequency "
        "ties at the K boundary break lexicographically so the "
        "vocabulary is deterministic on any cluster.",
)
def corpus_vocab_coverage(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tokn"))
    wc = tok.groupBy("tokn").agg(F.count("*").alias("c"))
    vocab = (wc.orderBy(F.desc("c"), "tokn").limit(10)
             .select(F.col("tokn").alias("vtok")))
    oov = F.when(F.col("vtok").isNull(), 1).otherwise(0)
    return (tok.join(F.broadcast(vocab),
                     tok.tokn == F.col("vtok"), "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(oov).cast("bigint").alias("n_oov"),
                 F.round(F.sum(oov) * F.lit(1.0) / F.count("*"), 9)
                 .alias("oov_rate")))


_PCA_Z = """
    WITH z AS (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), covs AS (
      SELECT a.i AS i, b.i AS j,
             CAST(ROUND(SUM(CAST(a.x * b.x AS DECIMAL(30,14))), 9)
                  AS DOUBLE) AS sxy,
             CAST(ROUND(SUM(CAST(a.x AS DECIMAL(30,14))), 9)
                  AS DOUBLE) AS sx,
             CAST(ROUND(SUM(CAST(b.x AS DECIMAL(30,14))), 9)
                  AS DOUBLE) AS sy,
             COUNT(*) AS n
      FROM z a JOIN z b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ), covf AS MATERIALIZED (
      SELECT i, j, ROUND(sxy / n - (sx / n) * (sy / n), 12) AS cov
      FROM covs
    )"""


def _pca_power_oracle(rounds: int = 8) -> str:
    """Unrolled power-iteration oracle: the SQL replays the identical
    rounds (mat-vec, L2 norm, normalize — all decimal-rounded to the
    same 12 dp) so DuckDB reproduces the Spark iterates bit-exactly.
    covf and every iterate v{r} are MATERIALIZED CTEs (the BPE
    oracle's precedent): plain CTEs are re-inlined at each reference,
    and the unrolled chain then recomputes covf and the earlier
    rounds many times over (minutes instead of under a second)."""
    parts = [_PCA_Z, """, d1 AS (
      SELECT COUNT(DISTINCT i) AS d FROM covf
    ), v0 AS (
      SELECT DISTINCT i, 1.0 / sqrt(d) AS v FROM covf, d1
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f""", w{r} AS (
      SELECT c.i,
             CAST(ROUND(SUM(CAST(c.cov * v.v AS DECIMAL(30,14))), 12)
                  AS DOUBLE) AS w
      FROM covf c JOIN v{r - 1} v ON c.j = v.i GROUP BY 1
    ), n{r} AS (
      SELECT ROUND(sqrt(CAST(ROUND(SUM(CAST(w * w AS DECIMAL(30,14))),
                                   12) AS DOUBLE)), 12) AS nrm
      FROM w{r}
    ), v{r} AS MATERIALIZED (
      SELECT i, ROUND(w / nrm, 12) AS v FROM w{r}, n{r}
    )""")
    parts.append(f"""
    SELECT z.vec_id,
           CAST(ROUND(SUM(CAST(z.x * vf.v AS DECIMAL(30,14))), 6)
                AS DOUBLE) AS pc1
    FROM z JOIN v{rounds} vf ON z.i = vf.i
    GROUP BY 1""")
    return "".join(parts)


@register(
    "embedding_pca_covariance",
    _PCA_Z + """
    SELECT i, j, cov FROM covf WHERE i <= j
    """,
    doc="Distributed covariance matrix of the embedding corpus "
        "(upper triangle): the data-heavy half of PCA. NO JOIN — the "
        "oracle states the textbook exploded self-join, but the Spark "
        "plan computes each row's D x D outer product ROW-LOCALLY "
        "(nested transform) and hash-aggregates the cells, so the "
        "shuffle carries only map-side partials (<= partitions * D^2 "
        "rows, corpus-size-independent — the self-join form would "
        "shuffle N*D rows). ALL per-cell statistics (sum xy, sum x, "
        "sum y, n) come from that single aggregation — no mean-side "
        "join, no second corpus pass, no .collect(). Output is "
        "D^2/2 rows however large the corpus. cov = E[xy] - E[x]E[y] "
        "with decimal-exact expectations, rounded to 12 dp "
        "(engine-exact, identical to the join form).",
)
def embedding_pca_covariance(spark, sf_dir):
    from ..pipeline.pca import covariance
    emb = t(spark, sf_dir, "embeddings")
    return covariance(emb, upper_only=True)


@register(
    "embedding_pca_project_top1",
    _pca_power_oracle(8),
    doc="Top-principal-component projection by POWER ITERATION — "
        "PCA with no driver-side eigensolver and no .collect(): "
        "v <- normalize(C v) eight times from the uniform unit "
        "start, entirely as D^2-row join + D-row aggregate per round "
        "over the ONCE-materialized covariance (superstep lineage "
        "truncation, the DataSet.iterate contract of "
        "operators/graph.py). Each iterate rounds to 12 dp, so the "
        "DuckDB oracle replays the identical rounds bit-exactly — "
        "an exact-checked iterative algorithm, like "
        "graph_label_propagation. The final projection broadcasts "
        "the 64-row component and aggregates the corpus map-side: "
        "corpus touched once for the Gram pass, once to project.",
)
def embedding_pca_project_top1(spark, sf_dir):
    from ..pipeline.pca import (covariance, explode_embedding,
                                power_top1, project_top1)
    emb = t(spark, sf_dir, "embeddings")
    v = power_top1(covariance(emb), rounds=8)
    return project_top1(explode_embedding(emb), v, scale=6)


@register(
    "corpus_bm25_topterms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ), tf AS (
      SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
    ), df AS (
      SELECT tk, COUNT(*) AS df FROM tf GROUP BY tk
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens
      FROM dl
    ), scored AS (
      SELECT f.doc_id, f.tk,
             CAST(ROUND(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (0.25 + 0.75 * l.dl
                                / (s.total_tokens * 1.0 / s.n_docs))),
               9) AS DOUBLE) AS bm25
      FROM tf f
      JOIN df d ON f.tk = d.tk
      JOIN dl l ON f.doc_id = l.doc_id
      CROSS JOIN stats s
    ), ranked AS (
      SELECT doc_id, tk, bm25,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY bm25 DESC, tk) AS rn
      FROM scored
    )
    SELECT doc_id, tk AS term, bm25, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="BM25 (k1=1.2, b=0.75, Lucene-style non-negative idf) top-3 "
        "terms per document — the retrieval scorer a contamination / "
        "quality pipeline uses where raw TF-IDF over-weights long "
        "docs. The oracle states the textbook tf/df/dl CTE joins "
        "(four derivations of the token stream); the Spark plan "
        "materializes the (doc, term, tf) table ONCE (localCheckpoint "
        "— the corpus TEXT column is tokenized exactly once) and "
        "derives doc length and document frequency as windows OVER "
        "the tf rows, and N/avgdl as one broadcast 1-row aggregate of "
        "the same table. At 100 TB the token explode is the whole "
        "cost and it happens once; everything downstream is "
        "(docs x distinct-terms)-sized. All score inputs are exact "
        "integers except avgdl (identical double in both engines); "
        "the score rounds to 9 dp BEFORE ranking so both engines "
        "rank identically (ties broken by term).",
)
def corpus_bm25_topterms(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    tf = (tok.groupBy("doc_id", "tk").agg(F.count("*").alias("tf"))
          .localCheckpoint())
    # window order matters for shuffles: tk FIRST, then both doc_id
    # windows (dl here, the top-3 row_number below) share one
    # exchange — the doc_id->tk->doc_id order re-shuffled tf 3 times
    with_df = tf.withColumn("df", F.count("*").over(W.partitionBy("tk")))
    with_dl = with_df.withColumn("dl",
                                 F.sum("tf").over(W.partitionBy("doc_id")))
    stats = tf.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum("tf").cast("bigint").alias("total_tokens"))
    avgdl = F.col("total_tokens") * F.lit(1.0) / F.col("n_docs")
    idf = F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    score = F.round(
        idf * (F.col("tf") * F.lit(2.2))
        / (F.col("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75)
                                       * F.col("dl") / avgdl)),
        9).cast("double")
    scored = (with_dl.crossJoin(F.broadcast(stats))
              .select("doc_id", "tk", score.alias("bm25")))
    w = W.partitionBy("doc_id").orderBy(F.desc("bm25"), "tk")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("doc_id", F.col("tk").alias("term"), "bm25", "rn"))


@register(
    "embedding_random_projection",
    """
    WITH z AS (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), dims AS (
      SELECT DISTINCT i FROM z
    ), sgn AS (
      SELECT d.i, j.j,
             CASE WHEN substr(md5(d.i || '_' || j.j), 1, 1)
                       BETWEEN '0' AND '7'
                  THEN 1 ELSE -1 END AS s
      FROM dims d
      CROSS JOIN (SELECT CAST(unnest(generate_series(1, 16)) AS INT)
                         AS j) j
    )
    SELECT z.vec_id, sgn.j,
           CAST(ROUND(SUM(CAST(z.x * sgn.s * 0.25 AS DECIMAL(30,14))),
                      6) AS DOUBLE) AS y
    FROM z JOIN sgn ON z.i = sgn.i
    GROUP BY 1, 2
    """,
    doc="Johnson-Lindenstrauss random projection D -> 16 with an "
        "Achlioptas +/-1 sign matrix derived DETERMINISTICALLY from "
        "md5(i || '_' || j) (first hex nibble < 8 => +1), scaled by "
        "1/sqrt(16): the cheap dimensionality reducer in front of "
        "LSH / clustering when D is large. No materialized random "
        "state anywhere — both engines re-derive the identical "
        "matrix from the hash, so the op is reproducible on any "
        "cluster. Scale: the D x 16 sign matrix is built from the "
        "corpus's own distinct dimension ids (a D-row aggregate) and "
        "BROADCAST; the corpus explodes once, joins map-side, and "
        "aggregates (vec_id, j) with map-side partials — one shuffle "
        "of 16 rows per vector, nothing all-pairs, no .collect(). "
        "x * s * 0.25 is exact in binary floating point (sign flip + "
        "power-of-two scale), so the decimal-accumulated sum is "
        "engine-exact at 6 dp.",
)
def embedding_random_projection(spark, sf_dir):
    from ..pipeline.pca import explode_embedding
    emb = t(spark, sf_dir, "embeddings")
    z = explode_embedding(emb)
    ks = spark.range(1, 17).select(F.col("id").cast("int").alias("j"))
    sgn = (z.select("i").distinct().crossJoin(ks)
           .select("i", "j",
                   F.when(F.substring(
                       F.md5(F.concat_ws("_", F.col("i"), F.col("j"))),
                       1, 1).between("0", "7"),
                       F.lit(1)).otherwise(F.lit(-1)).alias("s")))
    return (z.join(F.broadcast(sgn), "i")
            .groupBy("vec_id", "j")
            .agg(F.round(
                F.sum((F.col("x") * F.col("s") * F.lit(0.25))
                      .cast("decimal(30,14)")), 6)
                .cast("double").alias("y")))


def _z_interleave_sql(a: str, b: str, bits: int = 8) -> str:
    """Bit-interleave two `bits`-wide ints into a Z-order (Morton)
    key — pure integer shifts/masks, identical text in Spark SQL and
    DuckDB."""
    terms = []
    for k in range(bits):
        terms.append(f"((({a} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({b} >> {k}) & 1) << {2 * k + 1})")
    return "(" + " + ".join(terms) + ")"


_ZKEY = _z_interleave_sql("(user_id & 255)",
                         "(CAST(hour(ts) AS BIGINT) & 255)")


@register(
    "events_zorder_stats",
    f"""
    WITH z AS (
      SELECT event_id, user_id & 255 AS a,
             CAST(hour(ts) AS BIGINT) & 255 AS b,
             {_ZKEY} AS zkey
      FROM events
    )
    SELECT zkey >> 6 AS zbucket, COUNT(*) AS n,
           MIN(a) AS min_a, MAX(a) AS max_a,
           MIN(b) AS min_b, MAX(b) AS max_b
    FROM z GROUP BY 1
    """,
    doc="Z-order (Morton) clustering key + per-bucket dimension-range "
        "stats — the multi-dimensional LAYOUT op behind data skipping "
        "at 100 TB: writing files ordered by zkey makes each file's "
        "min/max TIGHT in BOTH user_id and hour simultaneously, so "
        "predicates on EITHER column prune files (1-D sort prunes "
        "only its own leading column). The interleave is pure integer "
        "shift/mask JVM codegen — a map-only scan; the bucket stats "
        "here ARE the min/max pruning metadata a writer would emit "
        "per file. Production use: "
        "df.repartitionByRange(N, zkey).sortWithinPartitions(zkey)"
        ".write — each output file covers one tight Z-curve segment. "
        "Engine-exact: integer arithmetic only, identical expression "
        "text in both engines.",
)
def events_zorder_stats(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    z = e.select(
        "event_id",
        F.expr("user_id & 255").alias("a"),
        F.expr("CAST(hour(ts) AS BIGINT) & 255").alias("b"),
        F.expr(_ZKEY).alias("zkey"))
    return (z.groupBy(F.expr("zkey >> 6").alias("zbucket"))
            .agg(F.count("*").alias("n"),
                 F.min("a").alias("min_a"), F.max("a").alias("max_a"),
                 F.min("b").alias("min_b"), F.max("b").alias("max_b")))


from . import _REGISTRY as _REG


@register(
    "corpus_dsir_score_broadcast",
    _REG["corpus_dsir_weights"].oracle,  # the paths are bit-equal
    doc="The streaming DSIR scorer (streaming/dsir.py — broadcast-"
        "state pattern: 64-bucket log-ratio table fitted offline, "
        "documents scored map-only in Arrow batches, mirroring the "
        "batch query's DECIMAL arithmetic op for op) run over the "
        "batch documents table: mapInPandas is streaming/batch "
        "agnostic, so the driver can hard-verify the operator "
        "against the SAME oracle as corpus_dsir_weights — "
        "bit-equality of the two paths is additionally pinned at two "
        "micro-batchings by tests/test_stateful.py::"
        "test_streaming_dsir_parity. Scale: fit touches the "
        "reference corpus once (one token shuffle); scoring "
        "shuffles nothing.",
)
def corpus_dsir_score_broadcast(spark, sf_dir):
    from ..streaming.dsir import dsir_fit, dsir_score_stream
    d = t(spark, sf_dir, "documents")
    return dsir_score_stream(d, dsir_fit(d))


# -- deterministic sketches -------------------------------------------
# approx_sketches (above) demonstrates Spark's built-in HLL++ /
# quantile sketches, which are rows-only by design (engine-specific
# bits). These three state the SAME sketch algorithm in both engines
# over the portable 60-bit md5 hash, so the driver hash-compares the
# sketch CONTENTS — hard signal for the sketch family. Reference:
# the reference cannot do this either (its HLL lives in library code);
# stating the algorithm relationally is the Spark-first move.

_HLL_RHO_SQL = """
    CASE WHEN w = 0 THEN 55
         ELSE 4 * (14 - length(ltrim(lpad(hex(w), 14, '0'), '0')))
              + CASE WHEN substring(ltrim(lpad(hex(w), 14, '0'), '0'),
                                    1, 1)
                          IN ('8','9','A','B','C','D','E','F') THEN 0
                     WHEN substring(ltrim(lpad(hex(w), 14, '0'), '0'),
                                    1, 1) IN ('4','5','6','7') THEN 1
                     WHEN substring(ltrim(lpad(hex(w), 14, '0'), '0'),
                                    1, 1) IN ('2','3') THEN 2
                     ELSE 3 END - 1 END
"""


@register(
    "events_hll_distinct",
    f"""
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                    1, 15) AS BIGINT) AS hv
      FROM events
    ), b AS (
      SELECT event_type, hv % 64 AS bucket, hv // 64 AS w FROM h
    ), m AS (
      SELECT event_type, bucket, MAX({_HLL_RHO_SQL}) AS mj
      FROM b GROUP BY 1, 2
    ), reg AS (
      SELECT event_type,
             CAST(64 - COUNT(*) AS INT) AS n_zero,
             CAST(SUM(CAST(1 AS BIGINT) << (55 - mj))
                  + (64 - COUNT(*))
                    * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
      FROM m GROUP BY 1
    ), ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT)
               AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT reg.event_type, n_zero, s_scaled,
           ROUND(CASE WHEN n_zero > 0
                       AND CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
                           / CAST(s_scaled AS DOUBLE) <= 160.0
                      THEN 64.0 * ln(64.0 / n_zero)
                      ELSE CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
                           / CAST(s_scaled AS DOUBLE) END, 4)
             AS est_distinct,
           exact_distinct
    FROM reg JOIN ex ON reg.event_type = ex.event_type
    """,
    doc="HyperLogLog stated relationally and DETERMINISTICALLY: "
        "bucket = low 6 bits of the portable 60-bit md5 hash, rho = "
        "leading-zero count of the remaining 54 bits computed by "
        "hex-string arithmetic (no float log2 — engine-exact), "
        "registers = MAX(rho) per bucket, and the register sum kept "
        "EXACT as sum of integer 2^(55-rho) (never a float 2^-M "
        "accumulation). Small-range linear counting applies below "
        "the classic 2.5m threshold. The driver hash-compares "
        "registers AND estimate bit-for-bit — hard signal the "
        "built-in approx_count_distinct (engine-specific sketch "
        "bits) cannot give. Scale: one groupBy to 64*|keys| register "
        "rows; mergeable by MAX, so partial aggregation does the "
        "map-side combine; the streaming twin (streaming/hll.py) "
        "maintains the identical registers in keyed state.",
)
def events_hll_distinct(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    h = e.select("event_type",
                 md5_int_expr(F.col("event_id").cast("string"))
                 .alias("hv"))
    b = h.select("event_type", (F.col("hv") % 64).alias("bucket"),
                 F.expr("hv DIV 64").alias("w"))
    trimmed = F.expr("trim(LEADING '0' FROM lpad(hex(w), 14, '0'))")
    first = F.substring(trimmed, 1, 1)
    rho = (F.when(F.col("w") == 0, F.lit(55))
           .otherwise(
               4 * (14 - F.length(trimmed))
               + F.when(first.isin(*"89ABCDEF"), 0)
               .when(first.isin("4", "5", "6", "7"), 1)
               .when(first.isin("2", "3"), 2)
               .otherwise(3) - 1))
    m = (b.withColumn("rho", rho)
         .groupBy("event_type", "bucket")
         .agg(F.max("rho").alias("mj")))
    reg = (m.groupBy("event_type")
           .agg((64 - F.count("*")).cast("int").alias("n_zero"),
                (F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - mj)"))
                 + (64 - F.count("*"))
                 * F.lit(1 << 55).cast("long")).cast("bigint")
                .alias("s_scaled")))
    raw = (0.709 * 4096.0 * 36028797018963968.0
           / F.col("s_scaled").cast("double"))
    est = F.round(
        F.when((F.col("n_zero") > 0) & (raw <= 160.0),
               64.0 * F.log(64.0 / F.col("n_zero")))
        .otherwise(raw), 4)
    ex = (e.groupBy("event_type")
          .agg(F.countDistinct("event_id").cast("bigint")
               .alias("exact_distinct")))
    return (reg.join(ex, "event_type")
            .select("event_type", "n_zero", "s_scaled",
                    est.alias("est_distinct"), "exact_distinct"))


@register(
    "events_kmv_distinct_union",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                    1, 15) AS BIGINT) AS hv
      FROM events
    ), merged AS (
      SELECT 'ALL' AS event_type, hv
      FROM (SELECT DISTINCT hv FROM h)
    ), allh AS (
      SELECT * FROM h UNION ALL SELECT * FROM merged
    ), ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hv) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hashes
      FROM allh
    )
    SELECT event_type, CAST(n_hashes AS BIGINT) AS n_hashes,
           CASE WHEN n_hashes < 16 THEN CAST(n_hashes AS DOUBLE)
                ELSE ROUND(CAST(15 AS DOUBLE)
                           * CAST(1152921504606846976 AS DOUBLE)
                           / CAST(hv AS DOUBLE), 4)
           END AS est_distinct
    FROM ranked
    WHERE rk = CASE WHEN n_hashes < 16 THEN n_hashes ELSE 16 END
    """,
    doc="KMV (k-minimum-values / theta-style) distinct sketch with "
        "SET UNION, stated deterministically over the portable md5 "
        "hash: per event_type keep the k=16 smallest distinct hashes "
        "(estimate = (k-1) * 2^60 / h_k), and the 'ALL' row is the "
        "UNION of the per-type sketches — min-k of the merged hash "
        "sets, the mergeability theta sketches exist for. Below k "
        "distinct values the sketch IS the exact set. Scale: the "
        "Spark plan salts the per-key rank (32 buckets) so min-k "
        "runs two-phase — no task ranks more than ~1/32 of a key's "
        "distinct hashes, then the per-key merge ranks at most "
        "32 * 16 = 512 survivors; the oracle states the single-"
        "window form over the same distinct sets.",
)
def events_kmv_distinct_union(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    # persist the distinct hash sets: h feeds its own branch AND the
    # global-distinct 'ALL' branch, and the union of the two (allh)
    # feeds both the salted min-k rank and the per-type counts — four
    # event scans + four distinct shuffles without materialization,
    # one of each with it (|h| = distinct users per type << events)
    h = (e.select("event_type",
                  md5_int_expr(F.col("user_id").cast("string"))
                  .alias("hv")).distinct().persist())
    merged = (h.select("hv").distinct()
              .select(F.lit("ALL").alias("event_type"), "hv"))
    allh = h.unionAll(merged).persist()
    # two-phase min-k: salt rank, keep 16 per salt, re-rank per key
    w1 = (W.partitionBy("event_type", F.col("hv") % 32)
          .orderBy("hv"))
    survivors = (allh.withColumn("rk1", F.row_number().over(w1))
                 .where(F.col("rk1") <= 16).drop("rk1"))
    counts = allh.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hashes"))
    w2 = W.partitionBy("event_type").orderBy("hv")
    ranked = (survivors.withColumn("rk", F.row_number().over(w2))
              .join(F.broadcast(counts), "event_type"))
    est = (F.when(F.col("n_hashes") < 16,
                  F.col("n_hashes").cast("double"))
           .otherwise(F.round(
               15.0 * 1152921504606846976.0
               / F.col("hv").cast("double"), 4)))
    return (ranked.where(
        F.col("rk") == F.when(F.col("n_hashes") < 16,
                              F.col("n_hashes")).otherwise(16))
        .select("event_type", "n_hashes", est.alias("est_distinct")))


@register(
    "events_countmin_point",
    """
    WITH salts AS (SELECT unnest([0, 1, 2, 3]) AS i),
    h AS (
      SELECT i, user_id,
             CAST('0x' || substring(md5(CAST(i AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)),
                                    1, 15) AS BIGINT) % 64 AS bucket
      FROM events, salts
    ), counts AS (
      SELECT i, bucket, COUNT(*) AS c FROM h GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT user_id, i, bucket FROM h WHERE user_id < 30
    ), est AS (
      SELECT p.user_id, CAST(MIN(c.c) AS BIGINT) AS cms_count
      FROM probes p
      JOIN counts c ON p.i = c.i AND p.bucket = c.bucket
      GROUP BY 1
    ), ex AS (
      SELECT user_id, COUNT(*) AS exact_count
      FROM events WHERE user_id < 30 GROUP BY 1
    )
    SELECT est.user_id, cms_count, exact_count
    FROM est JOIN ex ON est.user_id = ex.user_id
    """,
    doc="Count-min sketch point queries, stated deterministically: "
        "depth 4 x width 64 (salted md5 rows), estimate = MIN over "
        "rows of the bucket counter — always >= the true count, "
        "probed here for the user_id < 30 cohort against their exact "
        "frequencies in the same result. Scale: the sketch is 256 "
        "counters built in ONE map-side-combined groupBy of the 4x "
        "salted stream and BROADCAST to the probes — point lookups "
        "never touch the corpus again; the 4x explode is the "
        "documented depth cost.",
)
def events_countmin_point(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    salted = e.select(
        "user_id", F.explode(F.array(*[F.lit(i) for i in range(4)]))
        .alias("i"))
    h = salted.withColumn(
        "bucket",
        md5_int_expr(F.col("user_id").cast("string"),
                     salt=F.concat(F.col("i").cast("string"),
                                   F.lit("|"))) % 64)
    counts = h.groupBy("i", "bucket").agg(F.count("*").alias("c"))
    probes = h.where(F.col("user_id") < 30) \
        .select("user_id", "i", "bucket").distinct()
    est = (probes.join(F.broadcast(counts), ["i", "bucket"])
           .groupBy("user_id")
           .agg(F.min("c").cast("bigint").alias("cms_count")))
    ex = (e.where(F.col("user_id") < 30).groupBy("user_id")
          .agg(F.count("*").alias("exact_count")))
    return est.join(ex, "user_id").select(
        "user_id", "cms_count", "exact_count")


@register(
    "corpus_vocab_score_broadcast",
    _REG["corpus_vocab_coverage"].oracle,  # the paths are bit-equal
    doc="The streaming vocabulary-coverage scorer (streaming/"
        "vocab.py — broadcast-state pattern: top-K vocabulary fitted "
        "offline, documents scored map-only in Arrow batches, "
        "mirroring the batch query's double-divide-then-round "
        "arithmetic) run over the batch documents table: mapInPandas "
        "is streaming/batch agnostic, so the driver hard-verifies "
        "the operator against the SAME oracle as "
        "corpus_vocab_coverage; bit-equality of the two paths is "
        "additionally pinned at two micro-batchings by "
        "tests/test_stateful.py::test_streaming_vocab_parity. "
        "Scale: fit is one token shuffle + TakeOrdered; scoring "
        "shuffles nothing.",
)
def corpus_vocab_score_broadcast(spark, sf_dir):
    from ..streaming.vocab import vocab_fit, vocab_score_stream
    d = t(spark, sf_dir, "documents")
    return vocab_score_stream(d, vocab_fit(d))


@register(
    "multimodal_gif_decode",
    None,  # LZW decompression is not SQL-expressible; canonical-GIF
           # decode + pixel-exact round-trips pinned in
           # tests/test_pipeline.py::test_gif_*
    doc="REAL GIF pixel decode — the third real in-container format "
        "after PNG and WAV: synthesize_gif_pixels writes fully valid "
        "GIF89a containers (global color table, image descriptor, "
        "genuine variable-width LZW data in 255-byte sub-blocks) and "
        "decode_gif_pixels parses the screen/palette, skips "
        "extension blocks, and LZW-decompresses with a pure-Python "
        "codec (LSB-first code packing, width growth at the next-"
        "assignable-code boundary, KwKwK case, 4096-entry reset) — "
        "pinned against the canonical published minimal GIF so "
        "third-party bytes decode, not just our own. Arrow-batched "
        "mapInPandas both ways: executor-side, fixed-width outputs, "
        "zero shuffle (pipeline/multimodal.py gif_encode/gif_decode). "
        "Interlace (4-pass row reorder) and per-frame local color "
        "tables ARE decoded (giflib-convention width sync, fuzzed in "
        "test_gif_decode_interlace_and_local_palette); JPEG/video "
        "remain env-gated.",
)
def multimodal_gif_decode(spark, sf_dir):
    from ..pipeline.multimodal import (decode_gif_pixels,
                                       synthesize_gif_pixels)
    d = t(spark, sf_dir, "documents")
    return decode_gif_pixels(synthesize_gif_pixels(d))


@register(
    "multimodal_roundtrip_check",
    """
    SELECT doc_id, 'gif' AS fmt,
           CAST(length(text) % 21 + 4 AS BIGINT) AS dim1,
           CAST(length(text) % 17 + 4 AS BIGINT) AS dim2,
           TRUE AS payload_ok
    FROM documents
    UNION ALL
    SELECT doc_id, 'png',
           CAST(length(text) % 16 + 1 AS BIGINT),
           CAST(length(text) % 12 + 1 AS BIGINT), TRUE
    FROM documents
    UNION ALL
    SELECT doc_id, 'wav', CAST(8000 AS BIGINT),
           CAST(length(text) % 200 + 50 AS BIGINT), TRUE
    FROM documents
    """,
    doc="HASH-ENFORCED face for the real in-container codecs (round-10: "
        "shrinks the rows-only set's blind spot): encode-then-decode "
        "GIF (LZW), PNG (zlib IDAT + unfilter) and WAV (RIFF + PCM) "
        "per document and emit the facts an independent engine states "
        "relationally — the dimensions each synthesizer derives from "
        "length(text) plus payload_ok = decoded payload byte-equals "
        "the deterministic source payload. The oracle asserts every "
        "row TRUE with the exact dims: any decoder regression (filter "
        "type, palette index, bit packing, sub-block reassembly, "
        "chunk offset, byte order) flips a cell and fails the value "
        "hash — the scd2 closed-loop precedent applied to binary "
        "decode. Scale: one Arrow-batched mapInPandas, zero shuffle "
        "(pipeline/multimodal.py roundtrip_check).",
)
def multimodal_roundtrip_check(spark, sf_dir):
    from ..pipeline.multimodal import roundtrip_check
    return roundtrip_check(t(spark, sf_dir, "documents"))


@register(
    "multimodal_transform_check",
    """
    SELECT doc_id, 'png_resize' AS fmt,
           CAST(length(text) % 16 + 1 AS BIGINT) AS dim1,
           CAST(length(text) % 12 + 1 AS BIGINT) AS dim2,
           TRUE AS payload_ok
    FROM documents
    UNION ALL
    SELECT doc_id, 'wav_resample',
           CAST((length(text) % 200 + 50 - 1) * 3 // 4 + 1 AS BIGINT),
           CAST(length(text) % 200 + 50 AS BIGINT), TRUE
    FROM documents
    """,
    doc="HASH-ENFORCED face for the multimodal TRANSFORM stages "
        "(sibling of multimodal_roundtrip_check, which covers the "
        "codecs): nearest-neighbor PNG resize through the full "
        "decode -> index-map -> re-encode -> decode loop, compared "
        "pixel-exactly against the closed-form source formula at the "
        "mapped coordinates; and linear WAV resample compared "
        "sample-exactly against an independent scalar replay. The "
        "oracle restates the source dims and the resample output "
        "length (n-1)*6000//8000 + 1 = (n-1)*3//4 + 1 from "
        "length(text), and asserts every check TRUE. Zero shuffle, "
        "one Arrow-batched mapInPandas "
        "(pipeline/multimodal.py transform_check).",
)
def multimodal_transform_check(spark, sf_dir):
    from ..pipeline.multimodal import transform_check
    return transform_check(t(spark, sf_dir, "documents"))


@register(
    "multimodal_pixel_check",
    """
    SELECT doc_id,
           CAST(length(text) % 16 + 1 AS INT) AS width,
           CAST(length(text) % 12 + 1 AS INT) AS height,
           CAST((length(text) % 16 + 1) * (length(text) % 12 + 1)
                AS BIGINT) AS n_pixels,
           TRUE AS decode_ok
    FROM documents
    """,
    doc="HASH-ENFORCED face for the PRODUCTION PNG pixel pipeline: "
        "runs the exact operator pair multimodal_pixel_decode runs "
        "(synthesize_png_pixels -> decode_png_pixels) and compares "
        "the decoded px_md5 against an INDEPENDENT md5 of the "
        "closed-form RGBA field (plus alpha_opaque) into decode_ok; "
        "width/height/n_pixels come from the DECODED side and the "
        "oracle restates them from length(text). Any regression in "
        "png_encode, the zlib/filter decode, or the stats wrapper "
        "flips a hashed column (pipeline/multimodal.py "
        "pixel_decode_check).",
)
def multimodal_pixel_check(spark, sf_dir):
    from ..pipeline.multimodal import pixel_decode_check
    return pixel_decode_check(t(spark, sf_dir, "documents"))


@register(
    "corpus_bloom_dedup_prefilter",
    """
    WITH d AS (
      SELECT doc_id,
             md5(substring(regexp_replace(lower(text), '\\s+', ' ', 'g'),
                           1, 40)) AS h
      FROM documents
    ), hist AS (SELECT h FROM d WHERE doc_id % 2 = 0),
    new_ AS (SELECT doc_id, h FROM d WHERE doc_id % 2 = 1),
    bloom AS (
      SELECT DISTINCT CAST('0x' || substring(md5('0:' || h), 1, 15)
                           AS BIGINT) % 2048 AS pos FROM hist
      UNION
      SELECT CAST('0x' || substring(md5('1:' || h), 1, 15)
                  AS BIGINT) % 2048 FROM hist
    ), probe AS (
      SELECT doc_id, h,
        CAST('0x' || substring(md5('0:' || h), 1, 15)
             AS BIGINT) % 2048 AS p0,
        CAST('0x' || substring(md5('1:' || h), 1, 15)
             AS BIGINT) % 2048 AS p1
      FROM new_
    )
    SELECT doc_id,
           p0 IN (SELECT pos FROM bloom)
             AND p1 IN (SELECT pos FROM bloom) AS bloom_hit,
           h IN (SELECT h FROM hist) AS exact_dup,
           (p0 IN (SELECT pos FROM bloom)
             AND p1 IN (SELECT pos FROM bloom))
             AND h NOT IN (SELECT h FROM hist) AS false_pos
    FROM probe
    """,
    doc="Bloom-filter dedup prefilter (m=2048, k=2): incremental "
        "dedup of a NEW batch (odd doc_ids) against a HISTORICAL "
        "corpus (even doc_ids) without a fact-fact join — build the "
        "bit-position set over historical prefix digests once (one "
        "explode+distinct, <= m rows regardless of corpus size), "
        "broadcast it, probe via k map-side joins with ZERO shuffle "
        "of the new batch. No false negatives by construction "
        "(exact_dup implies bloom_hit, pytest-pinned); false_pos is "
        "the tunable second-stage cost. The oracle restates the "
        "ENTIRE filter bit-for-bit — same md5-salted positions, same "
        "modulus — not just its error rate. Reference parity: the "
        "runtime's hash-join Bloom prefilter "
        "(flink-runtime/operators/util/BloomFilter.java; "
        "MutableHashTable.java per-partition filters), surfaced as "
        "the corpus-dedup operator a 100 TB ingest pipeline runs "
        "per epoch (pipeline/bloom.py).",
)
def corpus_bloom_dedup_prefilter(spark, sf_dir):
    from ..pipeline.bloom import bloom_dedup_prefilter
    return bloom_dedup_prefilter(t(spark, sf_dir, "documents"))


@register(
    "multimodal_gif_check",
    """
    SELECT doc_id,
           CAST(length(text) % 21 + 4 AS INT) AS width,
           CAST(length(text) % 17 + 4 AS INT) AS height,
           CAST((length(text) % 21 + 4) * (length(text) % 17 + 4)
                AS BIGINT) AS n_pixels,
           TRUE AS decode_ok
    FROM documents
    """,
    doc="HASH-ENFORCED face for the PRODUCTION GIF pipeline: runs "
        "the operator pair multimodal_gif_decode runs "
        "(synthesize_gif_pixels -> decode_gif_pixels) and compares "
        "the decoded px_md5 against an independent md5 of "
        "palette[closed-form index] RGB bytes — covering LZW encode, "
        "sub-block framing, LZW decode and palette application; "
        "dims from the decoded side, restated by the oracle from "
        "length(text) (pipeline/multimodal.py gif_decode_check).",
)
def multimodal_gif_check(spark, sf_dir):
    from ..pipeline.multimodal import gif_decode_check
    return gif_decode_check(t(spark, sf_dir, "documents"))


@register(
    "multimodal_jpeg_check",
    """
    SELECT doc_id,
           CAST(length(text) % 16 + 1 AS INT) AS width,
           CAST(length(text) % 12 + 1 AS INT) AS height,
           CAST((length(text) % 16 + 1) * (length(text) % 12 + 1)
                AS BIGINT) AS n_pixels,
           TRUE AS decode_ok
    FROM documents
    """,
    doc="HASH-ENFORCED face for the baseline JPEG codec (round 13 "
        "upgrades the former 'JPEG DCT stays gated' boundary to a "
        "real pure-numpy ITU-T T.81 baseline-sequential "
        "implementation, pipeline/jpeg.py — GRAYSCALE and YCbCr "
        "4:4:4 COLOR plus 4:2:0 subsampling, and — r14 — DRI/RSTn "
        "restart segmentation AND PROGRESSIVE SOF2 with spectral "
        "selection + successive approximation): encode a wrap-free "
        "closed-form ramp per document (doc_id % 3 picks the mode: "
        "0 grayscale, 1 YCbCr 4:4:4, 2 YCbCr 4:2:0; doc_id % 5 == 0 "
        "encodes progressive, odd doc_ids declare a 2-unit restart "
        "interval — odd multiples of 5 combine BOTH — so every mode "
        "ships plain, segmented, progressive and "
        "progressive+segmented streams — "
        "synthesize_jpeg, executor-side mapInPandas), DECODE each "
        "stream with tables read from its own DQT/DHT segments "
        "(per-component ids honored), and require SOF0 dims + "
        "component count to match AND max |decoded-expected| within "
        "the per-mode tolerance (lossy codec; at q90 the ramp error "
        "is <=1 gray / <=2 color and deterministic). decode_ok "
        "covers the DCT, quantization, zigzag, canonical Huffman "
        "coding, amplitude convention, byte stuffing, JFIF color "
        "conversion, interleaved-MCU per-component DC prediction, "
        "and marker layout; the oracle restates dims/decode_ok from "
        "length(text). Scale: map-only Arrow-batched Python, zero "
        "shuffle (pipeline/multimodal.py jpeg_roundtrip_check).",
)
def multimodal_jpeg_check(spark, sf_dir):
    from ..pipeline.multimodal import jpeg_roundtrip_check
    return jpeg_roundtrip_check(t(spark, sf_dir, "documents"))


@register(
    "multimodal_mjpeg_frames",
    """
    SELECT doc_id,
           CAST(length(text) % 5 + 2 AS INT) AS n_frames,
           CAST((length(text) % 5 + 3) // 2 AS INT) AS n_sampled,
           CAST(length(text) % 16 + 1 AS INT) AS width,
           CAST(length(text) % 12 + 1 AS INT) AS height,
           TRUE AS decode_ok
    FROM documents
    """,
    doc="HASH-ENFORCED face for VIDEO frame sampling over a real "
        "video format (round 13 closes the 'video frame decode' "
        "gate for Motion-JPEG, pipeline/mjpeg_avi.py): build an "
        "MJPEG AVI clip per document (spec-correct RIFF container — "
        "hdrl/avih/strh/strf/movi/idx1, word-aligned chunks — whose "
        "'00dc' frames are in-repo baseline 4:2:0 JPEGs), walk the "
        "container, decode every 2nd frame (skipped frames cost "
        "ONLY the container walk — MJPEG frames are independent, "
        "which is exactly why it's the lab format for vision-data "
        "curation), and verify each sampled frame against the "
        "panning ramp replayed independently. decode_ok folds in "
        "container dims, frame count, sampled indices, per-frame "
        "dims, and the error bound; the oracle restates "
        "counts/dims/decode_ok from length(text). Inter-coded "
        "codecs (H.264/VP9/AV1) remain the documented env-gated "
        "boundary and the parser rejects them loudly. Scale: "
        "map-only Arrow-batched Python, zero shuffle "
        "(pipeline/multimodal.py mjpeg_frame_check).",
)
def multimodal_mjpeg_frames(spark, sf_dir):
    from ..pipeline.multimodal import mjpeg_frame_check
    return mjpeg_frame_check(t(spark, sf_dir, "documents"))


@register(
    "multimodal_flac_check",
    """
    SELECT doc_id,
           CAST(length(text) % 400 + 50 AS INT) AS n_samples,
           CAST(doc_id % 2 + 1 AS INT) AS channels,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST((length(text) % 400 + 50 + 191) // 192 AS INT)
               AS n_frames,
           TRUE AS decode_ok
    FROM documents
    """,
    doc="HASH-ENFORCED face for the FLAC codec (round 14 closes the "
        "compressed-audio gate the honest way: audio corpora ship "
        "FLAC — LibriSpeech, MLS — so 'decode the audio corpus' "
        "means RFC 9639, pipeline/flac.py): encode a closed-form "
        "clip per document (doc_id % 3 cycles ramp / flat / "
        "quadratic-wrap content so FIXED, CONSTANT and "
        "VERBATIM-class subframes all ship; doc_id % 2 picks "
        "mono/stereo; block size 192 forces multi-frame streams — "
        "synthesize_flac, executor-side mapInPandas), DECODE each "
        "stream with STREAMINFO parse, frame sync, FIXED and LPC "
        "subframe reconstruction, partitioned rice residuals "
        "reconstruction and EVERY CRC-8/CRC-16 plus the stream MD5 "
        "verified, and require EXACT byte equality against the PCM "
        "recomputed independently — lossless, so the comparison is "
        "bitwise where the JPEG faces use tolerance bounds. The "
        "oracle restates counts/rates/decode_ok from "
        "(doc_id, length(text)). Scale: map-only Arrow-batched "
        "Python, zero shuffle "
        "(pipeline/multimodal.py flac_roundtrip_check).",
)
def multimodal_flac_check(spark, sf_dir):
    from ..pipeline.multimodal import flac_roundtrip_check
    return flac_roundtrip_check(t(spark, sf_dir, "documents"))


@register(
    "events_hll_union",
    f"""
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                    1, 15) AS BIGINT) AS hv
      FROM events
    ), b AS (
      SELECT event_type, hv % 64 AS bucket, hv // 64 AS w FROM h
    ), m AS (
      SELECT event_type, bucket, MAX({_HLL_RHO_SQL}) AS mj
      FROM b GROUP BY 1, 2
    ), merged AS (
      SELECT 'ALL' AS sketch_key, bucket, MAX(mj) AS mj
      FROM m GROUP BY 2
      UNION ALL
      SELECT event_type, bucket, mj FROM m
    ), reg AS (
      SELECT sketch_key,
             CAST(64 - COUNT(*) AS INT) AS n_zero,
             CAST(SUM(CAST(1 AS BIGINT) << (55 - mj))
                  + (64 - COUNT(*))
                    * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
      FROM merged GROUP BY 1
    )
    SELECT sketch_key, n_zero, s_scaled,
           ROUND(CASE WHEN n_zero > 0
                       AND CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                           * CAST(36028797018963968 AS DOUBLE)
                           / CAST(s_scaled AS DOUBLE) <= 160.0
                      THEN 64.0 * ln(64.0 / n_zero)
                      ELSE CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                           * CAST(36028797018963968 AS DOUBLE)
                           / CAST(s_scaled AS DOUBLE) END, 4)
             AS est_distinct
    FROM reg
    """,
    doc="HyperLogLog register-wise MERGE — the operation HLL exists "
        "for: the 'ALL' sketch is the per-bucket MAX over the five "
        "per-type register sets (exactly what a 1000-executor "
        "cluster's partial sketches do on the reducer), estimating "
        "the UNION of the five event-id sets without ever touching "
        "the raw rows again. Mathematically the merged registers "
        "equal the direct whole-table sketch (max is associative); "
        "tests/test_pipeline.py::test_hll_union_equals_direct pins "
        "it. Same deterministic md5/hex-rho/exact-integer-sum "
        "machinery as events_hll_distinct, so the driver "
        "hash-compares merged sketch contents bit-for-bit.",
)
def events_hll_union(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    b = (e.select("event_type",
                  md5_int_expr(F.col("event_id").cast("string"))
                  .alias("hv"))
         .select("event_type", (F.col("hv") % 64).alias("bucket"),
                 F.expr("hv DIV 64").alias("w")))
    trimmed = F.expr("trim(LEADING '0' FROM lpad(hex(w), 14, '0'))")
    first = F.substring(trimmed, 1, 1)
    rho = (F.when(F.col("w") == 0, F.lit(55))
           .otherwise(
               4 * (14 - F.length(trimmed))
               + F.when(first.isin(*"89ABCDEF"), 0)
               .when(first.isin("4", "5", "6", "7"), 1)
               .when(first.isin("2", "3"), 2)
               .otherwise(3) - 1))
    m = (b.withColumn("rho", rho)
         .groupBy("event_type", "bucket")
         .agg(F.max("rho").alias("mj")))
    merged = (m.groupBy("bucket").agg(F.max("mj").alias("mj"))
              .select(F.lit("ALL").alias("sketch_key"), "bucket", "mj")
              .unionAll(m.select(F.col("event_type")
                                 .alias("sketch_key"), "bucket",
                                 "mj")))
    reg = (merged.groupBy("sketch_key")
           .agg((64 - F.count("*")).cast("int").alias("n_zero"),
                (F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - mj)"))
                 + (64 - F.count("*"))
                 * F.lit(1 << 55).cast("long")).cast("bigint")
                .alias("s_scaled")))
    raw = (0.709 * 4096.0 * 36028797018963968.0
           / F.col("s_scaled").cast("double"))
    est = F.round(
        F.when((F.col("n_zero") > 0) & (raw <= 160.0),
               64.0 * F.log(64.0 / F.col("n_zero")))
        .otherwise(raw), 4)
    return reg.select("sketch_key", "n_zero", "s_scaled",
                      est.alias("est_distinct"))


# -- learned quality classifier (round 9) -----------------------------
# The CCNet/GPT-3-style learned quality filter the heuristic stack
# (Gopher rules, bigram-LM) approximates without learning: logistic
# regression over hashed bag-of-words, trained as DataFrame
# aggregates with every iterate decimal-rounded (the PCA precedent,
# pipeline/pca.py:91) so the DuckDB oracle unrolls the identical
# rounds and replays training bit-exactly.

from ..pipeline.quality_clf import oracle_fit_sql, oracle_score_sql


@register(
    "corpus_quality_classifier_fit",
    oracle_fit_sql(),
    doc="Distributed logistic-regression quality-classifier training "
        "(pipeline/quality_clf.py): 32 hashed token-frequency "
        "features + intercept, target = lang='en' (a curated quality "
        "domain in production), 3 full-batch gradient-descent rounds "
        "with margins/gradients decimal-accumulated and every "
        "iterate rounded — deterministic across partitionings and "
        "engines; the oracle unrolls the same 3 rounds in SQL. "
        "Reference surface: DataSet.iterate "
        "(flink-java/.../DataSet.java:1139, the superstep loop of "
        "flink-examples-batch LinearRegression.java:60). Scale: the "
        "corpus pays one token shuffle once; each round touches "
        "only the (docs x 33) feature table with a broadcast 33-row "
        "weight join — nothing collected, no driver state.",
)
def corpus_quality_classifier_fit(spark, sf_dir):
    from ..pipeline.quality_clf import logreg_fit
    return logreg_fit(t(spark, sf_dir, "documents"))


@register(
    "corpus_quality_score_broadcast",
    oracle_score_sql(),
    doc="The learned quality filter applied corpus-wide via the "
        "broadcast-scorer pattern (the dsir_score_broadcast "
        "precedent): the 33-row weight table fitted offline becomes "
        "broadcast state, documents score map-only in Arrow batches "
        "(margin, probability, predicted label), mirroring the "
        "relational margin's DECIMAL arithmetic op for op — "
        "batch/stream-agnostic, so this same op IS the streaming "
        "scorer (parity pinned by tests/test_stateful.py). Scale: "
        "scoring shuffles nothing.",
)
def corpus_quality_score_broadcast(spark, sf_dir):
    from ..pipeline.quality_clf import quality_fit, quality_score_stream
    d = t(spark, sf_dir, "documents")
    return quality_score_stream(d, quality_fit(d))


@register(
    "events_cms_topk",
    """
    WITH salts AS (SELECT unnest([0, 1, 2, 3]) AS i),
    h AS (
      SELECT i, user_id,
             CAST('0x' || substring(md5(CAST(i AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)),
                                    1, 15) AS BIGINT) % 64 AS bucket
      FROM events, salts
    ), counts AS (
      SELECT i, bucket, COUNT(*) AS c FROM h GROUP BY 1, 2
    ), items AS (
      SELECT DISTINCT user_id, i, bucket FROM h
    ), est AS (
      SELECT user_id, CAST(MIN(c.c) AS BIGINT) AS cms_count
      FROM items JOIN counts c USING (i, bucket)
      GROUP BY 1
    ), ranked AS (
      SELECT user_id, cms_count,
             ROW_NUMBER() OVER (ORDER BY cms_count DESC, user_id)
               AS rk
      FROM est
    ), ex AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY 1
    )
    SELECT CAST(rk AS INT) AS rk, r.user_id, r.cms_count,
           ex.exact_count
    FROM ranked r JOIN ex USING (user_id)
    WHERE rk <= 10
    """,
    doc="Count-min TOP-K — the heavy-hitter application face of the "
        "CMS path (the streaming twin cms_stream maintains the same "
        "sum-merge counters; tests pin stream==batch bit-parity): "
        "estimate every candidate item from the depth-4 x width-64 "
        "sketch, rank by (estimate DESC, item) with a deterministic "
        "tie-break, keep the top 10 alongside their exact counts "
        "(CMS one-sided error: estimate >= exact, visible in the "
        "result). Scale: the 256-counter sketch builds in one "
        "map-side-combined groupBy and BROADCASTS to the candidate "
        "ranking; the top-k is a TakeOrdered over |items| estimate "
        "rows, never the corpus.",
)
def events_cms_topk(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    salted = e.select(
        "user_id", F.explode(F.array(*[F.lit(i) for i in range(4)]))
        .alias("i"))
    h = salted.withColumn(
        "bucket",
        md5_int_expr(F.col("user_id").cast("string"),
                     salt=F.concat(F.col("i").cast("string"),
                                   F.lit("|"))) % 64)
    counts = h.groupBy("i", "bucket").agg(F.count("*").alias("c"))
    items = h.select("user_id", "i", "bucket").distinct()
    est = (items.join(F.broadcast(counts), ["i", "bucket"])
           .groupBy("user_id")
           .agg(F.min("c").cast("bigint").alias("cms_count")))
    # TakeOrderedAndProject does the distributed top-k; the rank
    # window then sees EXACTLY 10 rows (total order, no ties)
    top = est.orderBy(F.desc("cms_count"), "user_id").limit(10)
    ranked = top.withColumn(
        "rk", F.row_number().over(
            W.orderBy(F.desc("cms_count"), "user_id")))
    ex = e.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    return (ranked.join(ex, "user_id")
            .select(F.col("rk").cast("int").alias("rk"),
                    "user_id", "cms_count", "exact_count"))


@register(
    "events_gk_quantile_bounds",
    """
    WITH np AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
    ), vc AS (
      SELECT event_type, value, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, value,
             SUM(c) OVER (PARTITION BY event_type ORDER BY value)
               AS cum
      FROM vc
    ), ph AS (
      SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS phi
    ), tg AS (
      SELECT np.event_type, ph.phi,
             GREATEST(1, CAST(CEIL(ph.phi * np.n - 0.05 * np.n)
                              AS BIGINT)) AS r_lo,
             LEAST(np.n, CAST(FLOOR(ph.phi * np.n + 0.05 * np.n)
                              AS BIGINT)) AS r_hi
      FROM np, ph
    )
    SELECT tg.event_type, tg.phi,
           MIN(CASE WHEN cum.cum >= tg.r_lo THEN cum.value END)
             AS lo,
           MIN(CASE WHEN cum.cum >= tg.r_hi THEN cum.value END)
             AS hi,
           TRUE AS within
    FROM tg JOIN cum ON tg.event_type = cum.event_type
    GROUP BY 1, 2
    """,
    doc="The drained-GK hard-verification face: per event_type, run "
        "the EXACT streaming Greenwald-Khanna code "
        "(streaming/gk_quantiles.py gk_insert/gk_compress/gk_query, "
        "eps=0.05, same compress cadence, rows in (ts, event_id) "
        "order) over the batch table via applyInPandas, then assert "
        "the GK contract IN THE RESULT: the oracle computes the "
        "exact order-statistic value bounds [v(ceil(phi*n - eps*n)), "
        "v(floor(phi*n + eps*n))] from a cumulative distinct-value "
        "census and emits within=TRUE; the Spark row carries the "
        "same exact bounds plus the actual containment check — any "
        "GK violation flips `within` and the driver hash catches "
        "it. The estimate itself is order-dependent (not SQL-"
        "replayable); the bounds are deterministic raw input values, "
        "so the row hash-matches. Scale note: the bound computation "
        "windows over per-key DISTINCT-value aggregates (not raw "
        "rows); the production path is the GK sketch itself — this "
        "query is the verification face, the analogue of the "
        "reference's accumulator ITCases.",
)
def events_gk_quantile_bounds(spark, sf_dir):
    import pandas as pd

    from ..streaming.gk_quantiles import (
        PHIS, gk_compress, gk_insert, gk_query)

    EPS = 0.05
    e = t(spark, sf_dir, "events")

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        tuples: list = []
        n = 0
        period = max(int(1 / (2 * EPS)), 1)
        for v in pdf["value"]:
            gk_insert(tuples, float(v), n, EPS)
            n += 1
            if n % period == 0:
                gk_compress(tuples, n, EPS)
        return pd.DataFrame(
            [{"event_type": pdf["event_type"].iloc[0],
              "phi": phi, "est": gk_query(tuples, phi, n, EPS)}
             for phi in PHIS])

    est = (e.select("event_type", "value", "ts", "event_id")
           .groupBy("event_type")
           .applyInPandas(drain,
                          "event_type string, phi double, est double"))
    np_ = e.groupBy("event_type").agg(F.count("*").alias("n"))
    vc = (e.groupBy("event_type", "value")
          .agg(F.count("*").alias("c")))
    cum = vc.withColumn(
        "cum", F.sum("c").over(
            W.partitionBy("event_type").orderBy("value")))
    phis = F.explode(F.array(*[F.lit(p) for p in PHIS])).alias("phi")
    tg = (np_.select("event_type", "n", phis)
          .select("event_type", "phi",
                  F.greatest(
                      F.lit(1).cast("bigint"),
                      F.ceil(F.col("phi") * F.col("n")
                             - 0.05 * F.col("n")).cast("bigint"))
                  .alias("r_lo"),
                  F.least(
                      F.col("n").cast("bigint"),
                      F.floor(F.col("phi") * F.col("n")
                              + 0.05 * F.col("n")).cast("bigint"))
                  .alias("r_hi")))
    bounds = (tg.join(cum, "event_type")
              .groupBy("event_type", "phi")
              .agg(F.min(F.when(F.col("cum") >= F.col("r_lo"),
                                F.col("value"))).alias("lo"),
                   F.min(F.when(F.col("cum") >= F.col("r_hi"),
                                F.col("value"))).alias("hi")))
    return (bounds.join(est, ["event_type", "phi"])
            .select("event_type", "phi", "lo", "hi",
                    ((F.col("lo") <= F.col("est"))
                     & (F.col("est") <= F.col("hi")))
                    .alias("within")))


@register(
    "events_mg_heavy_bounds",
    """
    WITH src AS (
      SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS item
      FROM events
    ), np AS (
      SELECT event_type, COUNT(*) AS n FROM src GROUP BY 1
    ), ex AS (
      SELECT event_type, item, COUNT(*) AS exact_count
      FROM src GROUP BY 1, 2
    )
    SELECT ex.event_type, ex.item, ex.exact_count, TRUE AS ok
    FROM ex JOIN np USING (event_type)
    WHERE ex.exact_count > CAST(FLOOR(np.n / 17.0) AS BIGINT)
    """,
    doc="The drained Misra-Gries hard-verification face (symmetric "
        "with events_gk_quantile_bounds): run the EXACT streaming "
        "k=16-counter summary (streaming/misra_gries.py semantics) "
        "per event_type over the batch rows in (ts, event_id) order "
        "via applyInPandas, then assert the MG contract IN the "
        "result for the deterministically-identifiable cohort — "
        "every item with exact frequency > floor(n/(k+1)) MUST be in "
        "the summary (no false negatives above threshold), "
        "undercounted by at most floor(n/(k+1)) and never "
        "overcounted. The oracle states the exact guaranteed cohort "
        "with ok=TRUE; any violation flips the Spark row's flag and "
        "breaks the driver hash. Summary membership below the "
        "threshold is order-dependent and intentionally excluded. "
        "Scale: exact counts are one map-side-combined groupBy; the "
        "summary itself is O(k) state per key.",
)
def events_mg_heavy_bounds(spark, sf_dir):
    import pandas as pd

    K = 16
    e = t(spark, sf_dir, "events")
    src = e.select("event_type", "ts", "event_id",
                   (F.col("user_id") % 8).cast("string").alias("item"))

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        counters: dict = {}
        for it in pdf["item"]:
            if it in counters:
                counters[it] += 1
            elif len(counters) < K:
                counters[it] = 1
            else:
                for c in list(counters):
                    counters[c] -= 1
                    if counters[c] == 0:
                        del counters[c]
        return pd.DataFrame(
            [{"event_type": pdf["event_type"].iloc[0],
              "item": it, "est_count": cnt}
             for it, cnt in counters.items()])

    summ = (src.groupBy("event_type")
            .applyInPandas(drain, "event_type string, item string, "
                                  "est_count bigint"))
    np_ = src.groupBy("event_type").agg(F.count("*").alias("n"))
    ex = (src.groupBy("event_type", "item")
          .agg(F.count("*").alias("exact_count")))
    bound = F.floor(F.col("n") / 17.0).cast("bigint")
    guaranteed = (ex.join(np_, "event_type")
                  .where(F.col("exact_count") > bound)
                  .select("event_type", "item", "exact_count",
                          bound.alias("max_under")))
    return (guaranteed.join(summ, ["event_type", "item"], "left")
            .select("event_type", "item", "exact_count",
                    (F.col("est_count").isNotNull()
                     & (F.col("est_count") <= F.col("exact_count"))
                     & (F.col("exact_count") - F.col("est_count")
                        <= F.col("max_under"))).alias("ok")))


@register(
    "corpus_zipf_slope",
    """
    WITH tf AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ), top AS (
      SELECT tok, cnt FROM tf ORDER BY cnt DESC, tok LIMIT 500
    ), ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM top
    )
    SELECT ROUND(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept,
           ROUND(regr_r2(ln(cnt), ln(rnk)), 6) AS r2,
           CAST(regr_count(ln(cnt), ln(rnk)) AS BIGINT) AS n_terms
    FROM ranked
    """,
    doc="Zipf's-law fit over the corpus term-frequency distribution: "
        "log-frequency regressed on log-rank with the REGR_SLOPE / "
        "REGR_INTERCEPT / REGR_R2 / REGR_COUNT linear-regression "
        "aggregate family (Calcite std aggregates, the same family "
        "FlinkSqlOperatorTable exposes percentiles from). The slope "
        "near -1 / high R² is the standard natural-text sanity check "
        "a corpus-quality dashboard runs; a crawl partition whose fit "
        "degrades is template/spam-heavy. Scale: term counts are one "
        "token-keyed groupBy; the top-500 cut is TakeOrdered (no "
        "global sort), and the ROW_NUMBER window runs over the "
        "already-LIMITed 500-row frame (the events_cms_topk "
        "precedent) — never an unpartitioned window over data-sized "
        "input. Rounded to 6: regression co-moments of ~500 ln values "
        "accumulate in doubles whose partial order differs across "
        "engines.",
)
def corpus_zipf_slope(spark, sf_dir):
    from pyspark.sql import Window as W
    d = t(spark, sf_dir, "documents")
    tf = (d.select(F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("cnt")))
    top = tf.orderBy(F.desc("cnt"), F.asc("tok")).limit(500)
    ranked = top.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("cnt"), F.asc("tok"))))
    lc, lr = F.log(F.col("cnt")), F.log(F.col("rnk"))
    return ranked.agg(
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("r2"),
        F.regr_count(lc, lr).alias("n_terms"))


@register(
    "embedding_qc_outliers",
    """
    WITH ex AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), nr AS (
      SELECT vec_id,
             sqrt(CAST(ROUND(SUM(CAST(x * x AS DECIMAL(30,14))), 9)
                       AS DOUBLE)) AS nrm,
             CAST(ROUND(SUM(CAST((x * x) * (x * x) AS DECIMAL(30,14))),
                        9) AS DOUBLE) AS p4
      FROM ex GROUP BY vec_id
    ), st AS (
      SELECT CAST(ROUND(SUM(CAST(p4 AS DECIMAL(30,14))), 9) AS DOUBLE)
               / COUNT(*) AS mu,
             CAST(ROUND(SUM(CAST(p4 * p4 AS DECIMAL(30,14))), 9)
                  AS DOUBLE) / COUNT(*) AS ex2
      FROM nr
    )
    SELECT vec_id, ROUND(nrm, 6) AS nrm, ROUND(p4, 9) AS p4,
           ROUND((p4 - mu) / sqrt(ex2 - mu * mu), 6) AS z
    FROM nr CROSS JOIN st
    WHERE ABS((p4 - mu) / sqrt(ex2 - mu * mu)) > 2.0
    """,
    doc="Embedding-corpus QC: per-vector L2 norm (verifies the corpus "
        "is unit-normalized — it is, so norm outliers cannot exist by "
        "construction) plus PEAKINESS p4 = sum(x^4), the inverse "
        "participation ratio of a unit vector: a z-outlier in p4 is a "
        "vector whose mass concentrates in a few dimensions — the "
        "degenerate/collapsed encoder outputs that poison cosine "
        "dedup and ANN recall while passing every norm check. Flags "
        "|z| > 2 against corpus mean/std. Determinism: x*x and "
        "(x*x)*(x*x) are IEEE double multiplies (bit-identical in any "
        "engine), every reduction is the DECIMAL-accumulate -> round "
        "-> double discipline, sqrt is IEEE correctly-rounded — so "
        "even the UNROUNDED filter comparison is engine-exact. Scale: "
        "one explode + per-vector aggregate, a 1-row stats aggregate "
        "broadcast back; nothing shuffles but vec-level partials.",
)
def embedding_qc_outliers(spark, sf_dir):
    DEC14 = "decimal(30,14)"
    emb = t(spark, sf_dir, "embeddings")
    ex = (emb.select("vec_id", F.posexplode("embedding")
                     .alias("p", "xf"))
          .select("vec_id", F.col("xf").cast("double").alias("x")))
    x2 = F.col("x") * F.col("x")
    nr = (ex.groupBy("vec_id")
          .agg(F.sqrt(F.round(F.sum(x2.cast(DEC14)), 9)
                      .cast("double")).alias("nrm"),
               F.round(F.sum((x2 * x2).cast(DEC14)), 9)
               .cast("double").alias("p4")))
    st = nr.agg(
        (F.round(F.sum(F.col("p4").cast(DEC14)), 9).cast("double")
         / F.count("*")).alias("mu"),
        (F.round(F.sum((F.col("p4") * F.col("p4")).cast(DEC14)), 9)
         .cast("double") / F.count("*")).alias("ex2"))
    sd = F.sqrt(F.col("ex2") - F.col("mu") * F.col("mu"))
    z = (F.col("p4") - F.col("mu")) / sd
    return (nr.crossJoin(F.broadcast(st))
            .where(F.abs(z) > 2.0)
            .select("vec_id", F.round("nrm", 6).alias("nrm"),
                    F.round("p4", 9).alias("p4"),
                    F.round(z, 6).alias("z")))


@register(
    "events_hourly_to_daily_rollup",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr, event_type,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))), 6)
                  AS DOUBLE) AS hv,
             COUNT(*) AS hn
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hr) AS TIMESTAMP) AS day, event_type,
           CAST(ROUND(SUM(CAST(hv AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS total_value,
           CAST(SUM(hn) AS BIGINT) AS n_events
    FROM hourly GROUP BY 1, 2
    """,
    doc="Hierarchical rollup from MATERIALIZED PARTIALS: daily totals "
        "computed from the hourly aggregate, never from the fact "
        "table — at 100 TB the hourly table is written once and "
        "every coarser grain (day/week/month) derives from it, "
        "re-aggregating |hours|x|types| rows instead of rescanning "
        "the corpus (the rollup discipline behind every OLAP cube "
        "and the same mergeability the sketch family pins for "
        "approximate state). SUM/COUNT are mergeable, so the "
        "two-level result is exactly the one-level one; both levels "
        "use the decimal-accumulate discipline, and the oracle "
        "states the same two-level construction.",
)
def events_hourly_to_daily_rollup(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    hourly = (e.groupBy(F.date_trunc("hour", "ts").alias("hr"),
                        "event_type")
              .agg(dsum("value", 6).alias("hv"),
                   F.count("*").alias("hn")))
    return (hourly.groupBy(F.date_trunc("day", "hr").alias("day"),
                           "event_type")
            .agg(dsum("hv", 2).alias("total_value"),
                 F.sum("hn").alias("n_events")))


@register(
    "corpus_dedup_rate_by_source",
    """
    WITH d AS (
      SELECT source,
             md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS dg
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT dg) AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT dg) * 1.0 / COUNT(*), 9)
             AS dup_rate
    FROM d GROUP BY source
    """,
    doc="Dedup-rate dashboard: per ingestion source, documents vs "
        "distinct normalized-content digests and the duplicate share "
        "— the first metric a corpus-curation run reports (a source "
        "whose dup_rate jumps is re-crawling itself; the metric "
        "decides which sources the expensive near-dup passes "
        "prioritize). Same normalization as dedup_exact, so the "
        "rates reconcile with the dedup pass's keep-set. Scale: one "
        "groupBy over 16-byte digests (never text), "
        "distinct-aggregate split applies.",
)
def corpus_dedup_rate_by_source(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    dg = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (d.select("source", dg.alias("dg"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("dg").alias("n_unique"),
                 F.round(F.lit(1.0) - F.countDistinct("dg") * 1.0
                         / F.count("*"), 9).alias("dup_rate")))


@register(
    "events_funnel_conversion",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(ts) FILTER (event_type = 'view') AS tv,
             MIN(ts) FILTER (event_type = 'click') AS tc,
             MIN(ts) FILTER (event_type = 'purchase') AS tp
      FROM events GROUP BY user_id
    ), flags AS (
      SELECT user_id, tv IS NOT NULL AS s1,
             tv IS NOT NULL AND tc IS NOT NULL AND tc > tv AS s2,
             tv IS NOT NULL AND tc IS NOT NULL AND tc > tv
               AND tp IS NOT NULL AND tp > tc AS s3
      FROM per_user
    )
    SELECT COUNT(*) FILTER (s1) AS n_view,
           COUNT(*) FILTER (s2) AS n_view_click,
           COUNT(*) FILTER (s3) AS n_view_click_purchase,
           ROUND(COUNT(*) FILTER (s2) * 1.0
                 / COUNT(*) FILTER (s1), 9) AS click_rate,
           ROUND(COUNT(*) FILTER (s3) * 1.0
                 / COUNT(*) FILTER (s2), 9) AS purchase_rate
    FROM flags
    """,
    doc="Funnel conversion report: users whose FIRST view precedes "
        "their first click precedes their first purchase, with "
        "stage-to-stage rates — the product-analytics staple the "
        "reference's CEP examples sell (cep_funnel matches the same "
        "ordered pattern per event; this is the aggregate report "
        "over it, strict-ordering semantics via first-timestamp "
        "comparison). Scale: ONE conditional aggregate by user "
        "(FILTER clauses share the pass), then a 5-number global "
        "reduce — no self-join, no window, no NFA needed for the "
        "rate report.",
)
def events_funnel_conversion(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    mt = lambda typ: F.min(F.when(F.col("event_type") == typ,  # noqa: E731
                                  F.col("ts")))
    pu = (e.groupBy("user_id")
          .agg(mt("view").alias("tv"), mt("click").alias("tc"),
               mt("purchase").alias("tp")))
    s1 = F.col("tv").isNotNull()
    s2 = s1 & F.col("tc").isNotNull() & (F.col("tc") > F.col("tv"))
    s3 = s2 & F.col("tp").isNotNull() & (F.col("tp") > F.col("tc"))
    flags = pu.select(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))
    cnt = lambda c: F.count(F.when(F.col(c), 1))  # noqa: E731
    return flags.agg(
        cnt("s1").alias("n_view"),
        cnt("s2").alias("n_view_click"),
        cnt("s3").alias("n_view_click_purchase"),
        F.round(cnt("s2") * 1.0 / cnt("s1"), 9).alias("click_rate"),
        F.round(cnt("s3") * 1.0 / cnt("s2"), 9).alias("purchase_rate"))


@register(
    "events_kmv_intersection",
    """
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('view', 'purchase')
    ), h AS (
      SELECT event_type,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                    1, 15) AS BIGINT) AS hv
      FROM du
    ), ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hv) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hashes
      FROM h
    ), kth AS (
      SELECT CASE WHEN n_hashes < 16
                  THEN CAST(1152921504606846976 AS BIGINT)
                  ELSE hv END AS th
      FROM ranked
      WHERE rk = CASE WHEN n_hashes < 16 THEN n_hashes ELSE 16 END
    ), theta AS (SELECT MIN(th) AS theta FROM kth),
    common AS (
      SELECT a.hv FROM h a JOIN h b ON a.hv = b.hv
      WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    ), sample AS (
      SELECT c.hv, t.theta FROM common c CROSS JOIN theta t
      WHERE c.hv < t.theta
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
           ROUND(COUNT(*) * CAST(1152921504606846976 AS DOUBLE)
                 / CAST(ANY_VALUE(theta) AS DOUBLE), 4)
             AS est_intersection,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT user_id FROM events WHERE event_type = 'view'
               INTERSECT
               SELECT user_id FROM events
               WHERE event_type = 'purchase'))
             AS exact_intersection
    FROM sample
    """,
    doc="Theta-sketch SET INTERSECTION, stated deterministically: the "
        "audience-overlap estimator (viewers who also purchased) from "
        "two k=16 min-hash sketches — theta = min of the two 16th-"
        "smallest hashes (2^60 when a set is smaller than k, making "
        "the sketch exact), sample = common hashes below theta, "
        "estimate = |sample| * 2^60 / theta. Completes the KMV "
        "algebra next to events_kmv_distinct_union: union merges "
        "min-k sets, intersection thins the common sample by the "
        "joint theta — the two operations that make theta sketches "
        "an OLAP-cube algebra (Datasketches' core claim), here with "
        "an exact INTERSECT reference column in the same row. Scale: "
        "per-type distinct hashes shuffle once; the common-hash join "
        "keys on 8-byte hashes; theta is a 1-row broadcast.",
)
def events_kmv_intersection(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    # persist the per-type distinct user set: it feeds FIVE consumers
    # (the hash set's three readers, the per-type counts, and the
    # exact-intersection reference), each of which would otherwise
    # re-scan events and re-run the distinct shuffle; |du| = distinct
    # users per type, far below the event count at scale
    du = (e.where(F.col("event_type").isin("view", "purchase"))
          .select("event_type", "user_id").distinct().persist())
    h = du.select("event_type",
                  md5_int_expr(F.col("user_id").cast("string"))
                  .alias("hv")).persist()
    # rk <= 16 directly above the rank window triggers Spark's
    # InferWindowGroupLimit: each map task forwards only its local
    # top-16 hashes per type into the window exchange, so the sort
    # never sees the full per-type hash set (the n_hashes COUNT
    # window the previous shape carried alongside forced a full
    # pass and disabled the pushdown — it comes from a tiny groupBy
    # broadcast instead)
    w2 = W.partitionBy("event_type").orderBy("hv")
    top16 = (h.withColumn("rk", F.row_number().over(w2))
             .where(F.col("rk") <= 16))
    cnt = (h.groupBy("event_type")  # 1:1 with du — reads the cache
           .agg(F.count("*").alias("n_hashes")))
    kth = (top16.join(F.broadcast(cnt), "event_type")
           .where(F.col("rk") == F.least(F.col("n_hashes"), F.lit(16)))
           .select(F.when(F.col("n_hashes") < 16,
                          F.lit(1152921504606846976).cast("bigint"))
                   .otherwise(F.col("hv")).alias("th")))
    theta = kth.agg(F.min("th").alias("theta"))
    common = (h.where(F.col("event_type") == "view").select("hv")
              .join(h.where(F.col("event_type") == "purchase")
                    .select("hv"), "hv"))
    sample = (common.crossJoin(F.broadcast(theta))
              .where(F.col("hv") < F.col("theta")))
    # exact reference from the SAME persisted distinct set: a user is
    # in the intersection iff both types appear among their du rows —
    # one aggregate instead of two more event scans + a distinct join
    ex = (du.groupBy("user_id")
          .agg(F.count("*").alias("n_types"))
          .where(F.col("n_types") == 2)
          .agg(F.count("*").cast("bigint").alias("exact_intersection")))
    est = F.round(F.count("*") * 1152921504606846976.0
                  / F.first("theta").cast("double"), 4)
    return (sample.agg(F.count("*").cast("bigint").alias("n_sample"),
                       est.alias("est_intersection"))
            .crossJoin(F.broadcast(ex)))


@register(
    "events_hll_trailing_distinct",
    f"""
    WITH h AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr_num,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                    1, 15) AS BIGINT) AS hv
      FROM events
    ), hb AS (
      SELECT hr_num, hv % 64 AS bucket, hv // 64 AS w FROM h
    ), regs AS (
      SELECT hr_num, bucket, MAX({{rho}}) AS mj
      FROM hb GROUP BY 1, 2
    ), hours AS (SELECT DISTINCT hr_num FROM h),
    grid AS (
      SELECT hours.hr_num, b.bucket
      FROM hours CROSS JOIN (SELECT unnest(range(64)) AS bucket) b
    ), joined AS (
      SELECT g.hr_num, g.bucket, r.mj
      FROM grid g LEFT JOIN regs r
        ON g.hr_num = r.hr_num AND g.bucket = r.bucket
    ), trail AS (
      SELECT hr_num, bucket,
             MAX(mj) OVER (PARTITION BY bucket ORDER BY hr_num
                           RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS tmj
      FROM joined
    ), reg2 AS (
      SELECT hr_num,
             CAST(64 - COUNT(tmj) AS INT) AS n_zero,
             CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (55 - tmj)), 0)
                  + (64 - COUNT(tmj))
                    * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
      FROM trail GROUP BY 1
    ), ex AS (
      SELECT cover_hr AS hr_num,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 + u AS cover_hr, user_id
            FROM events, (SELECT unnest(range(3)) AS u) s) c
      WHERE cover_hr IN (SELECT hr_num FROM hours)
      GROUP BY 1
    )
    SELECT reg2.hr_num, n_zero, s_scaled,
           ROUND(CASE WHEN n_zero > 0
                       AND CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                           * CAST(36028797018963968 AS DOUBLE)
                           / CAST(s_scaled AS DOUBLE) <= 160.0
                      THEN 64.0 * ln(64.0 / n_zero)
                      ELSE CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                           * CAST(36028797018963968 AS DOUBLE)
                           / CAST(s_scaled AS DOUBLE) END, 4)
             AS est_distinct,
           exact_distinct
    FROM reg2 JOIN ex ON reg2.hr_num = ex.hr_num
    """.format(rho=_HLL_RHO_SQL),
    doc="Sliding-window distinct via the HLL register CUBE: hourly "
        "64-register sketches, trailing-3-hour distinct users per "
        "hour by register-wise MAX over a RANGE window (gap-correct "
        "on sparse hours) — 'distinct users in the last N hours' "
        "without ever rescanning raw data, because HLL registers "
        "merge by MAX (the temporal twin of events_hll_union's set "
        "union; the relational form of every streaming distinct-"
        "users dashboard). The exact reference column replays the "
        "same trailing semantics scalably: each event explodes to "
        "the <=3 hours it covers, one distinct-count per hour. "
        "Scale: the fact scan reduces to |hours| x 64 register rows; "
        "the window runs over that key-domain-sized grid (partition "
        "by bucket), never over events; the exact side shuffles "
        "(hour, user) pairs 3x — exactly the cost the sketch path "
        "avoids at 100 TB.",
)
def events_hll_trailing_distinct(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    e = t(spark, sf_dir, "events")
    hr = F.expr("CAST(unix_timestamp(ts) AS BIGINT) DIV 3600")
    h = e.select(hr.alias("hr_num"),
                 md5_int_expr(F.col("user_id").cast("string"))
                 .alias("hv"))
    hb = h.select("hr_num", (F.col("hv") % 64).alias("bucket"),
                  F.expr("hv DIV 64").alias("w"))
    trimmed = F.expr("trim(LEADING '0' FROM lpad(hex(w), 14, '0'))")
    first = F.substring(trimmed, 1, 1)
    rho = (F.when(F.col("w") == 0, F.lit(55))
           .otherwise(
               4 * (14 - F.length(trimmed))
               + F.when(first.isin(*"89ABCDEF"), 0)
               .when(first.isin("4", "5", "6", "7"), 1)
               .when(first.isin("2", "3"), 2)
               .otherwise(3) - 1))
    regs = (hb.withColumn("rho", rho)
            .groupBy("hr_num", "bucket")
            .agg(F.max("rho").alias("mj")))
    # persist the tiny hour-domain table: it feeds the register grid
    # AND the exact side's covered-hour semi-join — without it each
    # consumer re-scans events and re-runs the distinct
    hours = h.select("hr_num").distinct().persist()
    grid = hours.select(
        "hr_num", F.explode(F.sequence(F.lit(0), F.lit(63)))
        .alias("bucket"))
    joined = grid.join(regs, ["hr_num", "bucket"], "left")
    wr = (W.partitionBy("bucket").orderBy("hr_num")
          .rangeBetween(-2, 0))
    trail = joined.withColumn("tmj", F.max("mj").over(wr))
    reg2 = (trail.groupBy("hr_num")
            .agg((64 - F.count("tmj")).cast("int").alias("n_zero"),
                 (F.coalesce(
                     F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                                  "55 - tmj)")), F.lit(0))
                  + (64 - F.count("tmj"))
                  * F.lit(1 << 55).cast("long")).cast("bigint")
                 .alias("s_scaled")))
    raw = (0.709 * 4096.0 * 36028797018963968.0
           / F.col("s_scaled").cast("double"))
    est = F.round(
        F.when((F.col("n_zero") > 0) & (raw <= 160.0),
               64.0 * F.log(64.0 / F.col("n_zero")))
        .otherwise(raw), 4)
    ex = (e.select(hr.alias("base_hr"), "user_id")
          .select(F.explode(F.sequence(F.col("base_hr"),
                                       F.col("base_hr") + 2))
                  .alias("hr_num"), "user_id")
          .join(hours, "hr_num", "left_semi")
          .groupBy("hr_num")
          .agg(F.countDistinct("user_id").cast("bigint")
               .alias("exact_distinct")))
    return (reg2.withColumn("est_distinct", est)
            .join(ex, "hr_num")
            .select("hr_num", "n_zero", "s_scaled", "est_distinct",
                    "exact_distinct"))


@register(
    "basket_brand_lift",
    """
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM b),
    sup AS (SELECT brand, COUNT(*) AS ns FROM b GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, c.brand AS brand_b,
             COUNT(*) AS pair_n
      FROM b a JOIN b c ON a.o = c.o AND a.brand < c.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, pair_n, x.ns AS na, y.ns AS nb,
           ROUND(pair_n * 1.0 / x.ns, 9) AS confidence,
           ROUND(pair_n * 1.0 * n_orders / x.ns / y.ns, 9) AS lift
    FROM pairs
    JOIN sup x ON brand_a = x.brand
    JOIN sup y ON brand_b = y.brand
    CROSS JOIN n
    WHERE pair_n >= 10
    """,
    doc="Market-basket association rules over order baskets: brand "
        "pairs co-purchased in one order with support, confidence "
        "P(b|a) and lift P(a,b)/(P(a)P(b)) — the classic "
        "co-occurrence analytics every retail OLAP stack ships "
        "(and the item-affinity signal recommendation pipelines "
        "start from). Items are the ~25 brands via the BROADCAST "
        "part dimension, so supports are meaningful at test scale. "
        "Determinism: counts are exact; the two ratios are IEEE "
        "double chains stated with identical left-to-right "
        "association in both engines. Scale: ONE fact shuffle — "
        "brands broadcast-joined map-side, baskets grouped once, "
        "pairs expanded map-side from the per-order brand sets "
        "(operators/graph.pair_expand; O(k^2) per order, k <= 13 — "
        "data-proportional, never all-pairs across orders); brand "
        "supports are a domain-sized table joined back "
        "broadcast-style.",
)
def basket_brand_lift(spark, sf_dir):
    # ONE lineitem shuffle: broadcast-join the brand map-side, group
    # straight to per-order brand sets (the DISTINCT is the
    # collect_set), then derive n_orders / supports / pairs from the
    # tiny basket table — not the distinct + double self-join-shuffle
    # shape, which moved the fact table three times.
    from ..operators.graph import pair_expand
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    ob = (li.join(F.broadcast(pt),
                  li.l_partkey == pt.p_partkey)
          .select(F.col("l_orderkey").alias("o"),
                  F.col("p_brand").alias("brand")))
    baskets = (ob.groupBy("o")
               .agg(F.array_sort(F.collect_set("brand")).alias("brands"))
               .persist())
    n = baskets.agg(F.count("*").alias("n_orders"))
    sup = (baskets.select(F.explode("brands").alias("brand"))
           .groupBy("brand").agg(F.count("*").alias("ns")))
    pairs = (baskets.select(F.explode(pair_expand("brands")).alias("__p"))
             .groupBy(F.col("__p.a").alias("brand_a"),
                      F.col("__p.b").alias("brand_b"))
             .agg(F.count("*").alias("pair_n")))
    out = (pairs
           .join(F.broadcast(sup.select(F.col("brand").alias("brand_a"),
                                        F.col("ns").alias("na"))),
                 "brand_a")
           .join(F.broadcast(sup.select(F.col("brand").alias("brand_b"),
                                        F.col("ns").alias("nb"))),
                 "brand_b")
           .crossJoin(F.broadcast(n))
           .where(F.col("pair_n") >= 10))
    return out.select(
        "brand_a", "brand_b", "pair_n", "na", "nb",
        F.round(F.col("pair_n") * 1.0 / F.col("na"), 9)
        .alias("confidence"),
        F.round(F.col("pair_n") * 1.0 * F.col("n_orders")
                / F.col("na") / F.col("nb"), 9).alias("lift"))


@register(
    "corpus_domain_quota",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {MD5I.format(
                   x="concat('quota|', CAST(doc_id AS VARCHAR))")},
                        doc_id) AS INT) AS quota_rank
      FROM documents
    )
    SELECT doc_id, source, quota_rank FROM r WHERE quota_rank <= 40
    """,
    doc="Domain balancing by QUOTA (the complement of "
        "sample_stratified's per-stratum RATE): cap every ingestion "
        "source at 40 documents, chosen by a salted-md5 priority so "
        "the kept set is deterministic, engine-replayable and stable "
        "under resharding — the curation op that stops one crawl "
        "domain from dominating the training mix (per-domain caps are "
        "standard in web-corpus recipes; a quality score drops in for "
        "the hash priority unchanged). Scale: per-source top-k via "
        "row_number <= k compiles to WindowGroupLimit — Spark "
        "pre-prunes each map partition to its local top-k BEFORE the "
        "shuffle, so the exchange carries O(sources x k), not the "
        "corpus (plan-pinned). DuckDB ROW_NUMBER returns BIGINT -> "
        "CAST INT to match Spark.",
)
def corpus_domain_quota(spark, sf_dir):
    from ..pipeline.dedup import md5_int_expr
    d = t(spark, sf_dir, "documents")
    pri = md5_int_expr(
        F.concat(F.lit("quota|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(pri, "doc_id")
    return (d.select("doc_id", "source",
                     F.row_number().over(w).alias("quota_rank"))
            .where(F.col("quota_rank") <= 40))


@register(
    "dedup_image_phash",
    """
    SELECT doc_id,
           COUNT(*) OVER (PARTITION BY doc_id % 23) AS cluster_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 23)
             AS is_canonical
    FROM documents
    """,
    doc="HASH-ENFORCED image near-duplicate detection by perceptual "
        "hash (DCT pHash, pipeline/phash.py) — the canonical visual "
        "dedup of training-data curation (drop rescaled copies of "
        "the same picture), extending the repo's dedup family "
        "(exact / minhash / simhash / embedding-cosine) into the "
        "image modality. The corpus renders doc_id%23-keyed tiles at "
        "RESOLUTIONS varying with the text length (the same picture "
        "at 1x/2x/3x scale); the pipeline PNG-decodes every image, "
        "area-resizes to 32x32, takes the 32-point DCT, thresholds "
        "the 63 low-frequency AC coefficients on their median into "
        "a 64-bit hash (scale-invariant: the box resize inverts the "
        "block upscale exactly), and clusters on hash equality. The "
        "oracle states the ground-truth clustering (doc_id % 23) "
        "closed-form; one flipped hash bit anywhere in decode / "
        "resize / DCT / threshold splits a cluster and fails the "
        "compare (the 23 tiles sit >=20 Hamming bits apart, pinned "
        "in tests, so merges are impossible too). Scale: hash is "
        "map-only Arrow-batched Python over the corpus (zero "
        "shuffle, images never move); clustering shuffles 8-byte "
        "hashes once. Hamming-radius lookup ships alongside "
        "(phash_bands: 4x16-bit pigeonhole bands, candidate pairs "
        "from an equi-join — same discipline as simhash; pinned in "
        "tests/test_pipeline.py).",
)
def dedup_image_phash(spark, sf_dir):
    from ..pipeline.phash import phash_cluster_check
    return phash_cluster_check(t(spark, sf_dir, "documents"))


@register(
    "dedup_audio_fingerprint",
    """
    SELECT doc_id,
           COUNT(*) OVER (PARTITION BY doc_id % 23) AS cluster_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 23)
             AS is_canonical
    FROM documents
    """,
    doc="HASH-ENFORCED audio near-duplicate detection by spectral "
        "peak-pair constellation fingerprinting (the Shazam-style "
        "landmark scheme, Wang 2003; pipeline/audio_fp.py) — "
        "completing the dedup family's modality triplet: text "
        "(minhash/simhash), image (pHash), AUDIO. The corpus renders "
        "doc_id%23-keyed per-window integer-bin tone WAVs at "
        "DURATIONS varying with text length (the same recording at "
        "different lengths); the pipeline walks each RIFF container, "
        "frames the PCM (rect window, hop=N_FFT — deterministic), "
        "takes magnitude spectra (numpy rfft), picks one peak per "
        "frame (exact for integer-bin tones), packs consecutive-peak "
        "landmark hashes (f1<<7|f2), and clusters on the md5 "
        "signature of the COMMON-prefix landmarks — so duration "
        "variants collapse to one cluster. The oracle states the "
        "ground-truth clustering (doc_id % 23) closed-form; any "
        "drift in the WAV walk, STFT, peak pick, landmark packing "
        "or signature prefix splits/merges a cluster and fails the "
        "value hash (schedule distinctness and duration invariance "
        "pinned in tests). Scale: fingerprinting is map-only "
        "Arrow-batched Python (audio never shuffles); clustering "
        "shuffles one 8-byte signature per doc; the pairwise "
        "landmark matcher (hash equi-join, tests) never builds a "
        "cross product.",
)
def dedup_audio_fingerprint(spark, sf_dir):
    from ..pipeline.audio_fp import audio_fp_cluster_check
    return audio_fp_cluster_check(t(spark, sf_dir, "documents"))


@register(
    "dedup_video_fingerprint",
    """
    SELECT doc_id,
           COUNT(*) OVER (PARTITION BY doc_id % 23) AS cluster_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 23)
             AS is_canonical
    FROM documents
    """,
    doc="HASH-ENFORCED video near-duplicate detection by per-frame "
        "perceptual hashing over a REAL container/codec pipeline "
        "(pipeline/video_fp.py) — completing the dedup family's "
        "modality QUARTET: text (minhash/simhash), image (pHash), "
        "audio (constellation), VIDEO. The corpus renders one "
        "MJPEG-AVI clip per document whose footage depends only on "
        "doc_id % 23 while its DURATION (6..10 frames) and header "
        "fps vary with text length — the same clip published at "
        "different lengths. The pipeline walks each RIFF/AVI "
        "container (frame count is free — no codec work), "
        "JPEG-decodes ONLY the first 4 frames (MJPEG frames are "
        "independent: prefix decode costs exactly its share — the "
        "selective-decode access pattern vision curation relies "
        "on), DCT-pHashes each frame's luma, and clusters on the "
        "md5 signature of that frame-hash prefix — so duration "
        "variants collapse to one cluster. Per-cluster resolution "
        "(32/64 px) and chroma mode (4:4:4/4:2:0/4:2:2) exercise "
        "every decode layout; frame encodes are memoized per "
        "(cluster, frame) so corpus synthesis doesn't drown the "
        "measured decode path. The oracle states the ground-truth "
        "clustering (doc_id % 23) closed-form; any drift in the AVI "
        "walk, JPEG decode, luma transform, pHash or signature "
        "prefix splits/merges a cluster and fails the value hash "
        "(signature distinctness, within-cluster frame sequence "
        "distinctness, >=16-bit cross-cluster frame margins and "
        "<=2-bit rescale drift all pinned in tests). Scale: "
        "fingerprinting is map-only Arrow-batched Python (clips "
        "never shuffle); clustering shuffles one 8-byte signature "
        "per clip; the offset-voting frame matcher (tests) is an "
        "equi-join on the frame hash — never a cross product.",
)
def dedup_video_fingerprint(spark, sf_dir):
    from ..pipeline.video_fp import video_fp_cluster_check
    return video_fp_cluster_check(t(spark, sf_dir, "documents"))
