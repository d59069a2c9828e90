"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these):
- exact: hash-groupBy on a content digest — one shuffle keyed by the
  digest; at 100 TB the digest (16 bytes) shuffles, not the text.
- MinHash+LSH: per-doc signature (H md5-derived min-hashes) computed
  row-locally from the doc's shingle array; banding turns O(n²)
  pairing into bucket-local pair expansion on band keys — only
  near-duplicates collide, so the candidate set is ~linear in the
  duplicate count.
- SimHash: 32-bit signature from token-hash bit votes; candidate
  pairs via Hamming distance on a 4-byte key (bucketable by prefix).
- n-gram Jaccard: exact verification on LSH/SimHash candidates (or
  small corpora) via shingle-set joins.

All hashing is md5-derived → replayable in the DuckDB oracle.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_int_expr(c: Column, salt: str | Column = "") -> Column:
    """First 60 bits of md5 as a non-negative bigint — portable across
    engines (DuckDB: CAST('0x'||substring(md5(...),1,15) AS BIGINT))."""
    salted = F.concat(salt if isinstance(salt, Column) else F.lit(salt), c)
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")


def md5_int(col: Column | str, salt: str = "") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return md5_int_expr(c, salt)


def shingles(text: Column | str, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingles (distinct): the unit set for Jaccard/MinHash.
    Documents shorter than n tokens yield an EMPTY set (sequence(1, 0)
    would otherwise produce the descending [1, 0] and index out of
    bounds — same guard as text.ngrams)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, sep)
    count = F.size(toks) - (n - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        sep, *[F.element_at(toks, i + j) for j in range(n)])
    return F.when(
        count >= 1,
        F.array_distinct(F.transform(F.sequence(F.lit(1), count), gram))
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized content: keep the lowest id per digest.

    Normalization: lowercase + whitespace collapse (the standard
    exact-dup definition for web corpora).
    """
    digest = F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (df.withColumn("content_hash", digest)
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


def minhash_lsh_bands(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 8, rows_per_band: int = 4,
                      shingle_n: int = 3) -> DataFrame:
    """MinHash banding with ZERO shuffles: (id, band, band_key).

    Min-hash h of a doc is the minimum over its distinct shingles of
    md5_int("{h}|" + shingle), computed row-locally as an `array_min`
    over the doc's shingle ARRAY (transform + md5 per element) — the
    signature stage of a 100 TB corpus is a pure map over the scan,
    no (id, shingle) rows ever shuffle. Band b's key is the md5 of
    its rows' sorted "h:minhash" items joined with ",", so docs
    sharing any band_key are candidate pairs (classic banding). Docs
    with an empty shingle set produce no bands.
    """
    def hash_fn(h: int):
        # closure factory, NOT a default-arg lambda: F.transform
        # passes the element index to 2-arg lambdas, which would
        # silently shadow the hash index
        return lambda s: md5_int_expr(F.concat(F.lit(f"{h}|"), s))

    mins = [F.array_min(F.transform(F.col("__sh"), hash_fn(h)))
            .alias(f"m{h}") for h in range(num_hashes)]
    sigs = (df.select(F.col(id_col),
                      shingles(text_col, shingle_n).alias("__sh"))
            .where(F.size("__sh") >= 1)
            .select(id_col, *mins))
    n_bands = num_hashes // rows_per_band

    def band_key(b: int):
        items = [F.concat_ws(":", F.lit(str(h)),
                             F.col(f"m{h}").cast("string"))
                 for h in range(b * rows_per_band, (b + 1) * rows_per_band)]
        return F.md5(F.array_join(F.sort_array(F.array(*items)), ","))

    bands = F.array(*[F.struct(F.lit(b).cast("int").alias("band"),
                               band_key(b).alias("band_key"))
                      for b in range(n_bands)])
    return (sigs.select(id_col, F.explode(bands).alias("bk"))
            .select(id_col, "bk.band", "bk.band_key"))


def lsh_bucket_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs via bucket-local expansion: ONE shuffle keyed
    by (band, band_key) + a distinct, instead of a band self-join
    that plans the banding subtree twice. Each bucket's ids collect
    into one sorted array and expand to (a < b) pairs row-locally —
    bucket size is bounded by near-duplicate cluster size, the same
    bound that caps the self-join's output. Returns (a_id, b_id)."""
    from ..operators.graph import pair_expand
    return (bands.groupBy("band", "band_key")
            .agg(F.array_sort(F.collect_set(id_col)).alias("__ids"))
            .select(F.explode(pair_expand("__ids")).alias("__p"))
            .select(F.col("__p.a").alias("a_id"),
                    F.col("__p.b").alias("b_id"))
            .distinct())


def jaccard_pairs_arr(df: DataFrame, pairs: DataFrame, id_col: str,
                      text_col: str, shingle_n: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard for (a_id, b_id) pairs, verified
    ROW-LOCALLY: each side's shingle ARRAY joins onto the pair and
    |A∩B| is `array_intersect` — no shingle explode, no per-shingle
    shuffle, no size-table joins (four fewer exchanges and two fewer
    corpus scans than the inverted-index form). The arrays ride the
    join at document width, the same bytes the exploded form shuffles
    as (id, shingle) rows. Use when candidates are pair-bounded (LSH
    output); keep jaccard_pairs for unbounded pair sets where the
    inverted index's shingle-keyed shuffle spreads better."""
    sh = df.select(F.col(id_col),
                   shingles(text_col, shingle_n).alias("__sh"))
    a_side = sh.select(F.col(id_col).alias("a_id"),
                       F.col("__sh").alias("__sh_a"))
    b_side = sh.select(F.col(id_col).alias("b_id"),
                       F.col("__sh").alias("__sh_b"))
    n_inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (pairs.join(a_side, "a_id").join(b_side, "b_id")
            .select("a_id", "b_id",
                    (n_inter
                     / (F.size("__sh_a") + F.size("__sh_b") - n_inter))
                    .alias("jaccard")))


def jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                  text_col: str, shingle_n: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard for given (a_id, b_id) pairs."""
    sh = df.select(F.col(id_col),
                   F.explode(shingles(text_col, shingle_n)).alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a_sh = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b_sh = sh.select(F.col(id_col).alias("b_id"),
                     F.col("shingle").alias("shingle_b"))
    b_sh = b_sh.withColumnRenamed("b_id", "b_id2")
    inter = (pairs.join(a_sh, "a_id")
             .join(b_sh, (F.col("b_id") == F.col("b_id2"))
                   & (F.col("shingle") == F.col("shingle_b")))
             .groupBy("a_id", "b_id")
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col(id_col).alias("a_id"),
                               F.col("sz").alias("a_sz")), "a_id")
            .join(sizes.select(F.col(id_col).alias("b_id"),
                               F.col("sz").alias("b_sz")), "b_id")
            .select("a_id", "b_id",
                    (F.col("n_inter")
                     / (F.col("a_sz") + F.col("b_sz") - F.col("n_inter")))
                    .alias("jaccard")))


def containment_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                      text_col: str, shingle_n: int = 2) -> DataFrame:
    """Exact shingle-set max-containment |A∩B| / min(|A|,|B|) for given
    (a_id, b_id) pairs.

    The asymmetric companion to jaccard_pairs: a short document fully
    embedded in a long one has containment 1.0 but Jaccard ≈ |A|/|B|,
    so a Jaccard threshold misses the partial-copy case entirely (the
    boilerplate-inside-page and quote-of-article duplicates that web
    corpora are full of). Same inverted-index self-join plan as
    jaccard_pairs — shingle-keyed shuffle, never all-pairs text.
    """
    sh = df.select(F.col(id_col),
                   F.explode(shingles(text_col, shingle_n)).alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a_sh = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b_sh = sh.select(F.col(id_col).alias("b_id2"),
                     F.col("shingle").alias("shingle_b"))
    inter = (pairs.join(a_sh, "a_id")
             .join(b_sh, (F.col("b_id") == F.col("b_id2"))
                   & (F.col("shingle") == F.col("shingle_b")))
             .groupBy("a_id", "b_id")
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col(id_col).alias("a_id"),
                               F.col("sz").alias("a_sz")), "a_id")
            .join(sizes.select(F.col(id_col).alias("b_id"),
                               F.col("sz").alias("b_sz")), "b_id")
            .select("a_id", "b_id",
                    (F.col("n_inter")
                     / F.least("a_sz", "b_sz")).alias("containment")))


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per doc: token-hash bit votes, sign → bit.

    Pure relational and ONE shuffle: each distinct token contributes a
    32-column vote vector, summed per doc in a single groupBy with
    map-side combine; the signature is then a row-local expression.
    (The naive formulation explodes 32× and shuffles twice — at 100 TB
    the vote rows dominate; here the shuffle carries one 32-int row
    per (doc, token).)
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"))
    hashed = toks.withColumn("hv", md5_int_expr(F.col("tok")) % F.lit(2**32))
    votes = [F.when(F.expr(f"(hv >> {b}) & 1") == 1, 1).otherwise(-1)
             .alias(f"vote{b}") for b in range(32)]
    tallied = (hashed.select(id_col, *votes)
               .groupBy(id_col)
               .agg(*[F.sum(f"vote{b}").alias(f"v{b}") for b in range(32)]))
    bitvals = [F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint"))
               .otherwise(F.lit(0).cast("bigint")) for b in range(32)]
    simhash = functools.reduce(operator.add, bitvals)
    return tallied.select(id_col, simhash.alias("simhash"))


def _band_widths(bits: int, n_bands: int) -> list[int]:
    """Split ``bits`` into ``n_bands`` contiguous widths (as even as
    possible); any split preserves the pigeonhole guarantee."""
    base, extra = divmod(bits, n_bands)
    return [base + (1 if i < extra else 0) for i in range(n_bands)]


def simhash_hamming_pairs(sigs: DataFrame, id_col: str,
                          sig_col: str = "simhash", bits: int = 32,
                          threshold: int = 8) -> DataFrame:
    """All pairs with Hamming(sig_a, sig_b) <= threshold — banded, exact.

    Pigeonhole recall guarantee: split the signature into
    ``threshold + 1`` contiguous bit bands; a pair within the threshold
    differs in at most ``threshold`` bands, so at least one band is
    bit-identical. Equi-joining on (band_idx, band_bits) therefore
    finds EVERY qualifying pair — same exactness as the O(n²)
    self-join, but the shuffle is keyed by band values and only
    bucket-local pairs are compared (the same candidate→verify shape
    as cosine_dedup_bucketed / Manku et al.'s simhash dedup, WWW'07).

    At production scale pair volume is governed by band selectivity:
    64-bit signatures (or a lower threshold) make each band wide
    enough that buckets hold only near-duplicates. The verify step is
    a row-local ``bit_count(a XOR b)``.

    Duplicate candidates (a pair colliding in several bands) are
    removed ROW-LOCALLY, not with distinct: both signatures are
    present in the joined row, so each row can recompute every band
    of both sides and keep itself only when its band is the FIRST
    band on which the signatures agree — exactly one surviving row
    per qualifying pair (a qualifying pair agrees on >= 1 band by the
    pigeonhole bound, and the join emits a row for that first band).
    The previous ``.distinct()`` shuffled the full candidate set —
    50.5M rows at sf0.1 for 8.7M result pairs — through a hash
    aggregate; the filter costs n_bands shift-and-compares per row
    and no exchange (measured 28.2 -> 7.2s noop-sink at sf0.1, rows
    verified identical both ways with exceptAll).

    Precondition: ``id_col`` is unique in ``sigs`` (one signature row
    per id). The first-band filter removes repeat BANDS, not repeat
    rows: duplicate (id, sig) input rows yield duplicate result pairs.

    Returns (a_id, b_id, hamming) with a_id < b_id.
    """
    n_bands = threshold + 1
    widths = _band_widths(bits, n_bands)
    offsets = [sum(widths[:i]) for i in range(n_bands)]

    def band_bits(col: str, i: int):
        return (F.shiftright(F.col(col), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1)))

    bands = F.array(*[
        F.struct(
            F.lit(i).cast("int").alias("band"),
            band_bits(sig_col, i).alias("band_bits"))
        for i in range(n_bands)])
    banded = (sigs.select(F.col(id_col), F.col(sig_col),
                          F.explode(bands).alias("bk"))
              .select(id_col, sig_col, "bk.band", "bk.band_bits"))
    a = banded.select(F.col(id_col).alias("a_id"),
                      F.col(sig_col).alias("sig_a"), "band", "band_bits")
    b = banded.select(F.col(id_col).alias("b_id"),
                      F.col(sig_col).alias("sig_b"),
                      F.col("band").alias("band_b"),
                      F.col("band_bits").alias("band_bits_b"))
    first_match = F.when(band_bits("sig_a", 0) == band_bits("sig_b", 0),
                         F.lit(0))
    for i in range(1, n_bands):
        first_match = first_match.when(
            band_bits("sig_a", i) == band_bits("sig_b", i), F.lit(i))
    cand = (a.join(b, (a.band == b.band_b)
                   & (a.band_bits == b.band_bits_b)
                   & (a.a_id < b.b_id))
            .where(F.col("band") == first_match)
            .select("a_id", "b_id", "sig_a", "sig_b"))
    return (cand.withColumn(
                "hamming",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
            .where(F.col("hamming") <= threshold)
            .select("a_id", "b_id", "hamming"))
