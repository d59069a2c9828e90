"""Perceptual image hashing (pHash) + banded near-dup lookup — the
canonical image-dedup operator of large-scale training-data curation
(laion/datacomp-style pipelines drop visual near-duplicates before
training; the reference has no image ops, so this extends the repo's
dedup family — exact, minhash-LSH, simhash, embedding-cosine — into
the image modality with the same bucket-join scale discipline).

Algorithm (the standard DCT pHash):
  1. luma plane, area-averaged down to 32x32 (box filter over the
     source grid — deterministic, no resample kernel choice),
  2. 32x32 orthonormal DCT-II,
  3. keep the top-left 8x8 low-frequency block MINUS the DC term,
  4. threshold each coefficient against the MEDIAN of those 63 →
     64-bit hash (bit 63 is the DC slot, always 0 by construction).

Properties the tests pin: brightness/contrast shifts (affine pixel
transforms) do not flip bits (median threshold is affine-invariant),
small local edits flip few bits (low-frequency support), distinct
structures land far apart.

Near-dup lookup at scale: split the 64-bit hash into 4 x 16-bit
bands — two hashes within Hamming distance 3 share at least one
band EXACTLY (pigeonhole, same machinery as pipeline/dedup.py's
simhash bands) — so candidate pairs come from an equi-join on
(band_ix, band_value), never a cross product. A corpus of N images
shuffles N*4 band rows once; each bucket is tiny under any
non-adversarial hash distribution.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dct_matrix_n(n: int) -> np.ndarray:
    """Orthonormal n-point DCT-II matrix (generalizes jpeg._dct_matrix
    beyond 8)."""
    d = np.zeros((n, n))
    for u in range(n):
        cu = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(n):
            d[u, x] = (np.sqrt(2.0 / n) * cu
                       * np.cos((2 * x + 1) * u * np.pi / (2 * n)))
    return d


_D32 = _dct_matrix_n(32)


def area_resize_gray(gray: np.ndarray, out: int = 32) -> np.ndarray:
    """Area resize of a 2-D float array to out x out: target cell r
    covers source rows [r*h//out, (r+1)*h//out) (≥1 row — upscaling
    degenerates to nearest-row replication, reduceat's behavior for
    repeated indices), box-averaged. Deterministic integer-index
    partition — no resample kernel choice to disagree about."""
    g = gray.astype(np.float64)
    h, w = g.shape
    ys = (np.arange(out) * h) // out
    xs = (np.arange(out) * w) // out
    rows = np.add.reduceat(g, ys, axis=0)
    cells = np.add.reduceat(rows, xs, axis=1)
    cy = np.maximum(np.diff(np.append(ys, h)), 1)
    cx = np.maximum(np.diff(np.append(xs, w)), 1)
    return cells / (cy[:, None] * cx[None, :])


def phash64(gray: np.ndarray) -> int:
    """64-bit perceptual hash of a 2-D uint8/float luma array."""
    small = area_resize_gray(gray.astype(np.float64), 32)
    coef = _D32 @ small @ _D32.T
    block = coef[:8, :8].reshape(64)
    ac = np.delete(block, 0)           # drop DC (bit slot stays 0)
    med = float(np.median(ac))
    bits = 0
    for i, v in enumerate(ac):
        if v > med:
            bits |= 1 << i
    return bits


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def phash_column(media: DataFrame, media_col: str = "media",
                 decode=None) -> DataFrame:
    """(doc_id, media) -> (doc_id, phash bigint): Arrow-batched
    map-only compute — zero shuffle, the corpus never moves. decode
    defaults to the in-repo PNG decoder; any callable
    bytes -> (w, h, rgba bytes) slots in."""
    from .multimodal import map_rows
    if decode is None:
        from .multimodal import png_decode as decode

    def row(doc_id, blob):
        w, h, rgba = decode(blob)
        px = np.frombuffer(rgba, np.uint8).reshape(h, w, 4)
        luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        # map the unsigned 64-bit hash into bigint range
        return [{"doc_id": doc_id, "phash": phash64(luma) - (1 << 63)}]

    return map_rows(media, ["doc_id", media_col], row,
                    "doc_id bigint, phash bigint")


def phash_bands(hashes: DataFrame, n_bands: int = 4) -> DataFrame:
    """(doc_id, phash) -> (doc_id, band_ix, band_val): the pigeonhole
    index for Hamming-radius lookup (radius n_bands - 1). Pure
    bit-slicing in codegen — joins on (band_ix, band_val) generate
    candidate pairs without a cross product."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band_ix"),
            F.shiftrightunsigned(F.col("phash"), i * width)
            .bitwiseAND(F.lit(mask)).alias("band_val"))
        for i in range(n_bands)])
    return (hashes.select("doc_id", F.explode(bands).alias("b"))
            .select("doc_id", F.col("b.band_ix").alias("band_ix"),
                    F.col("b.band_val").alias("band_val")))


def _phash_tile(pat: int) -> np.ndarray:
    """Deterministic 32x32 test tile for cluster `pat` — structured
    enough that the 23 tiles sit >= 20 Hamming bits apart (pinned in
    tests), so distinct clusters cannot merge."""
    X, Y = np.meshgrid(np.arange(32), np.arange(32), indexing="xy")
    return (((X * (pat % 5 + 1) + Y * (pat % 7 + 1)) * 17
             + X * Y * (pat % 3 + 1)) & 0xFF).astype(np.uint8)


def synthesize_phash_corpus(documents: DataFrame) -> DataFrame:
    """Per-document PNG whose CONTENT depends only on doc_id % 23
    (the cluster id) while its RESOLUTION varies with the text length
    (32/64/96 wide x 32/64 tall, block-upscaled) — the scale-invariant
    near-duplicate corpus: the same picture at different sizes. The
    box area-resize inverts a block upscale exactly, so every render
    of a tile hashes IDENTICALLY and clusters are exactly the pat
    groups — the closed form a SQL oracle can state."""
    from .multimodal import map_documents, png_encode

    def row(doc_id, text):
        sx, sy = len(text) % 3 + 1, len(text) % 2 + 1
        t = np.repeat(np.repeat(_phash_tile(doc_id % 23), sy, 0), sx, 1)
        h, w = t.shape
        rgba = np.dstack([t, t, t, np.full_like(t, 255)]).tobytes()
        return [{"doc_id": doc_id, "media": png_encode(w, h, rgba)}]

    return map_documents(documents, row, "doc_id bigint, media binary")


def phash_cluster_check(documents: DataFrame) -> DataFrame:
    """Hash-enforced closed loop for image-dedup-by-pHash: synthesize
    the scale-varied corpus, PNG-decode + hash every image executor-
    side (map-only), then cluster on the 64-bit hash — one shuffle.
    Output (doc_id, cluster_size, is_canonical) must equal the
    oracle's doc_id % 23 grouping: a single flipped hash bit anywhere
    (resize, DCT, median threshold, band packing) splits or merges a
    cluster and fails the value-hash compare."""
    from pyspark.sql import Window

    hashes = phash_column(synthesize_phash_corpus(documents))
    win = Window.partitionBy("phash")
    return hashes.select(
        "doc_id",
        F.count("*").over(win).alias("cluster_size"),
        (F.col("doc_id") == F.min("doc_id").over(win))
        .alias("is_canonical"))
