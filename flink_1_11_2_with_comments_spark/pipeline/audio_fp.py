"""Audio fingerprinting — spectral peak-pair constellation hashing
(the Shazam-style landmark scheme, Wang 2003, public) — and
fingerprint-based audio dedup, completing the repo's modality
triplet: text (minhash/simhash), image (pHash), AUDIO (this file).

Scheme:
  1. window the PCM into N_FFT-sample frames (rectangular, hop =
     N_FFT: deterministic, no overlap-add choices),
  2. magnitude spectrum per frame (numpy rfft), DC bin suppressed,
  3. one peak bin per frame (argmax — the constellation),
  4. LANDMARK hashes pair consecutive peaks: hash = f1 << 7 | f2
     (dt is the constant 1 frame, so it packs away),
  5. a doc's SIGNATURE is the md5 of its first COMMON_WINDOWS-1
     landmark hashes — the shared prefix of recordings that differ
     only in length, so "same recording, different duration"
     collapses to one signature (the closed form a SQL oracle can
     state).

Scale shape: fingerprinting is map-only Arrow-batched Python over
the audio corpus (audio never shuffles); signature clustering
shuffles one 8-byte key per doc. The pairwise matcher
(shared-landmark counting via a hash equi-join, the actual Shazam
query shape) is exercised in tests over a bounded corpus — at 100 TB
the candidate join is still an equi-join on the landmark hash, never
a cross product.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_FFT = 256
COMMON_WINDOWS = 6          # every synthesized clip has >= this many


def tone_schedule(cid: int, n_windows: int) -> list[int]:
    """Deterministic per-cluster frequency-bin schedule (bins
    10..109 of the 129-bin rfft grid), QUADRATIC in the window
    index: a linear schedule made one cluster a time-shift of
    another, so their landmark constellations overlapped almost
    everywhere (found by the matcher test). With the w^2 term a
    cross-cluster CONSECUTIVE-pair match requires
    26*(w2-w1) == 0 (mod 100) -> w1 == w2 -> 7*dc == 0 (mod 100)
    -> same cluster (gcd(7,100)=1): cross-cluster landmark matches
    are impossible by construction, not just unlikely."""
    return [10 + (cid * 7 + w * w * 13 + w) % 100
            for w in range(n_windows)]


def synthesize_tone_pcm(cid: int, n_windows: int) -> bytes:
    """Per-window integer-bin sine tones: the rectangular-window DFT
    of an integer-bin sinusoid has its exact maximum at that bin, so
    the constellation is deterministic down to int16 rounding."""
    bins = tone_schedule(cid, n_windows)
    t = np.arange(N_FFT)
    sig = np.concatenate([np.sin(2 * np.pi * b * t / N_FFT)
                          for b in bins])
    return np.round(sig * 20000).astype("<i2").tobytes()


def spectral_peaks(samples: np.ndarray) -> np.ndarray:
    """Frame-wise argmax magnitude bin (DC suppressed)."""
    n = len(samples) // N_FFT
    wins = samples[:n * N_FFT].astype(np.float64).reshape(n, N_FFT)
    mags = np.abs(np.fft.rfft(wins, axis=1))
    mags[:, 0] = 0.0
    return np.argmax(mags, axis=1)


def peak_pair_hashes(peaks: np.ndarray) -> list[int]:
    """Landmark hashes over consecutive peaks (dt fixed at 1)."""
    return [(int(peaks[i]) << 7) | int(peaks[i + 1])
            for i in range(len(peaks) - 1)]


def fingerprint_signature(hashes: list[int],
                          k: int = COMMON_WINDOWS - 1) -> int:
    """Signed-64 signature of the first k landmarks (the common
    prefix across durations of the same recording)."""
    digest = hashlib.md5(
        "|".join(map(str, hashes[:k])).encode()).hexdigest()
    return int(digest[:15], 16) - (1 << 59)


def synthesize_audio_corpus(documents: DataFrame) -> DataFrame:
    """Per-document WAV whose CONTENT depends only on doc_id % 23
    (the cluster id) while its DURATION varies with the text length
    (6..10 windows) — the same recording at different lengths."""
    from .multimodal import map_documents, wav_build

    def row(doc_id, text):
        n_windows = COMMON_WINDOWS + len(text) % 5
        pcm = synthesize_tone_pcm(doc_id % 23, n_windows)
        return [{"doc_id": doc_id, "media": wav_build(8000, pcm)}]

    return map_documents(documents, row, "doc_id bigint, media binary")


def audio_fingerprints(media: DataFrame,
                       media_col: str = "media") -> DataFrame:
    """(doc_id, media WAV) -> (doc_id, signature, n_landmarks):
    map-only Arrow-batched decode + STFT + constellation — zero
    shuffle, the audio corpus never moves."""
    from .multimodal import map_rows, wav_parse

    def row(doc_id, blob):
        _rate, samples = wav_parse(blob)
        hashes = peak_pair_hashes(spectral_peaks(samples))
        return [{"doc_id": doc_id,
                 "signature": fingerprint_signature(hashes),
                 "n_landmarks": len(hashes)}]

    return map_rows(media, ["doc_id", media_col], row,
                    "doc_id bigint, signature bigint, n_landmarks int")


def audio_fp_cluster_check(documents: DataFrame) -> DataFrame:
    """Hash-enforced closed loop for fingerprint audio dedup:
    synthesize the duration-varied corpus, fingerprint every clip
    executor-side, cluster on the signature — one 8-byte-key
    shuffle. Output (doc_id, cluster_size, is_canonical) must equal
    the oracle's doc_id % 23 grouping: any drift in the WAV walk,
    STFT, peak pick, landmark packing or signature prefix splits or
    merges a cluster and fails the value-hash compare."""
    from pyspark.sql import Window

    fp = audio_fingerprints(synthesize_audio_corpus(documents))
    win = Window.partitionBy("signature")
    return fp.select(
        "doc_id",
        F.count("*").over(win).alias("cluster_size"),
        (F.col("doc_id") == F.min("doc_id").over(win))
        .alias("is_canonical"))


def landmark_match_counts(fp_a: DataFrame, fp_b: DataFrame) -> DataFrame:
    """The Shazam matcher shape: explode both sides to (doc_id,
    landmark) rows and equi-join on the landmark hash, counting
    shared landmarks per (a, b) pair — candidates come only from
    hash-bucket collisions (never a cross product). Inputs:
    (doc_id, landmarks array<bigint>)."""
    ea = fp_a.select(F.col("doc_id").alias("a"),
                     F.explode("landmarks").alias("h"))
    eb = fp_b.select(F.col("doc_id").alias("b"),
                     F.explode("landmarks").alias("h"))
    return (ea.join(eb, "h")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("shared")))
