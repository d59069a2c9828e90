"""Multimodal columns: image/audio/video as opaque binary + metadata.

The Spark-side plumbing is real — binary columns, typed metadata
structs, Arrow-batched feature extraction over mapInPandas with
correct batch shapes and partitioning. The HEADER codec is real too:
synthesize_png builds spec-correct PNG containers and
parse_png_header decodes signature/IHDR/width/height/bit-depth from
the standard byte offsets entirely in whole-stage codegen (it parses
genuine PNG files). PNG PIXEL decode is real too: png_decode
inflates the IDAT stream with the stdlib zlib and undoes the full
RFC-2083 filter set (None/Sub/Up/Average/Paeth), so genuine encoder
output decodes in this container — see synthesize_png_pixels /
decode_png_pixels. Round 13: baseline-sequential JPEG is real too —
GRAYSCALE, YCbCr 4:4:4, and 4:2:0 chroma-subsampled COLOR
(pipeline/jpeg.py — pure numpy/stdlib ITU-T T.81 subset:
DCT/quant/zigzag/Huffman/byte-stuffing both directions, JFIF color
conversion, interleaved MCUs with sampling factors, box-filter
chroma downsample / replication upsample, tables read from the
stream's own DQT/DHT; see synthesize_jpeg / jpeg_roundtrip_check).
Band-limited (windowed-sinc) audio resampling is real too
(resample_sinc_kernel / resample_pcm_sinc — the cutoff-scaled
Hann-sinc doubles as the anti-aliasing filter,
scalar-reference-pinned). Motion-JPEG VIDEO is real too
(pipeline/mjpeg_avi.py — spec-correct AVI RIFF container walk +
per-frame JPEG decode; see synthesize_mjpeg / mjpeg_frame_check).
Progressive JPEG (SOF2, with or without restart intervals) is real
as of r14. Still gated: inter-coded video (H.264/VP9/AV1),
mp3/opus — `decode_image` raises NotImplementedError unless the
deterministic fake decoder is chosen. At 100 TB the
pattern is: binary column stays columnar in parquet, header fields
extract JVM-side (predicate pushdown on dimensions!), pixel decode
runs in executor-side Python with Arrow batches, outputs are
fixed-width feature columns — no driver involvement.

Every Python stage here (and in phash/audio_fp/video_fp) is one
`map_rows` call: the stage supplies only its per-row function, which
returns zero, one or several output rows (the reference's
TableFunction.collect()); map_rows owns the Arrow batching. Decode
and transform stages inherit their input's partitioning. Synthesizers
go through `map_documents`, which widens the (doc_id, text) input
only via `_sizing.widen_if_underparallel`: a provably small table
spreads to core width, a big or unknown-size one keeps its scan width
and no shuffle is added.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from .._sizing import widen_if_underparallel


def map_rows(df: DataFrame, cols: list[str],
             fn: Callable[..., list[dict]], schema: str) -> DataFrame:
    """Per-row Python over ``df``: one Arrow-batched mapInPandas over
    ``df.select(*cols)`` that calls ``fn(*values)`` once per input row.
    ``fn`` returns a list of output dicts keyed by ``schema``'s column
    names — zero, one or several rows per input. Every batch's frame
    carries ``schema``'s columns, so an empty batch is well-formed.
    The stage keeps its input's partitioning (no exchange)."""
    names = DataType.fromDDL(schema).names

    def each_batch(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            yield pd.DataFrame(
                [out for vals in zip(*(pdf[c] for c in cols))
                 for out in fn(*vals)], columns=names)

    return df.select(*cols).mapInPandas(each_batch, schema)


def map_documents(documents: DataFrame, fn: Callable[..., list[dict]],
                  schema: str) -> DataFrame:
    """``map_rows`` over ``documents``' (doc_id, text) for the
    synthesizers: CPU-bound per-document Python, so a provably small
    input widens to core width first (widen_if_underparallel); big or
    unknown-size input keeps its own width."""
    docs = widen_if_underparallel(documents.select("doc_id", "text"))
    return map_rows(docs, ["doc_id", "text"], fn, schema)


MEDIA_SCHEMA = ("doc_id bigint, media binary, media_type string, "
                "width int, height int, n_bytes bigint")

FEATURE_SCHEMA = ("doc_id bigint, n_bytes bigint, byte_mean double, "
                  "byte_min int, byte_max int, phash bigint")


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Derive a deterministic fake 'image' binary per document (the
    text bytes stand in for pixel data) + typed metadata columns —
    the schema/partitioning shape of a real multimodal table."""
    return documents.select(
        "doc_id",
        F.encode("text", "utf-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.length("text") % 64 + 1).cast("int").alias("width"),
        (F.length("text") % 48 + 1).cast("int").alias("height"),
        F.octet_length(F.encode("text", "utf-8")).cast("bigint")
        .alias("n_bytes"))


PNG_SIGNATURE = bytes.fromhex("89504E470D0A1A0A")


def _be32(col):
    """Column<int> → 4-byte big-endian binary, JVM-side (hex → pad →
    unhex); the standard network-byte-order encoding PNG uses."""
    return F.unhex(F.lpad(F.hex(col.cast("bigint")), 8, "0"))


def synthesize_png(documents: DataFrame) -> DataFrame:
    """Build a REAL PNG container per document — signature + IHDR
    chunk laid out exactly per the PNG spec (signature 8 bytes; chunk
    length 4 BE; type 'IHDR'; width/height 4-byte BE; bit depth 8,
    color type 6 = RGBA, compression/filter/interlace 0; 4-byte CRC
    slot) with the document's UTF-8 bytes standing in for the IDAT
    payload. Pure whole-stage codegen: binary concat of literals and
    big-endian-encoded dimension columns — no Python anywhere. The CRC
    is zeroed (header parsers don't verify it; a pixel decoder would).
    """
    width = (F.length("text") % 64 + 1).cast("int")
    height = (F.length("text") % 48 + 1).cast("int")
    return documents.select(
        "doc_id",
        F.concat(
            F.lit(PNG_SIGNATURE),
            F.lit((13).to_bytes(4, "big")),      # IHDR data length
            F.lit(b"IHDR"),
            _be32(width), _be32(height),
            F.lit(bytes([8, 6, 0, 0, 0])),       # depth/color/c/f/i
            F.lit(bytes(4)),                     # CRC slot
            F.encode("text", "utf-8"),           # payload stand-in
        ).alias("media"),
        F.lit("image/png").alias("media_type"))


def parse_png_header(media: DataFrame,
                     media_col: str = "media") -> DataFrame:
    """REAL PNG IHDR parse, pure JVM codegen (the round-4 codec the
    stub boundary promised): verify the 8-byte signature and the IHDR
    chunk type, then read width/height (4-byte big-endian at offsets
    17/21, 1-based), bit depth (25), color type (26), and the payload
    size past the 33-byte signature+IHDR envelope. Offsets are the
    PNG standard's — this parses genuine PNG files, not just the
    synthesized ones. Every field is substring + hex + conv inside
    whole-stage codegen; zero Python, zero shuffle.
    """
    m = F.col(media_col)

    def be_int(pos: int, n: int):
        return F.conv(F.hex(F.substring(m, pos, n)), 16, 10).cast("bigint")

    return media.select(
        "doc_id",
        (F.substring(m, 1, 8) == F.lit(PNG_SIGNATURE)).alias("magic_ok"),
        (F.substring(m, 13, 4) == F.lit(b"IHDR")).alias("ihdr_ok"),
        be_int(17, 4).alias("width"),
        be_int(21, 4).alias("height"),
        be_int(25, 1).alias("bit_depth"),
        be_int(26, 1).alias("color_type"),
        (F.octet_length(m) - 33).cast("bigint").alias("payload_bytes"))


def decode_image(data: bytes):
    """Real codec hook — not available in this environment.

    A deployment installs pillow/torchvision and replaces this;
    everything downstream (schemas, batching) is codec-agnostic.
    """
    raise NotImplementedError(
        "image codecs not available in this container; "
        "use extract_features(..., fake_decode=True)")


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Feature extraction over binary media via Arrow-batched pandas.

    mapInPandas: one Python worker per partition, whole Arrow batches
    in/out — the only sane shape for per-item binary processing at
    scale (never a row-at-a-time UDF).
    """

    def row(doc_id, b):
        if not fake_decode:
            decode_image(b)  # raises: real codec absent
        return [{
            "doc_id": doc_id,
            "n_bytes": len(b),
            "byte_mean": (sum(b) / len(b)) if b else 0.0,
            "byte_min": min(b) if b else 0,
            "byte_max": max(b) if b else 0,
            # deterministic perceptual-hash stand-in
            "phash": int.from_bytes(hashlib.md5(b).digest()[:8],
                                    "big", signed=False) >> 1,
        }]

    return map_rows(media, ["doc_id", "media"], row, FEATURE_SCHEMA)


def _le(col, n: int):
    """Column<int> → n-byte LITTLE-endian binary, JVM-side: big-endian
    hex-encode then concat the byte slices in reverse (RIFF/WAV is
    little-endian throughout, unlike PNG)."""
    be = F.unhex(F.lpad(F.hex(col.cast("bigint")), 2 * n, "0"))
    return F.concat(*[F.substring(be, i, 1) for i in range(n, 0, -1)])


def synthesize_wav(documents: DataFrame) -> DataFrame:
    """Build a REAL RIFF/WAVE container per document — 44-byte
    canonical PCM header (RIFF size, 'WAVE', 'fmt ' subchunk with
    format/channels/sample-rate/byte-rate/block-align/bits, 'data'
    subchunk) with the document's UTF-8 bytes standing in for the PCM
    payload. All fields little-endian per the RIFF spec; pure
    whole-stage codegen (binary concat of literals and LE-encoded
    columns), no Python. The audio twin of synthesize_png."""
    text_bytes = F.octet_length(F.encode("text", "utf-8"))
    channels = (F.length("text") % 2 + 1).cast("int")          # 1-2
    rate = (F.lit(8000) + (F.col("n_chars") % 8) * 1000).cast("int")
    bits = F.lit(16)
    block = (channels * bits / 8).cast("int")
    return documents.select(
        "doc_id",
        F.concat(
            F.lit(b"RIFF"), _le(text_bytes + 36, 4), F.lit(b"WAVE"),
            F.lit(b"fmt "), F.lit((16).to_bytes(4, "little")),
            F.lit((1).to_bytes(2, "little")),                  # PCM
            _le(channels, 2), _le(rate, 4),
            _le(rate * block, 4),                              # byte rate
            _le(block, 2), _le(bits, 2),
            F.lit(b"data"), _le(text_bytes, 4),
            F.encode("text", "utf-8"),
        ).alias("media"),
        F.lit("audio/wav").alias("media_type"))


def parse_wav_header(media: DataFrame,
                     media_col: str = "media") -> DataFrame:
    """REAL RIFF/WAVE header parse, pure JVM codegen: verify
    RIFF/WAVE/fmt magic, then read channels (offset 23, LE16), sample
    rate (25, LE32), byte rate (29, LE32), bits per sample (35,
    LE16), and the data payload size (41, LE32) at the canonical
    44-byte-header offsets (1-based). Parses genuine PCM WAV files
    laid out canonically, not just the synthesized ones. Zero Python,
    zero shuffle — substring + hex + conv in whole-stage codegen."""
    m = F.col(media_col)

    def le_int(pos: int, n: int):
        rev = F.concat(*[F.substring(m, pos + i, 1)
                         for i in range(n - 1, -1, -1)])
        return F.conv(F.hex(rev), 16, 10).cast("bigint")

    return media.select(
        "doc_id",
        ((F.substring(m, 1, 4) == F.lit(b"RIFF"))
         & (F.substring(m, 9, 4) == F.lit(b"WAVE"))).alias("magic_ok"),
        (F.substring(m, 13, 4) == F.lit(b"fmt ")).alias("fmt_ok"),
        le_int(23, 2).alias("channels"),
        le_int(25, 4).alias("sample_rate"),
        le_int(29, 4).alias("byte_rate"),
        le_int(35, 2).alias("bits_per_sample"),
        le_int(41, 4).alias("data_bytes"))


def synthesize_mp4(documents: DataFrame) -> DataFrame:
    """Build a minimal REAL ISO-BMFF (MP4) container per document:
    an `ftyp` box (major brand isom, minor version 512, compatible
    brands isom+mp41) followed by an `mdat` box whose payload is the
    document's UTF-8 bytes. Box framing per ISO/IEC 14496-12: 4-byte
    big-endian box size (including the 8-byte header) + 4-byte type.
    Pure whole-stage codegen — the video twin of synthesize_png /
    synthesize_wav."""
    text_bytes = F.octet_length(F.encode("text", "utf-8"))
    ftyp = (F.lit((24).to_bytes(4, "big")) , F.lit(b"ftyp"),
            F.lit(b"isom"), F.lit((512).to_bytes(4, "big")),
            F.lit(b"isommp41"))
    return documents.select(
        "doc_id",
        F.concat(
            *ftyp,
            _be32(text_bytes + 8), F.lit(b"mdat"),
            F.encode("text", "utf-8"),
        ).alias("media"),
        F.lit("video/mp4").alias("media_type"))


def parse_mp4_boxes(media: DataFrame,
                    media_col: str = "media") -> DataFrame:
    """REAL ISO-BMFF top-level box walk, pure JVM codegen: read the
    first box's size/type (ftyp expected), its major brand, then the
    SECOND box's size/type at the offset the first box's size points
    to — a data-dependent offset, so substring positions come from a
    column, not literals (F.substr with Column args). Returns the
    mdat payload size for the canonical two-box layout. Handles any
    first-box size (not just the synthesized 24): this walks genuine
    MP4 files' first two boxes. Zero Python, zero shuffle."""
    m = F.col(media_col)

    def be_int_at(pos, n):
        return F.conv(F.hex(m.substr(pos, F.lit(n))), 16, 10) \
            .cast("bigint")

    box1_size = be_int_at(F.lit(1), 4)
    box2_pos = (box1_size + 1).cast("int")
    box2_size = be_int_at(box2_pos, 4)
    return media.select(
        "doc_id",
        (m.substr(5, 4) == F.lit(b"ftyp")).alias("ftyp_ok"),
        m.substr(9, 4).cast("string").alias("major_brand"),
        box1_size.alias("ftyp_bytes"),
        m.substr(box2_pos + F.lit(4), F.lit(4)).cast("string")
        .alias("box2_type"),
        box2_size.alias("box2_bytes"),
        (box2_size - 8).alias("payload_bytes"))


# ---------------------------------------------------------------------------
# REAL pixel decode (PNG): stdlib-zlib IDAT inflate + spec unfiltering
# ---------------------------------------------------------------------------

PIXEL_SCHEMA = ("doc_id bigint, width int, height int, n_pixels bigint, "
                "mean_r double, mean_g double, mean_b double, "
                "alpha_opaque boolean, px_md5 string")


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def png_encode(width: int, height: int, rgba: bytes) -> bytes:
    """Encode RGBA pixels as a fully valid PNG (8-bit, color type 6):
    real IHDR/IDAT/IEND chunks with CRC32, zlib-compressed scanlines,
    filter type 0 per row — openable by any image viewer."""
    assert len(rgba) == width * height * 4
    ihdr = struct.pack(">II", width, height) + bytes([8, 6, 0, 0, 0])
    stride = width * 4
    raw = b"".join(b"\x00" + rgba[y * stride:(y + 1) * stride]
                   for y in range(height))
    return (PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def _unfilter(raw: bytes, width: int, height: int, bpp: int = 4) -> bytes:
    """Undo PNG scanline filters 0-4 (None/Sub/Up/Average/Paeth) —
    the full spec set, so the decoder handles genuine PNGs whatever
    filter heuristic their encoder chose (RFC 2083 §6)."""
    stride = width * bpp
    out = bytearray()
    prev = bytes(stride)
    pos = 0
    for _y in range(height):
        ft = raw[pos]
        pos += 1
        line = bytearray(raw[pos:pos + stride])
        pos += stride
        if ft == 1:                                   # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:                                 # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:                                 # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:                                 # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc
                                                        else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += line
        prev = bytes(line)
    return bytes(out)


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _deinterlace_adam7(raw: bytes, width: int, height: int,
                       bpp: int = 4) -> bytes:
    """Adam7: the inflated stream is SEVEN independently-filtered
    sub-images; unfilter each pass with the standard scanline logic,
    then scatter it onto the output grid with its pass stride
    (out[y0::dy, x0::dx] = pass — a numpy strided assignment)."""
    out = np.zeros((height, width, bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        nbytes = ph * (1 + pw * bpp)
        sub = _unfilter(raw[pos:pos + nbytes], pw, ph, bpp)
        pos += nbytes
        out[y0::dy, x0::dx] = np.frombuffer(
            sub, dtype=np.uint8).reshape(ph, pw, bpp)
    return out.tobytes()


def png_decode(data: bytes) -> tuple[int, int, bytes]:
    """REAL PNG pixel decode with the Python stdlib only: walk the
    chunk stream, inflate the concatenated IDAT payload with zlib,
    undo the per-scanline filters. Supports 8-bit RGBA (color type
    6) — the full filter set AND both interlace methods (sequential
    and Adam7), so genuine encoder output decodes. Before round 13
    the interlace byte was silently ignored, which would have
    MIS-decoded a genuine Adam7 file rather than rejecting it — the
    worst failure class for a decoder that advertises real-file
    support."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, b""
    interlace = 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            width, height = struct.unpack(">II", body[:8])
            depth, color = body[8], body[9]
            interlace = body[12]
            if (depth, color) != (8, 6):
                raise ValueError("decoder supports 8-bit RGBA")
            if interlace not in (0, 1):
                raise ValueError(
                    f"png: unknown interlace method {interlace}")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    if interlace == 1:
        return width, height, _deinterlace_adam7(raw, width, height, 4)
    return width, height, _unfilter(raw, width, height, 4)


def deterministic_pixels(doc_id: int, width: int, height: int) -> bytes:
    """The test-corpus image: a deterministic RGBA gradient derived
    from the doc id — enough structure that channel means and the
    pixel checksum catch any decode error."""
    px = bytearray()
    for y in range(height):
        for x in range(width):
            px += bytes(((x * 7 + doc_id) % 256, (y * 13 + doc_id) % 256,
                         (x * y + 3 * doc_id) % 256, 255))
    return bytes(px)


def synthesize_png_pixels(documents: DataFrame) -> DataFrame:
    """Fully valid PNGs (real IDAT) per document via Arrow-batched
    mapInPandas — executor-side encode, fixed-width output schema."""
    def row(doc_id, text):
        w, h = len(text) % 16 + 1, len(text) % 12 + 1
        media = png_encode(w, h, deterministic_pixels(doc_id, w, h))
        return [{"doc_id": doc_id, "media": media,
                 "media_type": "image/png", "width": w, "height": h,
                 "n_bytes": len(media)}]

    return map_documents(documents, row, MEDIA_SCHEMA)


def decode_png_pixels(media: DataFrame,
                      media_col: str = "media") -> DataFrame:
    """Pixel statistics over a PNG binary column — REAL decode
    (stdlib zlib + full unfilter), Arrow-batched mapInPandas, no
    image library needed. The former stub boundary: JPEG/DCT and
    video frame decode still require external codecs, but PNG pixels
    are now decoded for real in this container."""
    def row(doc_id, blob):
        w, h, px = png_decode(blob)
        n = w * h
        return [{"doc_id": doc_id, "width": w, "height": h,
                 "n_pixels": n,
                 "mean_r": round(sum(px[0::4]) / n, 6),
                 "mean_g": round(sum(px[1::4]) / n, 6),
                 "mean_b": round(sum(px[2::4]) / n, 6),
                 "alpha_opaque": all(a == 255 for a in px[3::4]),
                 "px_md5": hashlib.md5(px).hexdigest()}]

    return map_rows(media, ["doc_id", media_col], row, PIXEL_SCHEMA)


# ---------------------------------------------------------------------------
# REAL audio sample decode (WAV PCM): numpy frombuffer over the data chunk
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = ("doc_id bigint, sample_rate int, n_samples bigint, "
                "mean_amp double, rms double, peak int, "
                "zero_crossings bigint")


def wav_build(sample_rate: int, pcm: bytes) -> bytes:
    """RIFF/WAVE container build (mono, 16-bit PCM) — the ONE
    production implementation of the header math; synthesize_wav_pcm
    and the closed-loop checks both call it, so a header-offset bug
    cannot hide in a reimplementation."""
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVEfmt "
           + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                         sample_rate * 2, 2, 16)
           + b"data" + struct.pack("<I", len(pcm)))
    return hdr + pcm


def wav_parse(b: bytes):
    """RIFF/WAVE parse → (sample_rate, int16 sample array) — the ONE
    production data-chunk walk; decode_wav_samples,
    resample_pcm_linear and the closed-loop checks all call it."""
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    rate, = struct.unpack("<I", b[24:28])
    size, = struct.unpack("<I", b[40:44])
    return int(rate), np.frombuffer(b[44:44 + size], dtype="<i2")


def sine_pcm_values(doc_id: int, n: int,
                    sample_rate: int = 8000) -> list[int]:
    """The deterministic test-corpus tone (frequency keyed on the doc
    id) — shared by the synthesizer and the checks' expected-value
    computation so both sides agree on the payload by construction."""
    freq = 200 + (doc_id % 40) * 20
    return [int(12000 * math.sin(2 * math.pi * freq * i / sample_rate))
            for i in range(n)]


def resample_linear_kernel(x, src_rate: int, target_rate: int):
    """Linear-interpolation resample of a float64 sample vector —
    output position i samples the source at t = i*src/target; y(t) =
    x[⌊t⌋] + frac·(x[⌊t⌋+1] − x[⌊t⌋]). The ONE production
    interpolation; resample_pcm_linear and transform_check share it
    (the check's expected values are replayed scalar-by-scalar,
    independently)."""
    n = len(x)
    if n < 2:  # nothing to interpolate between
        return x
    n_out = (n - 1) * target_rate // src_rate + 1
    t = np.arange(n_out) * (src_rate / target_rate)
    lo = np.minimum(t.astype(np.int64), n - 2)
    frac = t - lo
    return x[lo] + frac * (x[lo + 1] - x[lo])


def resize_nearest_kernel(px: bytes, sw: int, sh: int,
                          out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor RGBA resize: out[x,y] = src[x*sw//ow,
    y*sh//oh], exact in integer index math. The ONE production index
    mapping; resize_png_nearest and transform_check share it (the
    check recomputes expected pixels from the closed form,
    independently)."""
    a = np.frombuffer(px, dtype=np.uint8).reshape(sh, sw, 4)
    ix = (np.arange(out_w) * sw) // out_w
    iy = (np.arange(out_h) * sh) // out_h
    return a[iy][:, ix].tobytes()


def synthesize_wav_pcm(documents: DataFrame,
                       sample_rate: int = 8000) -> DataFrame:
    """Fully valid mono 16-bit PCM WAVs per document: a deterministic
    sine tone whose frequency/length derive from the document —
    openable by the stdlib `wave` module (pinned in tests). Arrow-
    batched mapInPandas; the real-payload sibling of the codegen
    synthesize_wav header twin."""
    def row(doc_id, text):
        n = len(text) % 200 + 50
        pcm = b"".join(struct.pack("<h", v)
                       for v in sine_pcm_values(doc_id, n, sample_rate))
        blob = wav_build(sample_rate, pcm)
        return [{"doc_id": doc_id, "media": blob,
                 "media_type": "audio/wav", "width": 0, "height": 0,
                 "n_bytes": len(blob)}]

    return map_documents(documents, row, MEDIA_SCHEMA)


def decode_wav_samples(media: DataFrame,
                       media_col: str = "media") -> DataFrame:
    """REAL PCM sample decode: numpy.frombuffer over the RIFF data
    chunk — amplitude statistics (mean, RMS, peak) and zero-crossing
    count, the standard audio-quality screens of a speech-corpus
    pipeline. Arrow-batched mapInPandas; no audio library —
    compressed codecs (mp3/opus) and resampling remain the env-gated
    boundary."""
    def row(doc_id, blob):
        rate, x = wav_parse(blob)
        x = x.astype(np.int64)
        return [{"doc_id": doc_id, "sample_rate": rate,
                 "n_samples": len(x),
                 "mean_amp": round(float(np.abs(x).mean()), 6),
                 "rms": round(float(np.sqrt((x * x).mean())), 6),
                 "peak": int(np.abs(x).max()),
                 "zero_crossings": int(
                     np.count_nonzero(np.diff(np.signbit(x))))}]

    return map_rows(media, ["doc_id", media_col], row, AUDIO_SCHEMA)


RESIZE_SCHEMA = ("doc_id bigint, media binary, width int, height int, "
                 "n_bytes bigint, px_md5 string")


def resize_png_nearest(media: DataFrame, out_w: int, out_h: int,
                       media_col: str = "media") -> DataFrame:
    """REAL image resize over a PNG binary column: decode (stdlib
    zlib + full unfilter), NEAREST-NEIGHBOR resample in numpy, and
    re-encode as a fully valid PNG — the decode→transform→re-encode
    multimodal pipeline stage, with no image library. Arrow-batched
    mapInPandas; each row is independent, so the op is map-only and
    the binary column never shuffles (the 100 TB multimodal shape).
    Bilinear/DCT-domain resampling stays with the JPEG/video
    env-gated boundary; nearest-neighbor is exactly representable in
    integer index math, so the test can pin output pixels
    source-exactly: out[x, y] = src[x*sw//ow, y*sh//oh]."""
    def row(doc_id, blob):
        sw, sh, px = png_decode(blob)
        raw = resize_nearest_kernel(px, sw, sh, out_w, out_h)
        out = png_encode(out_w, out_h, raw)
        return [{"doc_id": doc_id, "media": out, "width": out_w,
                 "height": out_h, "n_bytes": len(out),
                 "px_md5": hashlib.md5(raw).hexdigest()}]

    return map_rows(media, ["doc_id", media_col], row, RESIZE_SCHEMA)


RESAMPLE_SCHEMA = ("doc_id bigint, sample_rate int, n_samples bigint, "
                   "mean_amp double, rms double, peak int")


def resample_pcm_linear(media: DataFrame, target_rate: int,
                        media_col: str = "media") -> DataFrame:
    """REAL audio resample over a WAV binary column: decode the PCM
    data chunk, LINEAR-interpolate to target_rate in numpy, report
    amplitude statistics of the resampled signal. Output position i
    samples the source at t = i * src_rate / target_rate; y(t) =
    x[⌊t⌋] + frac·(x[⌊t⌋+1] − x[⌊t⌋]) — per-sample math a pure-Python
    reference replays exactly (pinned in tests). For band-limited
    resampling use the sibling resample_pcm_sinc (round 13; direct
    windowed-sinc, no scipy). Arrow-batched mapInPandas, map-only,
    zero shuffle."""
    def row(doc_id, blob):
        src_rate, x = wav_parse(blob)
        y = resample_linear_kernel(x.astype(np.float64), src_rate,
                                   target_rate)
        return [_resample_stats(doc_id, target_rate, y)]

    return map_rows(media, ["doc_id", media_col], row, RESAMPLE_SCHEMA)


def _resample_stats(doc_id: int, rate: int, y) -> dict:
    """RESAMPLE_SCHEMA row for a resampled signal ``y``."""
    n = len(y)
    return {"doc_id": doc_id, "sample_rate": rate, "n_samples": n,
            "mean_amp": round(float(np.abs(y).mean()), 6) if n else 0.0,
            "rms": round(float(np.sqrt((y * y).mean())), 6) if n else 0.0,
            "peak": int(np.abs(y).max()) if n else 0}


# ---------------------------------------------------------------------------
# REAL GIF pixel codec (pure-Python LZW): the third real in-container
# format next to PNG (zlib+unfilter) and WAV (PCM). GIF87a/89a per the
# CompuServe spec Appendix F: variable-width LZW codes packed LSB-first
# into 255-byte sub-blocks, CLEAR/EOI codes, code width growing when
# the next assignable code reaches 1 << width (the convention every
# mainstream codec implements), dictionary reset at 4096.
# ---------------------------------------------------------------------------

GIF_PALETTE16 = [((i * 37) % 256, (i * 83) % 256, (i * 151) % 256)
                 for i in range(16)]

PIXEL_SCHEMA_GIF = ("doc_id bigint, width int, height int, "
                    "n_pixels bigint, mean_r double, mean_g double, "
                    "mean_b double, px_md5 string")


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF LZW compress index stream at min-code-size ``mcs``.

    Width synchronization follows giflib (egif_lib.c
    EGifCompressOutput): after WRITING each code — and before
    assigning the new table slot for it — if the next assignable
    code ``nxt`` has reached ``1 << width``, the width grows. So
    after a clear at mcs=4, exactly 15 data codes (2^5 - 2^4 - 1)
    are written at width 5 and the 16th at width 6 — the convention
    giflib, browsers and Pillow all read. (An earlier revision grew
    the width one emission early, after the table insert; the pair
    was self-consistent but not interoperable — round-9 fix.)"""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out_bits = bytearray()
    acc = nbits = 0

    def putbits(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict = {}
    nxt = width = 0

    def reset():
        nonlocal table, nxt, width
        table = {bytes([i]): i for i in range(1 << mcs)}
        nxt = eoi + 1
        width = mcs + 1

    reset()
    putbits(clear, width)
    w = b""
    for b in indices:
        k = bytes([b])
        if w + k in table:
            w += k
            continue
        putbits(table[w], width)
        if nxt >= (1 << width) and width < 12:
            width += 1              # grow AFTER the write (giflib)
        table[w + k] = nxt
        nxt += 1
        if nxt == 4096:             # table full: reset before overflow
            putbits(clear, width)
            reset()
        w = k
    if w:
        putbits(table[w], width)
        if nxt >= (1 << width) and width < 12:
            width += 1              # EOI may land at the grown width
    putbits(eoi, width)
    if nbits:
        out_bits.append(acc & 0xFF)
    return bytes(out_bits)


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """GIF LZW decompress, giflib convention (dgif_lib.c
    DGifDecompressInput): one counter incremented per data code READ
    (the decoder's table lags the encoder's by exactly one entry);
    the width grows when the counter EXCEEDS 1 << width — i.e. after
    2^w - 2^mcs - 1 data codes post-clear, mirroring the encoder.
    Handles the KwKwK case (code == next table slot) and CLEAR
    resets anywhere."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = 0
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("LZW stream truncated")
        acc = 0
        for i in range(width):
            byte = data[(pos + i) >> 3]
            acc |= ((byte >> ((pos + i) & 7)) & 1) << i
        pos += width
        return acc

    roots = [bytes([i]) for i in range(1 << mcs)]
    table = roots + [b"", b""]
    width = mcs + 1
    nxt = eoi + 1
    out = bytearray()
    prev = None
    while True:
        code = read(width)
        if code == clear:
            table = roots + [b"", b""]
            width = mcs + 1
            nxt = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]          # KwKwK
            else:
                raise ValueError("corrupt LZW code")
            if len(table) < 4096:
                table.append(prev + entry[:1])
        out += entry
        prev = entry
        nxt += 1                    # per code read, as the encoder
        if nxt > (1 << width) and width < 12:
            width += 1
    return bytes(out)


def gif_encode(width: int, height: int, indices: bytes,
               palette: list[tuple[int, int, int]] | None = None
               ) -> bytes:
    """Encode a 16-color indexed image as a fully valid GIF89a:
    logical screen descriptor, global color table, image descriptor,
    real LZW-compressed data in 255-byte sub-blocks, trailer —
    openable by any image viewer."""
    palette = palette or GIF_PALETTE16
    assert len(palette) == 16 and len(indices) == width * height
    assert all(i < 16 for i in indices)
    head = b"GIF89a" + struct.pack("<HH", width, height) \
        + bytes([0xF3, 0, 0])        # GCT, 16 entries
    gct = b"".join(bytes(rgb) for rgb in palette)
    desc = b"\x2C" + struct.pack("<HHHH", 0, 0, width, height) \
        + b"\x00"
    lzw = _lzw_encode(indices, 4)
    blocks = bytearray([4])          # min code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return head + gct + desc + bytes(blocks) + b"\x3B"


def gif_decode(data: bytes) -> tuple[int, int, bytes]:
    """REAL GIF pixel decode, Python stdlib only: parse the logical
    screen + global color table, skip 0x21 extension blocks (GCE,
    comments, application), LZW-decompress the first image's data and
    map through the palette -> (width, height, RGB bytes). Local
    color tables override the global one, and interlaced images are
    de-interlaced through the four GIF89a passes (rows 0,8,16.. then
    4,12.. then 2,6.. then odd) — both former subset boundaries
    removed in round 9."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    gct = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        for i in range(n):
            gct.append(tuple(data[pos + 3 * i:pos + 3 * i + 3]))
        pos += 3 * n
    while True:
        b = data[pos]
        if b == 0x21:                      # extension: skip sub-blocks
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:
            break
        elif b == 0x3B:
            raise ValueError("GIF contains no image data")
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    left, top, w, h = struct.unpack("<HHHH", data[pos + 1:pos + 9])
    ipacked = data[pos + 9]
    pos += 10
    palette = gct
    if ipacked & 0x80:                     # local color table (r9)
        n = 2 << (ipacked & 0x07)
        palette = [tuple(data[pos + 3 * i:pos + 3 * i + 3])
                   for i in range(n)]
        pos += 3 * n
    if not palette:
        raise ValueError("GIF has neither global nor local palette")
    mcs = data[pos]
    pos += 1
    lzw = bytearray()
    while data[pos]:
        ln = data[pos]
        lzw += data[pos + 1:pos + 1 + ln]
        pos += 1 + ln
    indices = _lzw_decode(bytes(lzw), mcs)
    if len(indices) < w * h:
        raise ValueError("GIF pixel data short")
    indices = indices[:w * h]
    if ipacked & 0x40:                     # interlaced (r9): rows
        rows = [indices[r * w:(r + 1) * w]   # arrive in the four
                for r in range(h)]           # GIF89a passes
        order = ([*range(0, h, 8)] + [*range(4, h, 8)]
                 + [*range(2, h, 4)] + [*range(1, h, 2)])
        deint: list = [None] * h
        for src, dst in enumerate(order):
            deint[dst] = rows[src]
        indices = b"".join(deint)
    rgb = bytearray()
    for i in indices:
        rgb += bytes(palette[i])
    return w, h, bytes(rgb)


def deterministic_indices(doc_id: int, width: int, height: int) -> bytes:
    """16-color test image with runs (so LZW actually compresses)
    and doc-dependent structure."""
    px = bytearray()
    for y in range(height):
        for x in range(width):
            px.append(((x // 3) + y + doc_id) % 16)
    return bytes(px)


def synthesize_gif_pixels(documents: DataFrame) -> DataFrame:
    """Fully valid GIF89a per document (real LZW data) via
    Arrow-batched mapInPandas — executor-side encode."""
    def row(doc_id, text):
        w, h = len(text) % 21 + 4, len(text) % 17 + 4
        media = gif_encode(w, h, deterministic_indices(doc_id, w, h))
        return [{"doc_id": doc_id, "media": media,
                 "media_type": "image/gif", "width": w, "height": h,
                 "n_bytes": len(media)}]

    return map_documents(documents, row, MEDIA_SCHEMA)


def decode_gif_pixels(media: DataFrame,
                      media_col: str = "media") -> DataFrame:
    """Pixel statistics over a GIF binary column — REAL decode (pure
    Python LZW + palette), Arrow-batched mapInPandas."""
    def row(doc_id, blob):
        w, h, px = gif_decode(blob)
        n = w * h
        return [{"doc_id": doc_id, "width": w, "height": h,
                 "n_pixels": n,
                 "mean_r": round(sum(px[0::3]) / n, 6),
                 "mean_g": round(sum(px[1::3]) / n, 6),
                 "mean_b": round(sum(px[2::3]) / n, 6),
                 "px_md5": hashlib.md5(px).hexdigest()}]

    return map_rows(media, ["doc_id", media_col], row, PIXEL_SCHEMA_GIF)


ROUNDTRIP_SCHEMA = ("doc_id bigint, fmt string, dim1 bigint, "
                    "dim2 bigint, payload_ok boolean")


def roundtrip_check(documents: DataFrame) -> DataFrame:
    """Oracle-backed face for the real in-container codecs (the scd2
    closed-loop precedent applied to binary decode): per document,
    encode-then-decode each format and emit RELATIONAL facts an
    independent SQL engine can state from the source table alone —
    the dimensions every codec must reproduce (derived from the text
    length by the synthesizers) plus a payload_ok boolean that is
    TRUE iff the decoded payload is byte-identical to the
    deterministic source payload:

      gif: (width, height) = (len%21+4, len%17+4); payload = RGB of
           GIF_PALETTE16[deterministic_indices] through real LZW;
      png: (width, height) = (len%16+1, len%12+1); payload = RGBA of
           deterministic_pixels through real zlib/IDAT + unfilter;
      wav: (sample_rate, n_samples) = (8000, len%200+50); payload =
           the exact 16-bit PCM sine samples through the RIFF parse.

    A decoder bug of ANY kind (wrong filter, palette, bit order,
    sub-block reassembly, chunk offset) flips payload_ok or a
    dimension and fails the value hash. One Arrow-batched
    mapInPandas, zero shuffle — the plumbing contract of every
    multimodal op here."""

    def row(doc_id, text):
        ln = len(text)
        # --- GIF ---
        w, h = ln % 21 + 4, ln % 17 + 4
        idx = deterministic_indices(doc_id, w, h)
        dw, dh, rgb = gif_decode(gif_encode(w, h, idx))
        exp = b"".join(bytes(GIF_PALETTE16[i]) for i in idx)
        # --- PNG ---
        w, h = ln % 16 + 1, ln % 12 + 1
        rgba = deterministic_pixels(doc_id, w, h)
        pw, ph, px = png_decode(png_encode(w, h, rgba))
        # --- WAV: the PRODUCTION container path end-to-end —
        # sine_pcm_values (synthesize_wav_pcm's payload) → wav_build
        # (its RIFF header math) → wav_parse (decode_wav_samples' chunk
        # walk) — compared against an INDEPENDENTLY recomputed scalar
        # sine replay, so a chunk offset / byte-order / width /
        # tone-formula bug in any of those production functions flips
        # the flag.
        rate, n = 8000, ln % 200 + 50
        expect = [int(12000 * math.sin(
            2 * math.pi * (200 + (doc_id % 40) * 20) * i / rate))
            for i in range(n)]
        pcm = b"".join(struct.pack("<h", v)
                       for v in sine_pcm_values(doc_id, n, rate))
        drate, got = wav_parse(wav_build(rate, pcm))
        return [
            {"doc_id": doc_id, "fmt": "gif", "dim1": dw, "dim2": dh,
             "payload_ok": rgb == exp},
            {"doc_id": doc_id, "fmt": "png", "dim1": pw, "dim2": ph,
             "payload_ok": px == rgba},
            {"doc_id": doc_id, "fmt": "wav", "dim1": drate,
             "dim2": len(got), "payload_ok": got.tolist() == expect}]

    return map_documents(documents, row, ROUNDTRIP_SCHEMA)


def transform_check(documents: DataFrame, out_w: int = 8,
                    out_h: int = 6,
                    target_rate: int = 6000) -> DataFrame:
    """Closed-loop face for the two multimodal TRANSFORM stages (the
    sibling of roundtrip_check, which covers the codecs): per
    document,

      png_resize: encode deterministic_pixels -> decode -> nearest-
        neighbor resize (resize_png_nearest's exact index math) ->
        re-encode -> decode again; payload_ok compares every resized
        pixel against the INDEPENDENT closed form
        formula(doc_id, x*sw//out_w, y*sh//out_h) — a bug anywhere in
        decode, index mapping, or re-encode flips it. dim1/dim2 are
        the SOURCE dims the oracle recomputes from length(text).

      wav_resample: pack the deterministic sine PCM -> parse -> linear
        interpolation (resample_pcm_linear's per-sample formula) ->
        compare against scalar-Python interpolation of independently
        recomputed source samples; dim1 = output length
        (n-1)*target//src + 1, dim2 = n — both relational.

    One Arrow-batched mapInPandas, zero shuffle."""

    def row(doc_id, text):
        ln = len(text)
        # --- PNG nearest-neighbor resize: the PRODUCTION pipeline —
        # png_encode → png_decode → resize_nearest_kernel
        # (resize_png_nearest's exact index mapping) → re-encode →
        # decode; expected pixels come from the independent closed
        # form below.
        sw, sh = ln % 16 + 1, ln % 12 + 1
        rgba = deterministic_pixels(doc_id, sw, sh)
        dw, dh, px = png_decode(png_encode(sw, sh, rgba))
        rw, rh, rpx = png_decode(png_encode(
            out_w, out_h, resize_nearest_kernel(px, dw, dh, out_w, out_h)))
        exp = bytearray()
        for y in range(out_h):
            for x in range(out_w):
                gx, gy = (x * sw) // out_w, (y * sh) // out_h
                exp += bytes(((gx * 7 + doc_id) % 256,
                              (gy * 13 + doc_id) % 256,
                              (gx * gy + 3 * doc_id) % 256, 255))
        # --- WAV linear resample: the PRODUCTION path —
        # sine_pcm_values → wav_build → wav_parse →
        # resample_linear_kernel (resample_pcm_linear's interpolation);
        # expected values are the independent scalar replay below.
        src_rate, n = 8000, ln % 200 + 50
        vals = [int(12000 * math.sin(
            2 * math.pi * (200 + (doc_id % 40) * 20) * i / src_rate))
            for i in range(n)]
        pcm = b"".join(struct.pack("<h", v)
                       for v in sine_pcm_values(doc_id, n, src_rate))
        prate, xi = wav_parse(wav_build(src_rate, pcm))
        y = resample_linear_kernel(xi.astype(np.float64), prate,
                                   target_rate)
        n_out = (n - 1) * target_rate // src_rate + 1
        ok = len(y) == n_out
        for i in range(n_out):  # independent scalar replay
            t = i * (src_rate / target_rate)
            j = min(int(t), n - 2)
            f = t - j
            if y[i] != vals[j] + f * (vals[j + 1] - vals[j]):
                ok = False
                break
        return [
            {"doc_id": doc_id, "fmt": "png_resize", "dim1": sw,
             "dim2": sh, "payload_ok": (rw, rh) == (out_w, out_h)
             and rpx == bytes(exp)},
            {"doc_id": doc_id, "fmt": "wav_resample", "dim1": n_out,
             "dim2": n, "payload_ok": ok}]

    return map_documents(documents, row, ROUNDTRIP_SCHEMA)


PIXEL_CHECK_SCHEMA = ("doc_id bigint, width int, height int, "
                      "n_pixels bigint, decode_ok boolean")


def _expected_md5(documents: DataFrame, per_doc) -> DataFrame:
    """Independent expectation stage shared by the two pixel-decode
    check faces: per document, an md5 over pixel bytes replayed from
    the closed-form formulas WITHOUT touching any codec or the
    production pixel synthesizers — so a bug anywhere in the
    production pipeline (including the synthesizer formulas) shows up
    as a mismatch rather than cancelling out. `per_doc(doc_id, ln)`
    returns the expected raw pixel bytes."""
    def row(doc_id, text):
        px = per_doc(doc_id, len(text))
        return [{"doc_id": doc_id, "e_md5": hashlib.md5(px).hexdigest()}]

    return map_documents(documents, row, "doc_id bigint, e_md5 string")


def pixel_decode_check(documents: DataFrame) -> DataFrame:
    """Hash-enforced closed loop over the PRODUCTION PNG pixel
    pipeline: synthesize_png_pixels → decode_png_pixels (the exact
    operator pair multimodal_pixel_decode runs), with the decoded
    px_md5 compared against an INDEPENDENT md5 of the closed-form
    RGBA field — decode_ok also folds in alpha_opaque. Any regression
    in the encoder, the zlib/filter decode, or the stats wrapper
    flips a column the relational oracle pins (dims from
    length(text), decode_ok = TRUE)."""
    dec = decode_png_pixels(synthesize_png_pixels(documents))

    def per_doc(doc_id: int, ln: int) -> bytes:
        w, h = ln % 16 + 1, ln % 12 + 1
        px = bytearray()
        for y in range(h):
            for x in range(w):
                px += bytes(((x * 7 + doc_id) % 256,
                             (y * 13 + doc_id) % 256,
                             (x * y + 3 * doc_id) % 256, 255))
        return bytes(px)

    exp = _expected_md5(documents, per_doc)
    return (dec.join(exp, "doc_id")
            .select("doc_id", "width", "height", "n_pixels",
                    ((F.col("px_md5") == F.col("e_md5"))
                     & F.col("alpha_opaque")).alias("decode_ok")))


def gif_decode_check(documents: DataFrame) -> DataFrame:
    """Hash-enforced closed loop over the PRODUCTION GIF pipeline:
    synthesize_gif_pixels → decode_gif_pixels (the operator pair
    multimodal_gif_decode runs), decoded px_md5 vs an independent md5
    of palette[closed-form index] RGB bytes — covers LZW encode,
    sub-block framing, LZW decode, and palette application. Dims and
    decode_ok = TRUE are stated relationally by the oracle."""
    dec = decode_gif_pixels(synthesize_gif_pixels(documents))

    def per_doc(doc_id: int, ln: int) -> bytes:
        w, h = ln % 21 + 4, ln % 17 + 4
        rgb = bytearray()
        for y in range(h):
            for x in range(w):
                i = ((x // 3) + y + doc_id) % 16
                rgb += bytes(((i * 37) % 256, (i * 83) % 256,
                              (i * 151) % 256))
        return bytes(rgb)

    exp = _expected_md5(documents, per_doc)
    return (dec.join(exp, "doc_id")
            .select("doc_id", "width", "height", "n_pixels",
                    (F.col("px_md5") == F.col("e_md5"))
                    .alias("decode_ok")))


# ---------------------------------------------------------------------------
# JPEG (baseline grayscale, pipeline/jpeg.py) — round 13 upgrades the
# "JPEG DCT stays gated" boundary to a real pure-numpy codec
# ---------------------------------------------------------------------------

def _jpeg_field(doc_id: int, ln: int) -> tuple[int, int, int, bytes]:
    """Closed-form test image → (width, height, ncomp, pixel bytes):
    doc_id %% 3 picks GRAYSCALE (0) or an RGB ramp (1 and 2 — the
    synthesizer encodes 1 as 4:4:4 and 2 as 4:2:0), all with a
    per-document offset and deliberately wrap-free (base<=63, the
    per-channel slopes stay <256 at the 16x12 max) so the field is
    DC + low-frequency AC energy and the baseline-JPEG roundtrip
    error is small and deterministic — the property the check face's
    tolerance pins."""
    return _jpeg_field_from_dims(doc_id, ln % 16 + 1, ln % 12 + 1)


def synthesize_jpeg(documents: DataFrame,
                    quality: int = 90) -> DataFrame:
    """Per-document baseline-JPEG binary column — doc_id %% 3 picks
    grayscale (0), YCbCr 4:4:4 (1), or 4:2:0 chroma-subsampled (2);
    every fifth document (doc_id %% 5 == 0) encodes PROGRESSIVE
    (SOF2, the r14 successive-approximation script), and every
    second document declares a DRI restart interval of 2 restart
    units — so each of the three modes ships plain,
    restart-segmented, progressive AND progressive+restart streams
    (odd multiples of 5 combine both, the layout real cameras
    emit) — encoded
    executor-side with pipeline/jpeg (the same Arrow-batched
    mapInPandas shape as the PNG/GIF synthesizers)."""
    from .jpeg import jpeg_encode, jpeg_encode_color

    def row(d, text):
        w, h, ncomp, px = _jpeg_field(d, len(text))
        # mode-2 docs are 4:2:0; mode-1 docs are 4:4:4 except every
        # 7th, which exercises 4:2:2 (r14)
        sub = ("4:2:0" if d % 3 == 2
               else "4:2:2" if (d % 3 == 1 and d % 7 == 0)
               else "4:4:4")
        prog = d % 5 == 0
        ri = 2 if d % 2 else 0
        media = (jpeg_encode(w, h, px, quality, restart_interval=ri,
                             progressive=prog)
                 if ncomp == 1
                 else jpeg_encode_color(w, h, px, quality,
                                        subsampling=sub,
                                        restart_interval=ri,
                                        progressive=prog))
        return [{"doc_id": d, "media": media, "width": w, "height": h,
                 "ncomp": ncomp}]

    return map_documents(documents, row,
                         "doc_id bigint, media binary, width int, "
                         "height int, ncomp int")


def jpeg_roundtrip_check(documents: DataFrame, quality: int = 90,
                         tol_gray: int = 4,
                         tol_color: int = 6) -> DataFrame:
    """Hash-enforced closed loop over the JPEG codec: encode the
    closed-form fields (synthesize_jpeg — doc_id % 3 picks the mode:
    0 grayscale, 1 YCbCr 4:4:4, 2 YCbCr 4:2:0; doc_id % 5 == 0
    streams are PROGRESSIVE SOF2, odd doc_ids are restart-segmented
    with DRI=2 — odd multiples of 5 both), DECODE each stream with
    pipeline/jpeg.jpeg_decode_any (tables read from the stream's own
    DQT/DHT, per-component ids honored), and compare against the
    field recomputed INDEPENDENTLY — decode_ok requires the SOF0
    dimensions AND component count to match, plus
    max |decoded - expected| within the per-mode tolerance (JPEG is
    lossy; on the wrap-free ramps the q90 error is <=1 gray / <=2
    color and deterministic, so the boolean is hash-stable). Any
    regression in the DCT, quantization, zigzag, Huffman coding,
    byte stuffing, color conversion, MCU interleave, or marker
    layout flips decode_ok."""
    from .jpeg import jpeg_decode_any

    def row(doc_id, media, w, h, nc):
        dw, dh, dnc, px = jpeg_decode_any(media)
        ok = (dw, dh, dnc) == (w, h, nc)
        if ok:
            # expectation replayed from the closed form, independent
            # of every codec path
            exp = np.frombuffer(_jpeg_field_from_dims(doc_id, dw, dh)[3],
                                dtype=np.uint8).astype(np.int64)
            got = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
            tol = tol_gray if dnc == 1 else tol_color
            ok = (got.shape == exp.shape
                  and bool(np.max(np.abs(got - exp)) <= tol))
        return [{"doc_id": doc_id, "width": w, "height": h,
                 "n_pixels": w * h, "decode_ok": bool(ok)}]

    return map_rows(synthesize_jpeg(documents, quality),
                    ["doc_id", "media", "width", "height", "ncomp"], row,
                    "doc_id bigint, width int, height int, "
                    "n_pixels bigint, decode_ok boolean")


def _jpeg_field_from_dims(doc_id: int, w: int,
                          h: int) -> tuple[int, int, int, bytes]:
    """_jpeg_field with the dims given directly (the check stage
    knows them from the decoded SOF0, not from text length)."""
    base = doc_id % 64
    if doc_id % 3 == 0:
        px = bytes(((base + 2 * x + 3 * y) & 0xFF)
                   for y in range(h) for x in range(w))
        return w, h, 1, px
    px = bytes(v for y in range(h) for x in range(w)
               for v in ((20 + base + 2 * x + y) & 0xFF,
                         (40 + base + x + 2 * y) & 0xFF,
                         (60 + base + x + y) & 0xFF))
    return w, h, 3, px


def _flac_field(doc_id: int, text_len: int):
    """Closed-form per-document PCM for the FLAC face: sample count
    and rate derive from (doc_id, length(text)) so the oracle can
    restate them from SQL; content cycles three classes that force
    distinct subframe choices — a smooth ramp (FIXED predictors), a
    flat clip (CONSTANT), and a quadratic wrap that is effectively
    incompressible (VERBATIM / high rice params)."""
    n = text_len % 400 + 50
    channels = doc_id % 2 + 1
    sample_rate = 8000 + (doc_id % 3) * 4000
    base = doc_id % 97
    i = np.arange(n * channels, dtype=np.int64)
    if doc_id % 3 == 0:
        vals = (base * 7 + i * 13) % 4001 - 2000
    elif doc_id % 3 == 1:
        vals = np.full(n * channels, base * 11 - 500, dtype=np.int64)
    else:
        vals = (i * i * 31 + base * 257) % 65536 - 32768
    return n, channels, sample_rate, vals.astype("<i2").tobytes()


def synthesize_flac(documents: DataFrame) -> DataFrame:
    """Per-document FLAC binary column over closed-form PCM
    (_flac_field) at block size 192 so every document spans multiple
    frames — the same Arrow-batched mapInPandas shape as the
    PNG/GIF/JPEG synthesizers (pipeline/flac.py flac_encode)."""
    from .flac import flac_encode

    def row(doc_id, text):
        n, ch, sr, pcm = _flac_field(doc_id, len(text))
        return [{"doc_id": doc_id,
                 "media": flac_encode(pcm, sr, channels=ch, block_size=192),
                 "n_samples": n, "channels": ch, "sample_rate": sr}]

    return map_documents(documents, row,
                         "doc_id bigint, media binary, n_samples int, "
                         "channels int, sample_rate int")


def flac_roundtrip_check(documents: DataFrame) -> DataFrame:
    """Hash-enforced closed loop over the FLAC codec: encode the
    closed-form clips (synthesize_flac), DECODE each stream
    (pipeline/flac.py flac_decode — STREAMINFO parse, frame sync,
    subframe reconstruction, every CRC-8/CRC-16 and the stream MD5
    verified), and require EXACT byte equality against the PCM
    recomputed independently — FLAC is lossless, so unlike the
    JPEG/MJPEG faces the comparison is bitwise, not a tolerance
    bound. Any regression in rice coding, predictor selection or
    reconstruction, frame layout, CRCs, or channel interleave flips
    decode_ok or raises. Scale: map-only Arrow-batched Python, zero
    shuffle — the binary column stays columnar in parquet and the
    codec runs executor-side, the same 100 TB shape as every codec
    face."""
    from .flac import flac_decode

    def row(doc_id, media, n, ch, sr):
        dsr, dch, dbps, pcm = flac_decode(media)
        ok = ((dsr, dch, dbps) == (sr, ch, 16)
              and pcm == _flac_field_pcm(doc_id, n, ch))
        return [{"doc_id": doc_id, "n_samples": n, "channels": ch,
                 "sample_rate": sr, "n_frames": (n + 191) // 192,
                 "decode_ok": bool(ok)}]

    return map_rows(synthesize_flac(documents),
                    ["doc_id", "media", "n_samples", "channels",
                     "sample_rate"], row,
                    "doc_id bigint, n_samples int, channels int, "
                    "sample_rate int, n_frames int, decode_ok boolean")


def _flac_field_pcm(doc_id: int, n: int, channels: int) -> bytes:
    """_flac_field's PCM with the sample count given directly (the
    check stage knows it from the synth row, independent of the
    decode path under test)."""
    base = doc_id % 97
    i = np.arange(n * channels, dtype=np.int64)
    if doc_id % 3 == 0:
        vals = (base * 7 + i * 13) % 4001 - 2000
    elif doc_id % 3 == 1:
        vals = np.full(n * channels, base * 11 - 500, dtype=np.int64)
    else:
        vals = (i * i * 31 + base * 257) % 65536 - 32768
    return vals.astype("<i2").tobytes()


# ---------------------------------------------------------------------------
# Band-limited (windowed-sinc) resampling — round 13 upgrades the
# "sinc resampling stays gated" boundary to a real numpy kernel
# ---------------------------------------------------------------------------

def resample_sinc_kernel(x, src_rate: int, target_rate: int,
                         taps: int = 32):
    """Band-limited resample of a float64 sample vector: a
    Hann-windowed sinc interpolator with `taps` source samples of
    support per output sample, the textbook Whittaker-Shannon
    reconstruction made finite by the window. For downsampling the
    sinc cutoff scales to the TARGET Nyquist (fc = target/src), so
    the same kernel is the anti-aliasing filter. Per-output-sample
    kernel normalization makes DC exact (a constant input resamples
    to the identical constant) and flattens the passband ripple the
    raw truncated sinc would have near the edges. Pure numpy — no
    scipy — so it runs inside the Arrow-batched executors like every
    other production kernel here; a scalar pure-Python reference
    replays it exactly in tests."""
    n = len(x)
    if n < 2:
        return x
    n_out = (n - 1) * target_rate // src_rate + 1
    t = np.arange(n_out) * (src_rate / target_rate)
    fc = min(1.0, target_rate / src_rate)
    half = taps // 2
    k0 = np.floor(t).astype(np.int64)
    offs = np.arange(-half + 1, half + 1)
    idx = k0[:, None] + offs[None, :]
    valid = (idx >= 0) & (idx < n)
    d = t[:, None] - idx                   # distance in source samples
    win = np.where(np.abs(d) <= half,
                   0.5 + 0.5 * np.cos(np.pi * d / half), 0.0)
    ker = fc * np.sinc(fc * d) * win * valid
    norm = ker.sum(axis=1)
    y = (ker * x[np.clip(idx, 0, n - 1)]).sum(axis=1)
    return y / np.where(norm == 0.0, 1.0, norm)


def resample_pcm_sinc(media: DataFrame, target_rate: int,
                      media_col: str = "media",
                      taps: int = 32) -> DataFrame:
    """REAL band-limited audio resample over a WAV binary column —
    the sibling of resample_pcm_linear with the windowed-sinc kernel
    (the former env-gated boundary; scipy-class polyphase FFT
    resamplers remain out of scope, this is the direct-form
    evaluation). Arrow-batched mapInPandas, map-only, zero
    shuffle."""
    def row(doc_id, blob):
        src_rate, x = wav_parse(blob)
        y = resample_sinc_kernel(x.astype(np.float64), src_rate,
                                 target_rate, taps)
        return [_resample_stats(doc_id, target_rate, y)]

    return map_rows(media, ["doc_id", media_col], row, RESAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# MJPEG-in-AVI video (pipeline/mjpeg_avi.py) — round 13 closes the
# "video frame decode" gate for Motion-JPEG
# ---------------------------------------------------------------------------

def synthesize_mjpeg(documents: DataFrame,
                     quality: int = 90) -> DataFrame:
    """Per-document MJPEG AVI clip (len%5+2 frames of the panning
    ramp field at the same len-derived dims the JPEG face uses),
    built executor-side — container AND per-frame codec are the
    in-repo implementations."""
    from .mjpeg_avi import mjpeg_synthesize

    def row(doc_id, text):
        ln = len(text)
        w, h, n = ln % 16 + 1, ln % 12 + 1, ln % 5 + 2
        return [{"doc_id": doc_id,
                 "media": mjpeg_synthesize(w, h, n, doc_id, quality),
                 "width": w, "height": h, "n_frames": n}]

    return map_documents(documents, row,
                         "doc_id bigint, media binary, width int, "
                         "height int, n_frames int")


def mjpeg_frame_check(documents: DataFrame, every: int = 2,
                      quality: int = 90, tol: int = 6) -> DataFrame:
    """Hash-enforced closed loop over the MJPEG video pipeline:
    synthesize a clip per document, walk the AVI container, decode
    every `every`-th frame (skipped frames cost only the container
    walk — the frame-sampling access pattern the module docstring
    describes), and verify each sampled frame against the panning
    ramp replayed independently. decode_ok requires container dims,
    frame count, sampled-frame indices, per-frame dims, and the
    per-frame error bound to ALL hold."""
    from .mjpeg_avi import avi_parse, mjpeg_sample_frames

    def row(doc_id, blob, w, h, n):
        pw, ph, _fps, raw = avi_parse(blob)
        sampled = mjpeg_sample_frames(blob, every=every)
        ok = ((pw, ph, len(raw)) == (w, h, n)
              and [s[0] for s in sampled] == list(range(0, n, every)))
        if ok:
            base = doc_id % 64
            for ix, fw, fh, px in sampled:
                exp = np.array(
                    [v for y in range(fh) for x in range(fw)
                     for v in ((20 + base + 2 * ix + 2 * x + y) & 0xFF,
                               (40 + base + 2 * ix + x + 2 * y) & 0xFF,
                               (60 + base + 2 * ix + x + y) & 0xFF)],
                    dtype=np.int64)
                got = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                if (fw, fh) != (w, h) or got.shape != exp.shape \
                        or np.max(np.abs(got - exp)) > tol:
                    ok = False
                    break
        return [{"doc_id": doc_id, "n_frames": n,
                 "n_sampled": (n + every - 1) // every, "width": w,
                 "height": h, "decode_ok": bool(ok)}]

    return map_rows(synthesize_mjpeg(documents, quality),
                    ["doc_id", "media", "width", "height", "n_frames"],
                    row, "doc_id bigint, n_frames int, n_sampled int, "
                         "width int, height int, decode_ok boolean")
