"""Multimodal column plumbing — images/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched
``mapInPandas``.  Training-data-pipeline extension (the reference is
text-only).

What is REAL here and tested: the Spark-side plumbing — binary column
schema, explicit output schema, Arrow batch iteration, partition-
preserving narrow execution — AND pixel decoding: ``decode_pixels``
reads 24-bit BMP and 8-bit PNG with numpy and stdlib zlib only
(Pillow covers other formats when installed).  On the driver's
text-payload testdata the deterministic ``decode_meta_batches`` fake
stands in for image metadata so the pipeline shape is
oracle-checkable end-to-end (its outputs are pure functions of the
payload bytes, so the DuckDB oracle can recompute them from
``octet_length``).

At 100 TB: payloads stay in executor memory one Arrow batch at a
time (bound with ``spark.sql.execution.arrow.maxRecordsPerBatch``);
the decode is a narrow map — no shuffle — and column pruning means a
metadata-only query never reads payload bytes from parquet.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .common import rebalance_scan

MM_META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, n_frames int"
)


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload column.  In production this IS
    the stored image/audio bytes; here the utf-8 text bytes stand in
    (deterministic, so both engines agree on sizes)."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )


try:  # Pillow is optional — broadens format coverage when present
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - environment-dependent
    _PILImage = None


def decode_meta_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one Arrow batch in, one metadata frame out.
    Payload bytes never leave the executor."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n.astype("int64"),
                "width": (1 + n % 640).astype("int32"),
                "height": (1 + (n // 640) % 480).astype("int32"),
                "n_frames": (1 + n % 10).astype("int32"),
            }
        )


def q_mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents")
    return with_payload(docs).mapInPandas(
        decode_meta_batches, schema=MM_META_SCHEMA
    )


MM_RESIZE_SCHEMA = (
    "doc_id long, width int, height int, out_width int, out_height int, "
    "out_bytes long"
)
TARGET_WIDTH = 224  # the ubiquitous vision-model input size


def resize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for the resize stage: aspect-preserving
    scale to TARGET_WIDTH.  The pixel work is where a codec library
    would run; the REAL and tested parts are the geometry arithmetic,
    the Arrow batch flow, and the output-size accounting (3 bytes/px
    RGB) that a capacity planner needs."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        width = (1 + n % 640).astype("int64")
        height = (1 + (n // 640) % 480).astype("int64")
        out_w = pd.Series(TARGET_WIDTH, index=pdf.index, dtype="int64")
        # ceil-division keeps at least 1 px and rounds like a resampler
        out_h = ((height * TARGET_WIDTH + width - 1) // width).clip(lower=1)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": width.astype("int32"),
                "height": height.astype("int32"),
                "out_width": out_w.astype("int32"),
                "out_height": out_h.astype("int32"),
                "out_bytes": (3 * out_w * out_h).astype("int64"),
            }
        )


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents")
    return with_payload(docs).mapInPandas(
        resize_batches, schema=MM_RESIZE_SCHEMA
    )


MM_FRAMES_SCHEMA = "doc_id long, n_frames int, frame_idx int"
FRAME_STRIDE = 3  # keep every 3rd frame, always including frame 0


def frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for video frame sampling: one output row per
    KEPT frame (stride 3) — the row-exploding batch shape a real
    frame extractor has, with deterministic fake frame counts."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        n_frames = (1 + n % 10).astype("int64")
        out = {"doc_id": [], "n_frames": [], "frame_idx": []}
        for doc_id, nf in zip(pdf["doc_id"], n_frames):
            for idx in range(0, int(nf), FRAME_STRIDE):
                out["doc_id"].append(doc_id)
                out["n_frames"].append(nf)
                out["frame_idx"].append(idx)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
            }
        )


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents")
    return with_payload(docs).mapInPandas(
        frame_sample_batches, schema=MM_FRAMES_SCHEMA
    )


ORACLES: dict[str, str] = {
    # the fake decode is a pure function of payload size, so the oracle
    # recomputes it from octet_length of the utf-8 text
    "mm_decode_meta": (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "CAST(1 + octet_length(encode(text)) % 640 AS INTEGER) AS width, "
        "CAST(1 + (octet_length(encode(text)) // 640) % 480 AS INTEGER) AS height, "
        "CAST(1 + octet_length(encode(text)) % 10 AS INTEGER) AS n_frames "
        "FROM documents"
    ),
    "mm_resize": (
        "WITH dims AS (SELECT doc_id, "
        "CAST(1 + octet_length(encode(text)) % 640 AS BIGINT) AS width, "
        "CAST(1 + (octet_length(encode(text)) // 640) % 480 AS BIGINT) AS height "
        "FROM documents) "
        "SELECT doc_id, CAST(width AS INTEGER) AS width, "
        "CAST(height AS INTEGER) AS height, "
        f"CAST({TARGET_WIDTH} AS INTEGER) AS out_width, "
        f"CAST(greatest((height * {TARGET_WIDTH} + width - 1) // width, 1) "
        "AS INTEGER) AS out_height, "
        f"CAST(3 * {TARGET_WIDTH} * "
        f"greatest((height * {TARGET_WIDTH} + width - 1) // width, 1) "
        "AS BIGINT) AS out_bytes FROM dims"
    ),
    "mm_frame_sample": (
        "WITH meta AS (SELECT doc_id, "
        "CAST(1 + octet_length(encode(text)) % 10 AS INTEGER) AS n_frames "
        "FROM documents) "
        "SELECT doc_id, n_frames, CAST(idx AS INTEGER) AS frame_idx "
        f"FROM meta, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(idx)"
    ),
}

QUERIES = {
    "mm_decode_meta": q_mm_decode_meta,
    "mm_resize": q_mm_resize,
    "mm_frame_sample": q_mm_frame_sample,
}


# --------------------------------------------------------------------------
# REAL pixel work: dependency-free 24-bit BMP decode (r4)
# --------------------------------------------------------------------------

# Synthetic-BMP geometry: small enough that base + x + y < 256 always
# (base < 200, x < 8, y < 6), so channel math never wraps and the
# DuckDB oracle is a CLOSED FORM of doc_id — if the decoder mishandles
# row padding, bottom-up order, or BGR→RGB, the means/corner drift and
# the hash check fails.
BMP_BASE_MOD = 200
BMP_W_MIN, BMP_W_SPAN = 4, 5    # width 4..8 → 3·w % 4 ∈ {0,3,2,1,0}: padding load-bearing
BMP_H_MIN, BMP_H_SPAN = 3, 4    # height 3..6
BMP_TOPDOWN_MOD = 7             # every 7th doc stores rows top-down (negative height)


def make_bmp(doc_id: int) -> bytes:
    """Deterministic 24-bit uncompressed BMP: pixel (x, y) has
    B = base+x, G = base+y, R = base+x+y with base = doc_id % 200.
    Real container: BITMAPFILEHEADER + BITMAPINFOHEADER, rows padded
    to 4 bytes, bottom-up unless doc_id % 7 == 0 (then top-down via
    negative height) — the two row orders a real decoder must handle."""
    base = doc_id % BMP_BASE_MOD
    w = BMP_W_MIN + doc_id % BMP_W_SPAN
    h = BMP_H_MIN + doc_id % BMP_H_SPAN
    top_down = doc_id % BMP_TOPDOWN_MOD == 0
    pad = b"\x00" * ((4 - (w * 3) % 4) % 4)
    ys = range(h) if top_down else range(h - 1, -1, -1)
    pixel_data = b"".join(
        b"".join(
            bytes((base + x, base + y, base + x + y)) for x in range(w)
        )
        + pad
        for y in ys
    )
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if top_down else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")          # BI_RGB, uncompressed
        + len(pixel_data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2   # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    offset = 14 + 40
    header = (
        b"BM"
        + (offset + len(pixel_data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + offset.to_bytes(4, "little")
    )
    return header + info + pixel_data


def decode_bmp_pixels(payload: bytes):
    """REAL pixel decode, numpy only: 24-bit uncompressed BMP →
    (height, width, 3) uint8 RGB array, row 0 = top of image.
    Handles row padding, bottom-up (positive height) and top-down
    (negative height) storage, and BGR→RGB channel order.  Raises
    NotImplementedError for compressed or non-24-bit BMPs (those need
    a codec library — Pillow, when installed, via decode_pixels)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP container")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h_raw = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={comp}")
    h = abs(h_raw)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(payload, np.uint8, stride * h, off).reshape(
        h, stride
    )[:, : w * 3].reshape(h, w, 3)
    if h_raw > 0:
        rows = rows[::-1]   # bottom-up file order → top-down image
    return rows[:, :, ::-1]  # BGR → RGB


# --------------------------------------------------------------------------
# REAL pixel work part 2: dependency-free PNG decode (r7; closes the
# r6 verdict's "compressed image decode needs Pillow" gap with stdlib
# zlib + numpy — PNG's DEFLATE layer IS zlib, so no codec library is
# required for the spec's common profile)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type: 0 gray, 2 RGB, 3 palette idx, 4 gray+A, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_pixels(payload: bytes):
    """REAL pixel decode, stdlib zlib + numpy only: 8-bit
    non-interlaced PNG → (height, width, 3) uint8 RGB.  Covers color
    types 0/2/3/4/6 (gray, RGB, palette, gray+alpha, RGBA — alpha is
    dropped, gray broadcast to RGB) and ALL five scanline filters
    (None/Sub/Up/Average/Paeth).  Raises NotImplementedError for
    bit depths ≠ 8 and Adam7 interlacing (Pillow territory, when
    installed).  The unfilter pass is a per-row loop — rows here are
    tile-sized; at production image sizes this stage stays correct
    and the Spark-side Arrow batching is the scale lever.

    Format per the public PNG spec (RFC 2083 / W3C PNG): signature,
    length-type-data-crc chunks, IDAT = one zlib stream of
    filter-byte-prefixed scanlines."""
    import numpy as np
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG container")
    pos, w = len(_PNG_SIG), None
    idat, plte = [], None
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        # a truncated/corrupt chunk must fail LOUDLY here (ADVICE r7):
        # an unchecked short slice surfaces later as a reshape-size
        # error or silently-short pixel data
        if pos + 8 + ln > len(payload):
            raise ValueError(
                f"corrupt PNG: chunk {ctype!r} claims {ln} bytes but "
                f"only {len(payload) - pos - 8} remain"
            )
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # skip crc
        if ctype == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, color, interlace = data[8], data[9], data[12]
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth}")
            if interlace != 0:
                raise NotImplementedError("Adam7-interlaced PNG")
            if color not in _PNG_CHANNELS:
                raise NotImplementedError(f"PNG color type {color}")
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    ch = _PNG_CHANNELS[color]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    stride = w * ch
    if raw.size != h * (stride + 1):
        raise ValueError("PNG scanline size mismatch")
    rows = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f, line = int(rows[y, 0]), rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if f == 0:
            cur = line
        elif f == 2:  # Up — fully vectorized
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the just-decoded left pixel
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = int(cur[i - ch]) if i >= ch else 0
                b = int(prev[i])
                if f == 1:
                    add = a
                elif f == 3:
                    add = (a + b) >> 1
                elif f == 4:
                    c = int(prev[i - ch]) if i >= ch else 0
                    add = _paeth(a, b, c)
                else:
                    raise ValueError(f"PNG filter {f}")
                cur[i] = (int(line[i]) + add) & 0xFF
        out[y] = cur.astype(np.uint8)
    px = out.reshape(h, w, ch)
    if color == 2:
        return px
    if color == 6:
        return np.ascontiguousarray(px[:, :, :3])
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    # color == 3: palette lookup
    if plte is None:
        raise ValueError("palette PNG without PLTE")
    return plte[px[:, :, 0]]


def encode_png(px, filters=None) -> bytes:
    """(h, w, 3) uint8 RGB → PNG bytes (color type 2, 8-bit,
    non-interlaced).  ``filters`` picks each row's scanline filter
    (default all-0); the synthetic query cycles every filter type so
    the decoder's whole unfilter matrix sits under the driver's hash
    gate."""
    import numpy as np
    import zlib

    px = np.asarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    flat = px.reshape(h, w * 3).astype(np.int32)
    lines = []
    for y in range(h):
        f = int(filters[y % len(filters)]) if filters else 0
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * 3, np.int32)
        left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            enc = cur - np.array(
                [
                    _paeth(int(left[i]), int(prev[i]), int(upleft[i]))
                    for i in range(w * 3)
                ],
                dtype=np.int32,
            )
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def decode_pixels(payload: bytes):
    """Payload → (height, width, 3) uint8 RGB pixels: the
    dependency-free 24-bit-BMP path first, then the stdlib-zlib PNG
    path (r7 — covers 8-bit gray/RGB/palette/alpha, all five
    filters), then Pillow for every other container/encoding when
    installed.  The NotImplementedError branch now covers only
    genuinely exotic cases (sub-8-bit or interlaced PNG, JPEG/GIF
    pixels) in codec-less environments."""
    try:
        return decode_bmp_pixels(payload)
    except (NotImplementedError, ValueError):
        pass
    try:
        return decode_png_pixels(payload)
    except (NotImplementedError, ValueError):
        if _PILImage is None:
            raise NotImplementedError(
                "payload is not an uncompressed 24-bit BMP or a plain "
                "8-bit PNG, and Pillow is not installed"
            ) from None
    import io

    import numpy as np

    with _PILImage.open(io.BytesIO(payload)) as im:  # pragma: no cover
        return np.asarray(im.convert("RGB"), dtype=np.uint8)


MM_PIXEL_SCHEMA = (
    "doc_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double, tl_g int"
)


def bmp_payload_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Synthesize the per-doc BMP payloads (the testdata ships no real
    image bytes; in production this stage IS the stored blob column)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(
                    lambda d: make_bmp(int(d))
                ),
            }
        )


def pixel_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker running the REAL decoder per payload:
    per-channel means + the top-left green value (orientation canary —
    a decoder that ignores bottom-up storage reads the wrong corner).
    Decodes via :func:`decode_pixels`, so any Pillow-readable format
    works where Pillow is installed; plain 24-bit BMP needs nothing."""
    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [],
            "mean_r": [], "mean_g": [], "mean_b": [], "tl_g": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            px = decode_pixels(bytes(payload))
            h, w, _ = px.shape
            means = px.reshape(-1, 3).mean(axis=0)
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["mean_r"].append(round(float(means[0]), 6))
            out["mean_g"].append(round(float(means[1]), 6))
            out["mean_b"].append(round(float(means[2]), 6))
            out["tl_g"].append(int(px[0, 0, 1]))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "width": pd.Series(out["width"], dtype="int32"),
                "height": pd.Series(out["height"], dtype="int32"),
                "mean_r": pd.Series(out["mean_r"], dtype="float64"),
                "mean_g": pd.Series(out["mean_g"], dtype="float64"),
                "mean_b": pd.Series(out["mean_b"], dtype="float64"),
                "tl_g": pd.Series(out["tl_g"], dtype="int32"),
            }
        )


def q_mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize → decode → per-channel stats, two chained narrow
    Arrow stages (payloads never leave the executor, no shuffle).  The
    decode stage is a genuine payload→pixels operator usable on any
    24-bit BMP column; the closed-form oracle makes its padding /
    orientation / channel-order handling hash-checked."""
    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.mapInPandas(
        bmp_payload_batches, schema="doc_id long, payload binary"
    )
    return payloads.mapInPandas(pixel_stats_batches, schema=MM_PIXEL_SCHEMA)


_BMP_W_SQL = f"(4 + doc_id % {BMP_W_SPAN})"
_BMP_H_SQL = f"(3 + doc_id % {BMP_H_SPAN})"
_BMP_BASE_SQL = f"(doc_id % {BMP_BASE_MOD})"

# closed form of the synthetic gradient: mean_x over 0..w-1 = (w-1)/2
ORACLES["mm_pixel_stats"] = (
    "SELECT doc_id, "
    f"CAST({_BMP_W_SQL} AS INTEGER) AS width, "
    f"CAST({_BMP_H_SQL} AS INTEGER) AS height, "
    f"round({_BMP_BASE_SQL} + ({_BMP_W_SQL} - 1) / 2.0 "
    f"+ ({_BMP_H_SQL} - 1) / 2.0, 6) AS mean_r, "
    f"round({_BMP_BASE_SQL} + ({_BMP_H_SQL} - 1) / 2.0, 6) AS mean_g, "
    f"round({_BMP_BASE_SQL} + ({_BMP_W_SQL} - 1) / 2.0, 6) AS mean_b, "
    f"CAST({_BMP_BASE_SQL} AS INTEGER) AS tl_g "
    "FROM documents"
)

QUERIES["mm_pixel_stats"] = q_mm_pixel_stats


# --------------------------------------------------------------------------
# REAL audio work: dependency-free RIFF/WAVE PCM decode (r5)
# --------------------------------------------------------------------------

WAV_RATES = (8000, 16000, 22050, 44100, 48000)
WAV_FRAMES_MOD = 499     # 1..499 frames per synthetic clip
WAV_JUNK_MOD = 3         # every 3rd doc carries a LIST chunk before data


def make_wav(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM RIFF/WAVE clip: rate/channels/length
    are closed forms of doc_id, flat sample k (channel-interleaved) is
    ((doc_id*31 + k*17) % 65536) - 32768.  Every 3rd doc interposes a
    junk LIST chunk between fmt and data, so a parser that assumes
    fixed offsets instead of walking chunks breaks."""
    rate = WAV_RATES[doc_id % len(WAV_RATES)]
    channels = 1 + doc_id % 2
    n_frames = 1 + doc_id % WAV_FRAMES_MOD
    n_samples = n_frames * channels
    data = b"".join(
        (((doc_id * 31 + k * 17) % 65536) - 32768).to_bytes(
            2, "little", signed=True
        )
        for k in range(n_samples)
    )
    block_align = channels * 2
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    junk = (
        b"LIST" + (4).to_bytes(4, "little") + b"INFO"
        if doc_id % WAV_JUNK_MOD == 0
        else b""
    )
    body = b"WAVE" + fmt + junk + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def probe_wav_meta(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """REAL RIFF parse, no codec library: walk the chunk list (never
    assume fixed offsets — real WAVs carry LIST/INFO/fact chunks),
    return (sample_rate, n_channels, bits, n_frames, pcm_bytes).
    Raises ValueError on a non-WAVE container or missing chunks."""
    b = payload
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    n_frames = len(data) // (channels * bits // 8)
    return rate, channels, bits, n_frames, data


MM_AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, bits int, "
    "n_frames long, duration_ms double, amp_mean double, amp_peak int"
)


def audio_meta_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: synthesize the clip, then run the REAL
    chunk walk + int16 PCM decode on its bytes — header fields and
    sample stats all come back out of the container, not the formula."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "sample_rate", "n_channels", "bits",
            "n_frames", "duration_ms", "amp_mean", "amp_peak",
        )}
        for doc_id in pdf["doc_id"]:
            rate, ch, bits, n_frames, data = probe_wav_meta(
                make_wav(int(doc_id))
            )
            samples = np.frombuffer(data, "<i2").astype(np.int64)
            out["doc_id"].append(int(doc_id))
            out["sample_rate"].append(rate)
            out["n_channels"].append(ch)
            out["bits"].append(bits)
            out["n_frames"].append(n_frames)
            out["duration_ms"].append(round(n_frames * 1000.0 / rate, 6))
            out["amp_mean"].append(
                round(float(samples.sum()) / len(samples), 6)
            )
            out["amp_peak"].append(int(np.abs(samples).max()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                "n_channels": pd.Series(out["n_channels"], dtype="int32"),
                "bits": pd.Series(out["bits"], dtype="int32"),
                "n_frames": pd.Series(out["n_frames"], dtype="int64"),
                "duration_ms": pd.Series(out["duration_ms"], dtype="float64"),
                "amp_mean": pd.Series(out["amp_mean"], dtype="float64"),
                "amp_peak": pd.Series(out["amp_peak"], dtype="int32"),
            }
        )


def q_mm_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality metadata + PCM sample stats: a real RIFF chunk
    walk and int16 decode per clip (the synthetic clips are closed
    forms of doc_id so the DuckDB oracle recomputes every field
    without touching bytes — any parser off-by-one in chunk walking,
    word alignment, or sample signedness diverges).  Narrow Arrow
    `mapInPandas`, no shuffle; payloads live one batch at a time."""
    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(audio_meta_batches, schema=MM_AUDIO_SCHEMA)


_WAV_RATE_SQL = (
    "CASE doc_id % 5 "
    + " ".join(
        f"WHEN {i} THEN {r}" for i, r in enumerate(WAV_RATES)
    )
    + " END"
)

ORACLES["mm_audio_meta"] = (
        f"WITH meta AS (SELECT doc_id, {_WAV_RATE_SQL} AS sample_rate, "
        "CAST(1 + doc_id % 2 AS INTEGER) AS n_channels, "
        f"CAST(1 + doc_id % {WAV_FRAMES_MOD} AS BIGINT) AS n_frames "
        "FROM documents), "
        "samp AS (SELECT m.doc_id, "
        "CAST(sum((m.doc_id * 31 + k * 17) % 65536 - 32768) AS DOUBLE) "
        "/ count(*) AS amp_mean, "
        "max(abs((m.doc_id * 31 + k * 17) % 65536 - 32768)) AS amp_peak "
        "FROM meta m, unnest(range(0, m.n_frames * m.n_channels)) AS t(k) "
        "GROUP BY m.doc_id) "
        "SELECT m.doc_id, CAST(m.sample_rate AS INTEGER) AS sample_rate, "
        "m.n_channels, CAST(16 AS INTEGER) AS bits, m.n_frames, "
        "round(m.n_frames * 1000.0 / m.sample_rate, 6) AS duration_ms, "
        "round(s.amp_mean, 6) AS amp_mean, "
        "CAST(s.amp_peak AS INTEGER) AS amp_peak "
        "FROM meta m JOIN samp s USING (doc_id)"
)

QUERIES["mm_audio_meta"] = q_mm_audio_meta


# --- contrastive pair manifest (r5) ----------------------------------

def q_mm_pair_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style contrastive-training manifest — the cross-modal
    artifact a text↔embedding trainer consumes: each anchor document
    pairs with its own embedding (positive, doc_id-aligned) and a
    HARD negative — the highest-cosine OTHER vector among the
    anchor's LSH bucket-mates (in-batch random negatives are easy;
    bucket-mates are the confusable ones that make the loss
    informative).  Negative mining reuses the memoized bucket tables:
    candidates are bucket-mates only (never all-pairs), the argmax is
    a max-struct aggregate on the ROUNDED cosine with vec_id
    tie-break, and anchors with no bucket-mate carry NULLs rather
    than silently dropping."""
    from .common import rebalance_scan as _  # noqa: F401 (doc parity)
    from ..operators.similarity import (
        _bucket_rows,
        _emb_with_norm,
        capped_bucket_rows,
        dot,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias(
            "caption_tokens"
        ),
    )
    # hot-bucket cap before the mate self-join (r8 verdict #2): a
    # degenerate embedding cluster would otherwise mine O(m²) negative
    # candidates; anchors losing all mates fall back to NULLs exactly
    # like anchors in singleton buckets
    bx = capped_bucket_rows(_bucket_rows(spark, sf_dir))
    mate = bx.select(F.col("vec_id").alias("neg_id"), "tbl", "bucket")
    cand = (
        bx.join(mate, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("neg_id"))
        .select(F.col("vec_id").alias("anchor_id"), "neg_id")
        .distinct()
    )
    emb = _emb_with_norm(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # cosine is symmetric and the candidate set is symmetric by
    # construction (bucket-mate joins produce both orientations), so
    # score each UNORDERED pair once and emit both orientations via
    # explode — one pass, half the array dot products (the stage's
    # dominant cost; measured ~2× on the scored stage at sf0.1)
    scored_u = (
        cand.filter(F.col("anchor_id") < F.col("neg_id"))
        .join(a, "anchor_id")
        .join(b, "neg_id")
        .select(
            "anchor_id",
            "neg_id",
            F.round(
                dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
    )
    both = scored_u.select(
        F.explode(
            F.array(
                F.struct("anchor_id", "neg_id", "cos"),
                F.struct(
                    F.col("neg_id").alias("anchor_id"),
                    F.col("anchor_id").alias("neg_id"),
                    F.col("cos"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    best = (
        both.groupBy("anchor_id")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("neg_id")).alias("nid"))).alias("m"))
        .select(
            "anchor_id",
            (-F.col("m.nid")).cast("long").alias("neg_id"),
            F.col("m.cos").alias("neg_cosine"),
        )
    )
    return docs.join(
        best, docs.doc_id == best.anchor_id, "left"
    ).select(
        "doc_id",
        "caption_tokens",
        F.col("doc_id").alias("pos_id"),  # aligned positives
        "neg_id",
        "neg_cosine",
    )


from ..operators.similarity import _B_CTE as _SIM_B_CTE  # noqa: E402
from ..operators.similarity import _cos_sql as _sim_cos_sql  # noqa: E402
from ..operators.similarity import (  # noqa: E402
    SIM_HOT_BUCKET_CAP as _SIM_CAP,
)

# oracle twin of capped_bucket_rows: over-cap buckets leave the
# unpivoted mate table before the self-join (filtering one unpivot
# side would suffice — the join is on bucket equality — but both
# branches carry the WHERE so each UNION arm reads standalone)
_MM_UNPIVOT = " UNION ALL ".join(
    f"SELECT vec_id, bucket{t} AS bk, {t} AS tbl FROM b "
    f"WHERE bucket{t} NOT IN (SELECT bucket{t} FROM b "
    f"GROUP BY bucket{t} HAVING count(*) > {_SIM_CAP})"
    for t in range(4)
)

ORACLES["mm_pair_manifest"] = (
    "WITH " + _SIM_B_CTE + ", "
    "cand AS (SELECT DISTINCT a.vec_id AS anchor_id, c.vec_id AS neg_id "
    "FROM (" + _MM_UNPIVOT + ") a JOIN (" + _MM_UNPIVOT
    + ") c ON a.bk = c.bk AND a.tbl = c.tbl AND a.vec_id <> c.vec_id), "
    "scored AS (SELECT cand.anchor_id, cand.neg_id, "
    "round(" + _sim_cos_sql("x.embedding", "y.embedding") + ", 6) AS cos "
    "FROM cand JOIN embeddings x ON x.vec_id = cand.anchor_id "
    "JOIN embeddings y ON y.vec_id = cand.neg_id), "
    "best AS (SELECT anchor_id, neg_id, cos, row_number() OVER "
    "(PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS rk "
    "FROM scored) "
    "SELECT d.doc_id, "
    "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS caption_tokens, "
    "d.doc_id AS pos_id, b2.neg_id, b2.cos AS neg_cosine "
    "FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b2 "
    "ON d.doc_id = b2.anchor_id"
)

QUERIES["mm_pair_manifest"] = q_mm_pair_manifest


# --------------------------------------------------------------------------
# Perceptual-hash (aHash) image near-dup (r5)
# --------------------------------------------------------------------------

AHASH_GRID = 8  # 8×8 block means → 64-bit hash


def ahash_bits(rgb) -> int:
    """Average-hash of a decoded RGB array: grayscale → 8×8 block
    means → each bit = (block mean > global mean of the block grid).
    Brightness-shift invariant BY DESIGN (thresholding against the
    image's own mean) — a re-encode that bumps exposure keeps its
    hash, which is exactly what byte-level dedup (md5) cannot see."""
    import numpy as np

    # Exact shortcut: an image narrower or shorter than the grid makes
    # np.array_split yield at least one EMPTY block, whose mean is NaN;
    # NaN propagates into blocks.mean(), and every `block > NaN`
    # compare is False — so the hash is exactly 0 without computing the
    # 64 block means (the corpus path spends ~0.7 ms/image there).
    if rgb.shape[0] < AHASH_GRID or rgb.shape[1] < AHASH_GRID:
        return 0

    gray = rgb.astype(np.float64).mean(axis=2)
    blocks = np.array(
        [
            [b.mean() for b in np.array_split(row_band, AHASH_GRID, axis=1)]
            for row_band in np.array_split(gray, AHASH_GRID, axis=0)
        ]
    )
    bits = (blocks > blocks.mean()).ravel()
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    return out


def ahash_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        hashes, md5s = [], []
        for payload in pdf["payload"]:
            rgb = decode_bmp_pixels(bytes(payload))
            hashes.append(ahash_bits(rgb))
            md5s.append(hashlib.md5(bytes(payload)).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "ahash": pd.Series(hashes, dtype="int64"),
                "payload_md5": md5s,
            }
        )


def q_mm_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: aHash families over the decoded
    payloads — groups visually-equivalent images that byte dedup
    misses (brightness-shifted gradients in the synthetic corpus all
    share a hash ON PURPOSE: the signal is structure, not exposure;
    ``n_distinct_payloads`` counts how many byte-distinct files each
    visual family absorbed).

    Rows-only BY DESIGN (the hash is a pixel-space reduction no SQL
    recomputes without the decoder); pinned by invariance tests —
    identical params collide, brightness shift collides, structural
    change separates, one aspect per family.  Scale: two chained
    narrow Arrow stages (synthesize→hash), one hash-keyed partial-agg
    groupBy; at 100 TB the hash column is what you'd band-join for
    Hamming-near matches, exactly like dedup_simhash_pairs."""
    docs = rebalance_scan(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )
    payloads = docs.mapInPandas(
        bmp_payload_batches, schema="doc_id long, payload binary"
    )
    hashed = payloads.mapInPandas(
        ahash_batches, schema="doc_id long, ahash long, payload_md5 string"
    )
    return hashed.groupBy("ahash").agg(
        F.count("*").cast("long").alias("n_images"),
        F.countDistinct("payload_md5").alias("n_distinct_payloads"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


QUERIES["mm_ahash_dedup"] = q_mm_ahash_dedup


# --------------------------------------------------------------------------
# Audio quality gates over REAL decoded PCM (r5)
# --------------------------------------------------------------------------

SILENCE_ABS = 3277   # |sample| < 10% full-scale counts as silence
CLIP_ABS = 32700     # |sample| ≥ this counts as clipped


def wav_payload_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Synthesize the per-doc WAV payloads (the audio twin of
    bmp_payload_batches — in production this stage IS the blob
    column)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda d: make_wav(int(d))),
            }
        )


def audio_quality_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, _, _, _, data = probe_wav_meta(bytes(payload))
            smp = np.frombuffer(data, dtype="<i2").astype(np.int64)
            n = len(smp)
            rms = float(np.sqrt((smp.astype(np.float64) ** 2).mean()))
            out.append(
                (
                    int(doc_id),
                    n,
                    round(rms, 6),
                    round(float((np.abs(smp) < SILENCE_ABS).mean()), 6),
                    round(float((np.abs(smp) >= CLIP_ABS).mean()), 6),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "n_samples",
                "rms",
                "silence_frac",
                "clip_frac",
            ],
        )


def q_mm_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio ingest quality gates off the REAL decoded PCM: RMS level,
    silence fraction (dead-air/failed-capture detector) and clipping
    fraction (gain-staging damage) per clip — the three numbers an
    audio-corpus pipeline filters on before feature extraction.

    The clips are closed forms of doc_id, so the DuckDB oracle
    REGENERATES every sample arithmetically and recomputes all three
    gates without touching bytes — any chunk-walk, signedness, or
    channel-interleave bug in the decode path hash-fails.  Narrow
    Arrow stages, per-clip state only."""
    docs = rebalance_scan(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )
    payloads = docs.mapInPandas(
        wav_payload_batches, schema="doc_id long, payload binary"
    )
    return payloads.mapInPandas(
        audio_quality_batches,
        schema=(
            "doc_id long, n_samples long, rms double, "
            "silence_frac double, clip_frac double"
        ),
    )


_WAV_N_SAMPLES_SQL = f"((1 + doc_id % {WAV_FRAMES_MOD}) * (1 + doc_id % 2))"

ORACLES["mm_audio_quality"] = (
    f"WITH p AS (SELECT doc_id, {_WAV_N_SAMPLES_SQL} AS n FROM documents), "
    "s AS (SELECT doc_id, n, unnest(range(0, n)) AS k FROM p), "
    "v AS (SELECT doc_id, n, "
    "((doc_id * 31 + k * 17) % 65536) - 32768 AS smp FROM s) "
    "SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples, "
    "round(sqrt(avg(CAST(smp AS DOUBLE) * smp)), 6) AS rms, "
    f"round(sum(CASE WHEN abs(smp) < {SILENCE_ABS} THEN 1 ELSE 0 END) "
    "/ CAST(count(*) AS DOUBLE), 6) AS silence_frac, "
    f"round(sum(CASE WHEN abs(smp) >= {CLIP_ABS} THEN 1 ELSE 0 END) "
    "/ CAST(count(*) AS DOUBLE), 6) AS clip_frac "
    "FROM v GROUP BY doc_id"
)

QUERIES["mm_audio_quality"] = q_mm_audio_quality


def image_quality_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rgb = decode_bmp_pixels(bytes(payload)).astype(np.float64)
            gray = rgb.mean(axis=2)
            out.append(
                (
                    int(doc_id),
                    round(float(gray.mean()), 6),
                    round(float(gray.std()), 6),
                    round(float(gray.max() - gray.min()), 6),
                )
            )
        yield pd.DataFrame(
            out, columns=["doc_id", "gray_mean", "gray_std", "dyn_range"]
        )


def q_mm_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality gates off the REAL decoded pixels: grayscale
    mean (exposure), std (contrast — a near-zero std is a blank/
    failed capture) and dynamic range per image.

    The synthetic gradient has closed forms — gray = base +
    (2x + 2y)/3, so mean = base + (w + h − 2)/3, var = (4/9)·
    ((w²−1) + (h²−1))/12, range = (2/3)·(w + h − 2) — and the DuckDB
    oracle recomputes all three ARITHMETICALLY: any padding,
    orientation, channel-order or float-promotion bug in the decode
    path hash-fails.  Narrow Arrow stages, per-image state only."""
    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.mapInPandas(
        bmp_payload_batches, schema="doc_id long, payload binary"
    )
    return payloads.mapInPandas(
        image_quality_batches,
        schema="doc_id long, gray_mean double, gray_std double, dyn_range double",
    )


ORACLES["mm_image_quality"] = (
    "SELECT doc_id, "
    f"round({_BMP_BASE_SQL} + ({_BMP_W_SQL} + {_BMP_H_SQL} - 2) / 3.0, 6) "
    "AS gray_mean, "
    f"round(sqrt((4.0 / 9.0) * (({_BMP_W_SQL} * {_BMP_W_SQL} - 1) "
    f"+ ({_BMP_H_SQL} * {_BMP_H_SQL} - 1)) / 12.0), 6) AS gray_std, "
    f"round((2.0 / 3.0) * ({_BMP_W_SQL} + {_BMP_H_SQL} - 2), 6) "
    "AS dyn_range "
    "FROM documents"
)

QUERIES["mm_image_quality"] = q_mm_image_quality


# --- video scene-cut detection (r5) ----------------------------------

CUT_THRESH = 64  # luminance jump that counts as a hard cut


def scene_lum_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one row per CONSECUTIVE frame (cut
    detection needs every frame, unlike the strided sampler) with the
    frame's mean luminance.  The luminance is the deterministic fake
    decode of this module's convention — a pure function of payload
    size and frame index (quadratic in the index so consecutive
    diffs vary), arithmetic the oracle regenerates exactly; a real
    build swaps ONLY this function body for a codec call, the Spark
    plumbing (Arrow batches, schema, downstream lag window) is the
    production shape."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        n_frames = (1 + n % 10).astype("int64")
        out = {"doc_id": [], "frame_idx": [], "lum": []}
        for doc_id, nb, nf in zip(pdf["doc_id"], n, n_frames):
            for idx in range(int(nf)):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["lum"].append(
                    int(nb) * (idx + 1) * (idx + 3) % 256
                )
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "lum": pd.Series(out["lum"], dtype="int32"),
            }
        )


def q_mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video hard-cut census: decode per-frame luminance (Arrow
    stage), then flag frames whose luminance jumps ≥ CUT_THRESH from
    the previous frame — the shot-boundary heuristic every video
    curation pipeline runs before frame dedup (sample around cuts,
    not inside static shots).  Scale shape: the lag window partitions
    by doc_id over ≤10 frames per group; the rollup is one partial
    agg."""
    from pyspark.sql import Window

    # r12 (guide §2.1): unrebalanced by design — per-row map cost
    # measured too cheap for the round-robin exchange's per-task
    # Python-runner overhead (A/B in OPTIMIZATION_r12.md, mm family)
    docs = load_table(spark, sf_dir, "documents")
    frames = with_payload(docs).mapInPandas(
        scene_lum_batches, schema="doc_id long, frame_idx int, lum int"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    jump = F.abs(F.col("lum") - F.lag("lum").over(w))
    flagged = frames.withColumn("jump", jump)
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.coalesce(
            F.sum((F.col("jump") >= CUT_THRESH).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("n_cuts"),
        F.coalesce(F.max("jump"), F.lit(0)).cast("long").alias(
            "max_jump"
        ),
        F.min(
            F.when(F.col("jump") >= CUT_THRESH, F.col("frame_idx"))
        )
        .cast("long")
        .alias("first_cut_idx"),
    )


ORACLES["mm_scene_cuts"] = (
    "WITH meta AS (SELECT doc_id, "
    "CAST(octet_length(encode(text)) AS BIGINT) AS nb, "
    "CAST(1 + octet_length(encode(text)) % 10 AS INTEGER) AS n_frames "
    "FROM documents), "
    "fr AS (SELECT doc_id, CAST(idx AS INTEGER) AS frame_idx, "
    "CAST(nb * (idx + 1) * (idx + 3) % 256 AS INTEGER) AS lum "
    "FROM meta, unnest(range(0, n_frames)) AS t(idx)), "
    "j AS (SELECT doc_id, frame_idx, "
    "abs(lum - lag(lum) OVER (PARTITION BY doc_id ORDER BY frame_idx)) "
    "AS jump FROM fr) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames, "
    f"CAST(coalesce(sum(CASE WHEN jump >= {CUT_THRESH} THEN 1 END), 0) "
    "AS BIGINT) AS n_cuts, "
    "CAST(coalesce(max(jump), 0) AS BIGINT) AS max_jump, "
    f"CAST(min(CASE WHEN jump >= {CUT_THRESH} THEN frame_idx END) "
    "AS BIGINT) AS first_cut_idx "
    "FROM j GROUP BY doc_id"
)

QUERIES["mm_scene_cuts"] = q_mm_scene_cuts


# --------------------------------------------------------------------------
# Audio spectral features (FFT) — rows-only (r5)
# --------------------------------------------------------------------------

ROLLOFF_FRAC = 0.85


def audio_spectral_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, channels, _, _, data = probe_wav_meta(bytes(payload))
            smp = np.frombuffer(data, dtype="<i2").astype(np.float64)
            if channels == 2:  # average interleaved channels to mono
                if len(smp) % 2:
                    smp = smp[:-1]
                smp = smp.reshape(-1, 2).mean(axis=1)
            mag = np.abs(np.fft.rfft(smp))
            freqs = np.fft.rfftfreq(len(smp), d=1.0 / rate)
            power = mag * mag
            tot = power.sum()
            if tot <= 0.0:
                centroid = rolloff = bandwidth = 0.0
            else:
                centroid = float((freqs * power).sum() / tot)
                cum = np.cumsum(power)
                rolloff = float(
                    freqs[np.searchsorted(cum, ROLLOFF_FRAC * tot)]
                )
                bandwidth = float(
                    np.sqrt(
                        (((freqs - centroid) ** 2) * power).sum() / tot
                    )
                )
            out.append(
                (
                    int(doc_id),
                    int(rate),
                    round(centroid, 6),
                    round(rolloff, 6),
                    round(bandwidth, 6),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "rate",
                "spectral_centroid",
                "rolloff",
                "bandwidth",
            ],
        )


def q_mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral shape features per clip off the real decoded PCM —
    centroid (power-weighted mean frequency), 85% rolloff and
    bandwidth: the cheap frequency-domain triage an audio corpus runs
    to split speech-like / music-like / noise-like clips before
    expensive feature extraction (speech centroids sit low, hiss and
    synthetic tones sit high).

    Rows-only by SURVEY §5 (an O(n log n) FFT is not
    SQL-expressible at our sample lengths — the O(n²) literal DFT
    would be ~5·10⁹ SQL terms at sf0.01); pinned instead by an
    independent direct-DFT recomputation over the closed-form samples
    in tests/test_multimodal.py.  Same narrow Arrow stages and
    stereo-interleave handling as the quality gate — a channel-
    deinterleave bug shifts every centroid and fails the test."""
    docs = rebalance_scan(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )
    payloads = docs.mapInPandas(
        wav_payload_batches, schema="doc_id long, payload binary"
    )
    return payloads.mapInPandas(
        audio_spectral_batches,
        schema=(
            "doc_id long, rate long, spectral_centroid double, "
            "rolloff double, bandwidth double"
        ),
    )


QUERIES["mm_audio_spectral"] = q_mm_audio_spectral


# --------------------------------------------------------------------------
# Banded-Hamming near-dup pairs over the perceptual hash (r5)
# --------------------------------------------------------------------------

MM_HAMMING_MAX = 3
MM_BANDS = MM_HAMMING_MAX + 1  # pigeonhole: ≤3 flips can't touch all 4
MM_BAND_BITS = 64 // MM_BANDS


def ahash_near_pairs(families: "DataFrame") -> "DataFrame":
    """Banded Hamming join over DISTINCT hash families
    (ahash, n_images): split each 64-bit hash into MM_BANDS blocks,
    equi-join on (band, value), verify 1 ≤ bit_count(xor) ≤
    MM_HAMMING_MAX.  Pigeonhole recall is theorem-exact (≤3 flips
    cannot touch all 4 bands).  Exposed separately so tests drive it
    with crafted hash sets."""
    bands = families.select(
        "ahash",
        "n_images",
        F.explode(
            F.array(*[F.lit(b) for b in range(MM_BANDS)])
        ).alias("band"),
    ).withColumn(
        "val",
        F.expr(
            f"shiftrightunsigned(ahash, band * {MM_BAND_BITS}) "
            f"& {(1 << MM_BAND_BITS) - 1}"
        ),
    )
    a = bands.select(
        F.col("ahash").alias("hash_a"),
        F.col("n_images").alias("n_images_a"),
        "band",
        "val",
    )
    b = bands.select(
        F.col("ahash").alias("hash_b"),
        F.col("n_images").alias("n_images_b"),
        "band",
        "val",
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("hash_a") < F.col("hash_b"))
        .select("hash_a", "hash_b", "n_images_a", "n_images_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b"))),
        )
        .filter(
            (F.col("hamming") >= 1) & (F.col("hamming") <= MM_HAMMING_MAX)
        )
        .select(
            "hash_a",
            "hash_b",
            F.col("hamming").cast("int").alias("hamming"),
            "n_images_a",
            "n_images_b",
        )
    )


def q_mm_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-NEAR perceptual-hash families — the banded join
    `mm_ahash_dedup`'s docstring promises, done at the RIGHT
    granularity: byte/pixel-equal hashes first collapse into
    families (`mm_ahash_dedup`'s groupBy), and only the DISTINCT
    representatives enter the banded Hamming join — so a boilerplate
    family of a million identical gradients is ONE row here, not a
    10¹² self-product (the synthetic corpus makes that degenerate
    case real: most images share a hash by design).  Near-but-unequal
    families (1 ≤ Hamming ≤ 3) are the re-encoded / slightly-cropped
    captures exact hashing misses.

    Rows-only (pixel-space hashes); recall is pigeonhole-exact and
    pinned by an all-pairs python recomputation plus a crafted-hash
    fixture in tests/test_multimodal.py."""
    docs = rebalance_scan(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )
    payloads = docs.mapInPandas(
        bmp_payload_batches, schema="doc_id long, payload binary"
    )
    hashed = payloads.mapInPandas(
        ahash_batches, schema="doc_id long, ahash long, payload_md5 string"
    )
    families = hashed.groupBy("ahash").agg(
        F.count("*").cast("long").alias("n_images")
    )
    return ahash_near_pairs(families)


QUERIES["mm_ahash_pairs"] = q_mm_ahash_pairs


# --------------------------------------------------------------------------
# r7: PNG pixel stats — the zlib decoder under the driver's hash gate
# --------------------------------------------------------------------------

def png_payload_batches(
    batches: "Iterator[pd.DataFrame]",
) -> "Iterator[pd.DataFrame]":
    """Synthesize per-doc PNG payloads with the SAME gradient the BMP
    twin uses (R = base+x+y, G = base+y, B = base+x), encoded with
    per-row scanline filters cycling None→Sub→Up→Average→Paeth
    (offset by doc_id, so every filter also appears as a FIRST row
    somewhere) — the whole unfilter matrix ends up value-hash-checked
    against the closed-form oracle."""
    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            base = d % BMP_BASE_MOD
            w = BMP_W_MIN + d % BMP_W_SPAN
            h = BMP_H_MIN + d % BMP_H_SPAN
            ys, xs = np.mgrid[0:h, 0:w]
            px = np.stack(
                [base + xs + ys, base + ys, base + xs], axis=2
            ).astype(np.uint8)
            filters = [(d + r) % 5 for r in range(h)]
            payloads.append(encode_png(px, filters=filters))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": payloads}
        )


def q_mm_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG twin of mm_pixel_stats: synthesize (encode) → decode →
    per-channel stats, two chained narrow Arrow stages.  The decode
    stage is the stdlib-zlib PNG decoder (decode_png_pixels via
    decode_pixels), so DEFLATE inflation, scanline unfiltering (all
    five filter types), and channel order all sit under the driver's
    closed-form hash check — no Pillow anywhere."""
    docs = rebalance_scan(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )
    payloads = docs.mapInPandas(
        png_payload_batches, schema="doc_id long, payload binary"
    )
    return payloads.mapInPandas(pixel_stats_batches, schema=MM_PIXEL_SCHEMA)


# same closed form as mm_pixel_stats: the PNG stores the identical
# gradient, just through a DEFLATE + filter pipeline instead of BMP
# padding/orientation
QUERIES["mm_png_pixel_stats"] = q_mm_png_pixel_stats
ORACLES["mm_png_pixel_stats"] = ORACLES["mm_pixel_stats"]
