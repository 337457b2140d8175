"""Multimodal column plumbing (north-star: image/audio/video at 100 TB).

Design: media is an opaque ``binary`` column + a typed metadata struct;
decode/feature-extract run as Arrow-batched ``mapInPandas`` so bytes never
round-trip through Python row-by-row and the pipeline scales by partition.

Codec status (round 4): PNG and 16-bit PCM WAV decode is REAL and
stdlib-only — ``decode_png`` (zlib inflate + scanline unfilter 0-4) and
``decode_wav`` (struct) — verified pixel-/sample-exact against
closed-form oracles (queries ``image_pixel_stats`` / ``audio_pcm_stats``).
JPEG decode is also native (operators/jpegcodec.py: baseline AND
progressive, gray/4:4:4/4:2:0, DRI). Only MP4 codec decode remains
genuinely gated: it needs pyav, absent in this container, and raises
loudly at the same ``mapInPandas`` signature (schema, batching,
partitioning all real and tested; the ISO-BMFF container parse itself is
native, operators/mp4box.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

N_BINS = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def with_binary_payload(documents: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata (here: the utf-8
    bytes of the text stand in for an image/audio blob)."""
    return documents.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").cast(BinaryType()).alias("payload"),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_png_dims(b: bytes) -> tuple[int, int] | None:
    """Pure-Python PNG dimension parse: width/height are big-endian u32 at
    offsets 16/20 (8-byte signature + IHDR length + type). No codec needed —
    the header is part of the format spec."""
    if len(b) < 24 or not b.startswith(_PNG_SIG) or b[12:16] != b"IHDR":
        return None
    w = int.from_bytes(b[16:20], "big")
    h = int.from_bytes(b[20:24], "big")
    return (w, h) if w and h else None


def parse_jpeg_dims(b: bytes) -> tuple[int, int] | None:
    """Pure-Python JPEG dimension parse: walk the marker segments to the
    first SOF0-SOF15 frame header (skipping the non-frame 0xC4/C8/CC
    markers); height/width are big-endian u16 at +5/+7 into the segment."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(b)
    while i + 9 < n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return (w, h) if w and h else None
        i += 2 + seg_len
    return None


def synthetic_png(width: int, height: int) -> bytes:
    """A minimal structurally-valid PNG (signature + IHDR + empty IDAT +
    IEND) for fixtures: header parsers see real dimensions without any
    image library in the build chain."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )


def parse_wav_meta(b: bytes) -> tuple[int, int, int, int] | None:
    """Pure-Python RIFF/WAVE header parse: walk the chunk list to ``fmt ``
    (channels u16le@+2, sample_rate u32le@+4, bits u16le@+14) and ``data``
    (frame count = chunk size / frame stride). Returns (n_channels,
    sample_rate, bits_per_sample, n_frames) — no codec needed, the header
    is part of the format spec."""
    if len(b) < 36 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    ch = rate = bits = None
    n_frames = None
    i = 12
    n = len(b)
    while i + 8 <= n:
        tag = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        body = b[i + 8 : i + 8 + size]
        if tag == b"fmt " and size >= 16:
            ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif tag == b"data" and ch and bits:
            n_frames = size // (ch * bits // 8)
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if ch and rate and bits and n_frames is not None:
        return (ch, rate, bits, n_frames)
    return None


def synthetic_wav(n_channels: int, sample_rate: int, n_frames: int) -> bytes:
    """A minimal valid 16-bit PCM WAV (RIFF + fmt + zeroed data) for
    fixtures: header parsers see real audio metadata without any audio
    library in the build chain."""
    import struct

    data_size = n_frames * n_channels * 2
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        n_channels,
        sample_rate,
        sample_rate * n_channels * 2,  # byte rate
        n_channels * 2,  # block align
        16,  # bits per sample
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", data_size)
        + b"\x00" * data_size
    )


def decode_media(payload: bytes, media_type: str) -> np.ndarray:
    """Feature extraction per media type. PNG, 16-bit PCM WAV, and
    baseline grayscale JPEG decode are REAL (stdlib zlib/struct + the
    native DCT/Huffman codec in operators/jpegcodec.py): the 16-bin
    histogram is computed over decoded PIXELS / quantized SAMPLES.
    JPEG covers baseline AND progressive, gray/4:4:4/4:2:0; only MP4
    codec decode remains genuinely gated (needs pyav, absent in this
    container). Unknown types fall back to a byte-level histogram."""
    if media_type == "image/png":
        arr = decode_png(bytes(payload)).ravel()
    elif media_type == "audio/wav":
        wave, _ = decode_wav(bytes(payload))
        arr = np.clip((wave[:, 0] + 1.0) * 128.0, 0, 255).astype(np.uint8)
    elif media_type == "image/jpeg":
        from .jpegcodec import decode_jpeg

        # baseline + progressive, gray/444/420 decode natively; only
        # >2x2 sampling raises NotImplementedError from the codec
        arr = decode_jpeg(bytes(payload)).ravel()
    elif media_type == "video/mp4":
        raise NotImplementedError(
            "video codec decode not available in this environment; "
            "install pyav and replace this branch"
        )
    else:
        arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr // N_BINS, minlength=N_BINS).astype(np.float64)
    total = hist.sum()
    return (hist / total if total else hist).astype(np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, meta).

    Scale shape: mapInPandas keeps one Python worker per task, Arrow moves
    the binary column zero-copy per batch; repartition upstream by size so
    each batch holds a bounded number of megabytes of media.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(p, m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "features": [list(f) for f in feats],
                }
            )

    flat = media.select(
        "doc_id",
        "payload",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return flat.mapInPandas(run, FEATURE_SCHEMA)


def media_feature_pipeline(documents: DataFrame) -> DataFrame:
    """documents → binary payload → batched feature extraction."""
    return extract_features(with_binary_payload(documents))


DIMENSIONS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def with_synthetic_image_payload(documents: DataFrame) -> DataFrame:
    """Fixture image corpus: one real (structurally valid) PNG per doc with
    deterministic doc_id-derived dimensions, so the dimension pipeline can
    be exercised and verified end-to-end without any image library."""

    @F.pandas_udf(BinaryType())
    def make_png(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(
            lambda d: synthetic_png(int(d) % 512 + 1, int(d) % 333 + 1)
        )

    payload = make_png(F.col("doc_id"))
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("image/png").alias("media_type"),
            F.length(payload).alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


def image_dimensions(media: DataFrame) -> DataFrame:
    """REAL (not stubbed) image metadata extraction: pure-Python PNG/JPEG
    header parsing over the same Arrow-batched ``mapInPandas`` lane as the
    decoders — bytes stay in Arrow buffers per batch, Python touches only
    the first KB of each payload. Non-image rows pass through with NULL
    dimensions."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = []
            for p, m in zip(pdf["payload"], pdf["media_type"]):
                b = bytes(p)
                if m == "image/png":
                    dims.append(parse_png_dims(b))
                elif m == "image/jpeg":
                    dims.append(parse_jpeg_dims(b))
                else:
                    dims.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [d[0] if d else None for d in dims],
                    "height": [d[1] if d else None for d in dims],
                }
            )

    flat = media.select(
        "doc_id",
        "payload",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return flat.mapInPandas(run, DIMENSIONS_SCHEMA)


AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits_per_sample", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", DoubleType()),
    ]
)

_WAV_RATES = (8000, 16000, 22050, 44100)


def with_synthetic_audio_payload(documents: DataFrame) -> DataFrame:
    """Fixture audio corpus: one real (structurally valid) 16-bit PCM WAV
    per doc with deterministic doc_id-derived parameters, so the audio
    metadata pipeline is exercised and verified end-to-end without any
    audio library."""

    @F.pandas_udf(BinaryType())
    def make_wav(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(
            lambda d: synthetic_wav(
                int(d) % 2 + 1, _WAV_RATES[int(d) % 4], int(d) % 1000 + 1
            )
        )

    payload = make_wav(F.col("doc_id"))
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("media_type"),
            F.length(payload).alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


def audio_metadata(media: DataFrame) -> DataFrame:
    """REAL (not stubbed) audio metadata extraction: pure-Python RIFF/WAVE
    header parsing over the Arrow-batched ``mapInPandas`` lane. Non-audio
    rows pass through with NULL fields; ``duration_ms`` derives from the
    parsed frame count and rate."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for p, m in zip(pdf["payload"], pdf["media_type"]):
                metas.append(
                    parse_wav_meta(bytes(p)) if m == "audio/wav" else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "n_channels": [t[0] if t else None for t in metas],
                    "sample_rate": [t[1] if t else None for t in metas],
                    "bits_per_sample": [t[2] if t else None for t in metas],
                    "n_frames": [t[3] if t else None for t in metas],
                    "duration_ms": [
                        round(t[3] * 1000.0 / t[1], 6) if t else None
                        for t in metas
                    ],
                }
            )

    flat = media.select(
        "doc_id",
        "payload",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return flat.mapInPandas(run, AUDIO_META_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def resize_media(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Image resize over the Arrow lane. PNG and baseline JPEG are REAL:
    decode (stdlib / native DCT codec), nearest-neighbor resample via
    numpy index grids, re-encode (PNG losslessly; JPEG gray at q=95).
    Non-image payloads use the deterministic truncate/pad stand-in so
    the batch sizing and schema wiring stay exercised for every type."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .jpegcodec import decode_jpeg, encode_jpeg_color, encode_jpeg_gray

        target = width * height
        for pdf in batches:
            out_payload = []
            for p, m in zip(pdf["payload"], pdf["media_type"]):
                if m in ("image/png", "image/jpeg"):
                    px = (
                        decode_png(bytes(p))
                        if m == "image/png"
                        else decode_jpeg(bytes(p))
                    )
                    h, w = px.shape[:2]
                    yi = (np.arange(height) * h) // height
                    xi = (np.arange(width) * w) // width
                    rs = px[yi][:, xi]
                    if m == "image/png":
                        out_payload.append(encode_png(rs))
                    elif rs.ndim == 2:
                        out_payload.append(encode_jpeg_gray(rs, quality=95))
                    else:
                        out_payload.append(encode_jpeg_color(rs, quality=95))
                    continue
                b = bytes(p)[:target]
                out_payload.append(b + b"\x00" * (target - len(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": out_payload,
                    "out_w": width,
                    "out_h": height,
                }
            )

    flat = media.select(
        "doc_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    return flat.mapInPandas(run, RESIZED_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 256, max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing (video): one input row explodes to ≤
    ``max_frames`` frame rows. The pyav keyframe decode is the stub seam;
    the stand-in slices the payload at fixed strides — the row-explosion
    shape (the part that matters for partition sizing at scale) is real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for d, p, m in zip(pdf["doc_id"], pdf["payload"], pdf["media_type"]):
                if m == "video/mp4":
                    raise NotImplementedError(
                        "pyav not available here; plug keyframe extraction "
                        "into this branch"
                    )
                b = bytes(p)
                if m == "audio/wav":
                    # REAL PCM frame sampling: every_n_bytes is the window
                    # stride in BYTES over the decoded int16 mono stream
                    wave, _ = decode_wav(b)
                    mono = (wave[:, 0] * 32768.0).astype("<i2").tobytes()
                    b = mono
                for i in range(min(max_frames, max(1, len(b) // every_n_bytes))):
                    ids.append(d)
                    idxs.append(i)
                    frames.append(b[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    flat = media.select(
        "doc_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    return flat.mapInPandas(run, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL stdlib decoders (round 4): PNG (zlib inflate + per-row unfilter) and
# 16-bit PCM WAV (struct) need NO external media library; JPEG decode is
# native too (operators/jpegcodec.py) — the decode seam is only genuinely
# gated for MP4 (codecs).
# ---------------------------------------------------------------------------


def encode_png(pixels: "np.ndarray") -> bytes:
    """Minimal PNG encoder: 8-bit grayscale (h, w) or RGB (h, w, 3),
    filter type 0 on every scanline, one zlib IDAT."""
    import struct
    import zlib

    if pixels.ndim == 2:
        color_type, channels = 0, 1
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError("encode_png supports (h,w) gray or (h,w,3) RGB")
    h, w = pixels.shape[:2]
    raw = pixels.astype(np.uint8).reshape(h, w * channels)
    scanlines = b"".join(b"\x00" + row.tobytes() for row in raw)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def decode_png(b: bytes) -> "np.ndarray":
    """REAL PNG decode, stdlib-only: walk chunks, zlib-inflate the IDAT
    stream, reverse scanline filters 0-4 (None/Sub/Up/Average/Paeth).
    Supports the non-interlaced 8-bit grayscale and RGB subset (what
    ``encode_png`` emits and the overwhelmingly common web case);
    anything else raises loudly."""
    import struct
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    i, idat, meta = 8, [], None
    while i + 8 <= len(b):
        (size,) = struct.unpack(">I", b[i : i + 4])
        tag = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + size]
        if tag == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            meta = (w, h, depth, color, interlace)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        i += 12 + size
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, interlace = meta
    if depth != 8 or color not in (0, 2) or interlace:
        raise NotImplementedError(
            "decode_png supports non-interlaced 8-bit gray/RGB only"
        )
    ch = 1 if color == 0 else 3
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel data size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = raw[y * (1 + stride) : (y + 1) * (1 + stride)]
        ftype, line = row[0], np.frombuffer(
            row[1:], dtype=np.uint8
        ).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                bb = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + (a + bb) // 2) & 0xFF
                else:
                    c = prev[x - ch] if x >= ch else 0
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        bb if pb <= pc else c
                    )
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, 3)


def synthetic_png_gradient(width: int, height: int, seed: int = 0) -> bytes:
    """A REAL grayscale PNG whose pixel (x, y) = (3x + 7y + seed) mod 256 —
    an integer formula an independent oracle can recompute exactly, so
    the full decode path (inflate + unfilter) is verifiable end-to-end."""
    x = np.arange(width, dtype=np.int64)
    y = np.arange(height, dtype=np.int64)
    px = ((3 * x[None, :] + 7 * y[:, None] + seed) % 256).astype(np.uint8)
    return encode_png(px)


def decode_wav(b: bytes) -> tuple["np.ndarray", int]:
    """REAL 16-bit PCM WAV decode, stdlib-only: returns (float64 array of
    shape (n_frames, n_channels) scaled to [-1, 1), sample_rate)."""
    meta = parse_wav_meta(b)
    if meta is None:
        raise ValueError("not a PCM WAV")
    ch, rate, bits, n_frames = meta
    if bits != 16:
        raise NotImplementedError("decode_wav supports 16-bit PCM only")
    i, n = 12, len(b)
    while i + 8 <= n:
        tag = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        if tag == b"data":
            raw = np.frombuffer(
                b[i + 8 : i + 8 + size], dtype="<i2"
            ).astype(np.float64)
            return raw.reshape(-1, ch) / 32768.0, rate
        i += 8 + size + (size & 1)
    raise ValueError("WAV missing data chunk")


def synthetic_wav_tone(
    n_channels: int,
    sample_rate: int,
    n_frames: int,
    freq_hz: int,
    amp: float,
) -> bytes:
    """A REAL sine-tone 16-bit PCM WAV: sample i (every channel) =
    floor(32767·amp·sin(2π·freq·i/rate) + 0.5) — an integer-quantized
    closed form an oracle can recompute sample-for-sample."""
    import math
    import struct

    # math.sin (not np.sin) deliberately: the closed-form oracle matches
    # this exact libm ulp behavior; numpy's SIMD sin can differ by 1 ulp,
    # enough to flip the floor(x+0.5) quantizer on boundary samples. The
    # PACKING is vectorized (per-sample struct.pack dominated the cost).
    samples = np.array(
        [
            math.floor(
                32767.0 * amp
                * math.sin(2.0 * math.pi * freq_hz * i / sample_rate)
                + 0.5
            )
            for i in range(n_frames)
        ],
        dtype="<i2",
    )
    frames = np.repeat(samples, n_channels).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(frames))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(frames)) + frames
    )


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_px", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("min_px", LongType()),
        StructField("max_px", LongType()),
    ]
)


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """Pixel-grain image statistics over DECODED pixels (real inflate +
    unfilter per image, Arrow-batched) — the proof that the PNG lane
    decodes content, not just headers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_png(bytes(p)).astype(np.int64)
                rows.append(
                    (
                        int(d),
                        int(px.size),
                        round(float(px.mean()), 6),
                        int(px.min()),
                        int(px.max()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_px", "mean_px", "min_px", "max_px"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, PIXEL_STATS_SCHEMA
    )


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", StringType()),
    ]
)


def dhash_bytes(px: "np.ndarray", grid_w: int = 9, grid_h: int = 8) -> str:
    """64-bit difference hash of a grayscale pixel array as 16 hex chars:
    nearest-neighbor downsample to (grid_h, grid_w) with the SAME index
    grids as resize_media (yi = (y*h)//grid_h, xi = (x*w)//grid_w), then
    bit(y,x) = px[y,x+1] > px[y,x], packed MSB-first per row."""
    if px.ndim == 3:  # BT.601 integer luma for color inputs
        px = (299 * px[..., 0].astype(np.int64)
              + 587 * px[..., 1].astype(np.int64)
              + 114 * px[..., 2].astype(np.int64)) // 1000
    h, w = px.shape
    yi = (np.arange(grid_h) * h) // grid_h
    xi = (np.arange(grid_w) * w) // grid_w
    g = px[yi][:, xi].astype(np.int64)
    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint8)
    return bytes(np.packbits(bits.flatten())).hex()


def image_dhash_table(media: DataFrame) -> DataFrame:
    """(doc_id, dhash) for every image: decode → 9×8 dHash, all in-row
    Arrow-batched work (zero exchange). Shared by ``image_dhash`` and
    ``dhash_near_dup_report``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .jpegcodec import decode_jpeg

        for pdf in batches:
            rows = []
            for d, p, m in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                px = (
                    decode_jpeg(bytes(p))
                    if m == "image/jpeg"
                    else decode_png(bytes(p))
                )
                rows.append((int(d), dhash_bytes(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    flat = media.select(
        "doc_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    return flat.mapInPandas(run, DHASH_SCHEMA)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual near-duplicate image detection: decode → 9×8 dHash →
    group by hash. The end-to-end composition of the native codecs with
    the dedup discipline — visually-identical content collides on a 64-bit
    key regardless of re-encode/scale, so dedup is a hash groupBy exactly
    like ``dedup_exact``, never pairwise pixel comparison.

    Scale: decode + hash are in-row Arrow-batched work; the only shuffle
    is ONE exchange on the 16-char hash key — the collision count is a
    count() OVER (PARTITION BY dhash) analytic landing on every row in
    that single pass (the r10 window-analytic discipline; the previous
    groupBy + join-back re-shuffled the hashed frame twice — measured
    1.57 → 0.79 s at sf0.1, identical rows). Output: (doc_id, dhash,
    n_same) where n_same counts corpus images sharing the hash.
    """
    hashed = image_dhash_table(media)
    return hashed.withColumn(
        "n_same", F.count(F.lit(1)).over(Window.partitionBy("dhash"))
    ).select("doc_id", "dhash", "n_same")


def dhash_near_dup_report(
    media: DataFrame,
    threshold: int = 2,
    max_bucket: int = 64,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Per-image NEAR-duplicate exposure under Hamming distance on the
    64-bit dHash — the multimodal twin of the text near-dup operators:
    exact-collision dedup (``image_dhash``) misses re-encodes that flip
    a few perceptual bits, so candidates come from banded LSH over the
    hash (4 bands × 16 bits: any pair within Hamming ≤ 3 shares at
    least one exact band by pigeonhole, so recall at ``threshold`` ≤ 3
    is total up to the bucket cap) and are verified with the exact
    64-bit Hamming distance.

    Output (doc-grain, one row per image): (doc_id, n_candidates,
    n_near_dup, min_hamming) where n_near_dup counts banded candidates
    with hamming ≤ threshold and min_hamming is NULL for images with no
    candidate.

    Scale: dHash is in-row Arrow-batched decode work; banding shuffles
    (band, 16-bit key) longs; ``max_bucket`` drops degenerate buckets
    (flat-image hashes) with the same loud recall note as the minhash
    mega-bucket guard — the oracle applies the same cap so parity holds
    by construction. In-bucket pair expansion is array math bounded by
    cap²; the verify is an O(4) band xor per candidate, never pixel
    work.
    ``hashed``: pass a pre-materialized (doc_id, dhash) frame to skip
    the decode stage — the cost-attribution knob (decode-vs-candidate
    split at the scaling decades; bench rows in the PERF_r13.json /
    PERF_r14.json ledgers) and the natural
    seam for an incremental pipeline that persists the dHash registry.
    """
    if hashed is None:
        hashed = (
            image_dhash_table(media)
            # cache: caller-owned (repo contract — bench/driver clear
            # per query)
            .persist()  # two consumers: band explode + doc-grain spine
        )
    # 4 × 16-bit band values parsed straight from the hex hash (conv
    # returns a decimal STRING in Spark — cast back to long)
    band_arr = F.expr(
        "transform(sequence(0, 3), i -> "
        "struct(i AS b, cast(conv(substring(dhash, i*4+1, 4), 16, 10) "
        "AS bigint) AS bv))"
    )
    banded = hashed.select(
        "doc_id", F.explode(band_arr).alias("p")
    ).select("doc_id", F.col("p.b").alias("b"), F.col("p.bv").alias("bv"))
    groups = (
        banded.groupBy("b", "bv")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i+2, size(ids)-i-1), "
        "y -> struct(x AS d1, y AS d2))))"
    )
    cand = (
        groups.select(F.explode(combos).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )
    h1 = hashed.select(F.col("doc_id").alias("d1"), F.col("dhash").alias("_h1"))
    h2 = hashed.select(F.col("doc_id").alias("d2"), F.col("dhash").alias("_h2"))
    hamming = F.expr(
        "aggregate(transform(sequence(0, 3), i -> "
        "bit_count(cast(conv(substring(_h1, i*4+1, 4), 16, 10) AS bigint) "
        "^ cast(conv(substring(_h2, i*4+1, 4), 16, 10) AS bigint))), "
        "0, (acc, x) -> acc + x)"
    )
    pairs = (
        cand.join(h1, "d1").join(h2, "d2").select("d1", "d2", hamming.alias("hd"))
    )
    # doc-grain rollup: each pair contributes to BOTH endpoints
    both = pairs.select(
        F.col("d1").alias("doc_id"), "hd"
    ).unionByName(pairs.select(F.col("d2").alias("doc_id"), "hd"))
    per_doc = both.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("hd") <= threshold, 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_dup"),
        F.min("hd").cast("int").alias("min_hamming"),
    )
    return (
        hashed.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("n_near_dup", F.lit(0)).cast("bigint").alias(
                "n_near_dup"
            ),
            "min_hamming",
        )
        .orderBy("doc_id")
    )


PCM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_channels", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
    ]
)


def audio_pcm_stats(media: DataFrame) -> DataFrame:
    """Waveform statistics over DECODED PCM samples (not headers): frame
    count, duration, RMS and peak of the normalized waveform — the proof
    that the audio lane decodes content."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                wave, rate = decode_wav(bytes(p))
                mono = wave[:, 0]
                rows.append(
                    (
                        int(d),
                        int(wave.shape[0]),
                        int(wave.shape[1]),
                        round(wave.shape[0] / rate, 6),
                        round(float(np.sqrt((mono**2).mean())), 6),
                        round(float(np.abs(mono).max()), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_channels",
                    "duration_s", "rms", "peak",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, PCM_STATS_SCHEMA
    )


def with_gradient_image_payload(documents: DataFrame) -> DataFrame:
    """Fixture image corpus with CONTENT: per doc a real grayscale PNG,
    w = doc_id%48+8, h = doc_id%37+8, pixel(x,y) = (3x+7y+doc_id%256)%256
    — integer closed forms an oracle recomputes without any decoder.

    Doc ids are spread across tasks BEFORE the encode UDF
    (``jpegcodec._spread_doc_ids``), so every PNG encode and every
    downstream decode runs in parallel."""
    from .jpegcodec import _spread_doc_ids

    @F.pandas_udf(BinaryType())
    def make_png(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(
            lambda d: synthetic_png_gradient(
                int(d) % 48 + 8, int(d) % 37 + 8, int(d) % 256
            )
        )

    payload = make_png(F.col("doc_id"))
    return _spread_doc_ids(documents).select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("image/png").alias("media_type"),
            F.length(payload).alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


def with_tone_audio_payload(documents: DataFrame) -> DataFrame:
    """Fixture audio corpus with CONTENT: per doc a real sine-tone PCM WAV
    (rate 8000, frames = 400+doc_id%200, freq = 100+doc_id%200,
    amp = (1+doc_id%8)/10, channels = doc_id%2+1) — the quantized sample
    formula is oracle-recomputable sample-for-sample.

    Same pre-encode spread as :func:`with_gradient_image_payload`."""
    from .jpegcodec import _spread_doc_ids

    @F.pandas_udf(BinaryType())
    def make_wav(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(
            lambda d: synthetic_wav_tone(
                int(d) % 2 + 1,
                8000,
                int(d) % 200 + 400,
                int(d) % 200 + 100,
                (1 + int(d) % 8) / 10.0,
            )
        )

    payload = make_wav(F.col("doc_id"))
    return _spread_doc_ids(documents).select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("media_type"),
            F.length(payload).alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


TONE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("peak_bin", IntegerType()),
        StructField("peak_freq_hz", DoubleType()),
    ]
)


def audio_dominant_tone(media: DataFrame) -> DataFrame:
    """Frequency-domain audio analysis over DECODED PCM: full-clip real
    FFT, dominant spectral bin (DC excluded) and its frequency — the
    first real DSP feature of the audio lane (the proof that a
    spectral-featurization stage, the front half of any audio
    fingerprint / mel pipeline, runs on actual decoded samples).

    Verification story (tests + catalog oracle): the fixture corpus is
    closed-form sine tones, so the ORACLE recomputes every sample
    analytically and evaluates the exact DFT magnitude at the candidate
    bins around f·N/rate — argmax parity with numpy's FFT is robust
    because the measured peak-vs-runner-up margin across the whole
    fixture grid is >= 0.47 % while cross-engine float noise is ~1e-12.
    Output columns are integers / integer-derived (bin, bin·rate/N) so
    no spectral float ever reaches the hash.

    Scale shape: Arrow-batched mapInPandas, embarrassingly parallel, no
    shuffle; doc ids repartitioned first (the jpeg_pixel_stats
    one-row-group lesson)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                wave, rate = decode_wav(bytes(p))
                mono = wave[:, 0]
                n = len(mono)
                mag = np.abs(np.fft.rfft(mono))
                k = int(np.argmax(mag[1:]) + 1)  # DC excluded
                rows.append(
                    (int(d), n, k, round(k * rate / n, 3))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_frames", "peak_bin", "peak_freq_hz"],
            )

    # no repartition here (r14): the payload builders spread doc ids
    # BEFORE the encode UDF, so re-shuffling would move the payload
    # bytes through a second exchange for nothing.
    return media.select("doc_id", "payload").mapInPandas(run, TONE_SCHEMA)


HIST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_px", LongType()),
        StructField("n_distinct_vals", IntegerType()),
        StructField("mode_val", IntegerType()),
        StructField("mode_count", LongType()),
        StructField("entropy_bits", DoubleType()),
    ]
)


def image_histogram_stats(media: DataFrame) -> DataFrame:
    """Pixel-distribution analysis over DECODED images: 256-bin
    histogram → distinct values, mode (smallest value on count ties —
    deterministic), and Shannon entropy in bits. The image-lane analogue
    of audio_dominant_tone: proves a statistics/featurization stage runs
    on real decoded pixels (entropy is the standard exposure/compression
    heuristic a curation filter keys on).

    Scale: Arrow-batched mapInPandas, no shuffle; histogram math is
    np.bincount per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_png(bytes(p)).ravel()
                counts = np.bincount(px, minlength=256)
                nz = counts > 0
                n = int(px.size)
                probs = counts[nz] / n
                entropy = float(-(probs * np.log2(probs)).sum())
                mode_val = int(np.argmax(counts))  # first max = smallest
                rows.append(
                    (
                        int(d),
                        n,
                        int(nz.sum()),
                        mode_val,
                        int(counts[mode_val]),
                        round(entropy, 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_px", "n_distinct_vals",
                    "mode_val", "mode_count", "entropy_bits",
                ],
            )

    # no repartition here (r14): see audio_dominant_tone — the builders
    # spread doc ids before the encode UDF.
    return media.select("doc_id", "payload").mapInPandas(run, HIST_SCHEMA)
