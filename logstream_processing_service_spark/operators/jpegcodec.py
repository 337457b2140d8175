"""Baseline sequential GRAYSCALE JPEG codec — pure stdlib + numpy.

Closes the JPEG half of the multimodal content-decode gap the same way
decode_png closed PNG's: a real codec (forward/inverse 8×8 DCT, IJG
quality-scaled quantization, canonical Huffman entropy coding with byte
stuffing, full JFIF marker framing) verified against a closed-form pixel
oracle. Scope: baseline sequential (SOF0) AND progressive (SOF2,
spectral selection + successive approximation with per-scan optimal
Huffman tables), 8-bit, grayscale and YCbCr color at 4:4:4 / 4:2:2 /
4:2:0 / 4:1:1 (generic interleaved MCUs over per-component sampling
factors in {1,2,4}, Annex-K chroma tables, JFIF BT.601 transform,
per-axis box-averaged chroma). Restart intervals (DRI/RSTn) are handled on both sides. The
only remaining gates are arithmetic coding and hierarchical/lossless
modes — essentially absent from web corpora.

Why a closed-form oracle is possible for a LOSSY codec: a block-constant
image at quality 100 is DC-only — the constant c encodes as the exact
integer 8·(c−128) with zero AC energy, so encode→decode reproduces every
pixel EXACTLY and DuckDB can recompute the stats analytically
(`jpeg_pixel_stats`). Lossy behavior on non-constant content is bounded
separately in tests (quality-100 gradients round-trip within ±3 levels).

Huffman/quant constants are the public JPEG Annex K tables.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Annex K tables + zigzag
# ---------------------------------------------------------------------------

QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

_C = np.array([1.0 / np.sqrt(2.0)] + [1.0] * 7)
_M = np.array(
    [
        [_C[u] / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
        for u in range(8)
    ]
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length), canonical JPEG Huffman assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def scaled_quant(quality: int) -> np.ndarray:
    """IJG quality scaling; quality=100 → all-ones (DC-exact)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (QUANT_LUMA * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def finish(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def encode_jpeg_gray(
    pixels: np.ndarray, quality: int = 100, restart_interval: int = 0
) -> bytes:
    """Baseline JFIF, one luminance component, h1v1. ``restart_interval``
    > 0 emits a DRI segment and RSTn markers every that-many MCUs
    (byte-aligned, DC predictors reset) — the error-resilience layout
    most camera/web encoders produce."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    h, w = pixels.shape
    q = scaled_quant(quality)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(pixels, ((0, ph - h), (0, pw - w)), mode="edge").astype(
        np.float64
    )
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3) - 128.0
    )
    coeffs = np.einsum("ux,bcxy,vy->bcuv", _M, blocks, _M)
    quant = np.round(coeffs / q).astype(np.int64)
    flat = quant.reshape(-1, 64)[:, ZIGZAG]

    dc_codes = _canonical_codes(DC_BITS, DC_VALS)
    ac_codes = _canonical_codes(AC_BITS, AC_VALS)
    bw = _BitWriter()
    chunks: list[bytes] = []
    prev_dc = 0
    rst = 0
    for mcu_no, zz in enumerate(flat):
        if restart_interval and mcu_no and mcu_no % restart_interval == 0:
            chunks.append(bw.finish())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            bw = _BitWriter()
            prev_dc = 0
        prev_dc = _encode_block(bw, zz, prev_dc, dc_codes, ac_codes)
    chunks.append(bw.finish())
    data = b"".join(chunks)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += data + b"\xff\xd9"
    return out


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        while self.n <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0xFF  # spec: pad with 1s
                self.n += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                else:
                    # marker: behave as end-of-data (pad 1s)
                    self.pos = len(self.data)
                    self.acc = (self.acc << 8) | 0xFF
                    self.n += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.n += 8

    def peek16(self) -> int:
        self._fill()
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def take(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.skip(k)
        return v


def _decode_table(bits: list[int], vals: list[int]):
    """(first_code, first_index, maxcode) per length for fast decode."""
    codes = _canonical_codes(bits, vals)
    by_len: dict[int, dict[int, int]] = {}
    for val, (code, ln) in codes.items():
        by_len.setdefault(ln, {})[code] = val
    return by_len


def _read_code(br: _BitReader, table) -> int:
    word = br.peek16()
    for ln in range(1, 17):
        cand = word >> (16 - ln)
        hit = table.get(ln, {}).get(cand)
        if hit is not None:
            br.skip(ln)
            return hit
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(bits: int, s: int) -> int:
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def decode_jpeg_gray(b: bytes) -> np.ndarray:
    """Decode a baseline sequential grayscale JFIF produced by any
    conforming encoder. Color / progressive / restart-interval streams
    raise loudly (the documented PIL-gated remainder)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i = 2
    qt: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    dims = None
    comp_q = 0
    scan_dc = scan_ac = 0
    data_start = None
    while i < len(b):
        if b[i] != 0xFF:
            i += 1
            continue
        if i + 4 > len(b):
            raise ValueError("truncated JPEG stream")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        seg = b[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC0:
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit baseline")
            if ncomp != 1:
                raise NotImplementedError(
                    "grayscale only — color JPEG decode stays PIL-gated"
                )
            if seg[7] != 0x11:
                raise NotImplementedError("subsampled single component")
            dims = (h, w)
            comp_q = seg[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise NotImplementedError("only baseline sequential (SOF0)")
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nval = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nval])
                tbl = _decode_table(bits, vals)
                (ac_tables if tc else dc_tables)[th] = tbl
                j += 17 + nval
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals")
        elif marker == 0xDA:
            scan_dc, scan_ac = seg[2] >> 4, seg[2] & 0x0F
            data_start = i + 2 + ln
            break
        i += 2 + ln
    if dims is None or data_start is None:
        raise ValueError("missing SOF0/SOS")
    h, w = dims
    q = qt[comp_q]
    dct = dc_tables[scan_dc]
    act = ac_tables[scan_ac]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    n_blocks = (ph // 8) * (pw // 8)
    br = _BitReader(b[data_start:])
    flat = np.zeros((n_blocks, 64), dtype=np.int64)
    prev_dc = 0
    for nb in range(n_blocks):
        s = _read_code(br, dct)
        prev_dc += _extend(br.take(s), s)
        flat[nb, 0] = prev_dc
        k = 1
        while k < 64:
            sym = _read_code(br, act)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            run, s = sym >> 4, sym & 0x0F
            k += run
            if k > 63:
                raise ValueError("AC run past block end")
            flat[nb, k] = _extend(br.take(s), s)
            k += 1
    blocks = (flat[:, UNZIGZAG].reshape(-1, 8, 8) * q).astype(np.float64)
    spatial = np.einsum("xu,buv,yv->bxy", _M.T, blocks, _M.T) + 128.0
    img = (
        spatial.reshape(ph // 8, pw // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(ph, pw)
    )
    return np.clip(np.round(img), 0, 255).astype(np.uint8)[:h, :w]


# ---------------------------------------------------------------------------
# Closed-form fixture + Spark operator (same contract as image_pixel_stats)
# ---------------------------------------------------------------------------


def synthetic_jpeg_blocks(width: int, height: int, seed: int = 0) -> bytes:
    """Block-constant grayscale at quality 100: block (bx,by) has value
    (3·bx + 7·by + seed) % 256 — DC-only, so the decode is EXACT and the
    oracle recomputes every pixel analytically."""
    if width % 8 or height % 8:
        raise ValueError("block fixture needs multiples of 8")
    bx = np.arange(width // 8)
    by = np.arange(height // 8)
    v = (3 * bx[None, :] + 7 * by[:, None] + seed) % 256
    px = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1).astype(np.uint8)
    return encode_jpeg_gray(px, quality=100)


def _spread_doc_ids(documents):
    """The doc ids of ``documents`` hash-spread over the session's
    parallelism — the input every codec payload builder encodes from.
    Codec work is CPU-bound Python, so it must spread across tasks
    BEFORE the UDFs: the local testdata parquet is one row group, and
    without this every encode+decode runs serially in a single task
    (measured 18.6 s -> ~2 s on the gif lane at sf0.1). A doc_id-only
    shuffle costs ~8 bytes/row, downstream lanes inherit the spread so
    payload bytes never cross an exchange, and at 100 TB this is how a
    media pipeline bounds per-task batch bytes anyway (cf.
    extract_features)."""
    n = documents.sparkSession.sparkContext.defaultParallelism
    return documents.select("doc_id").repartition(n, "doc_id")


def with_blocky_jpeg_payload(documents):
    from pyspark.sql import functions as F

    @F.pandas_udf("binary")
    def make_jpeg(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(
            lambda d: synthetic_jpeg_blocks(
                8 * (int(d) % 6 + 2), 8 * (int(d) % 4 + 2), int(d) % 256
            )
        )

    return _spread_doc_ids(documents).select(
        "doc_id", make_jpeg(F.col("doc_id")).alias("payload")
    )


def jpeg_pixel_stats(media):
    """Decode every payload with the native codec; emit pixel stats the
    closed-form oracle recomputes without any decoder."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_jpeg_gray(bytes(payload))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_px": int(px.size),
                        "mean_px": round(float(px.astype(np.float64).mean()), 6),
                        "min_px": int(px.min()),
                        "max_px": int(px.max()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_px", "mean_px", "min_px", "max_px"]
            )

    return media.mapInPandas(
        run, "doc_id bigint, n_px bigint, mean_px double, min_px bigint, max_px bigint"
    )


# ---------------------------------------------------------------------------
# Color (YCbCr 4:4:4) extension: interleaved 3-component MCUs with the
# Annex K chroma quant/Huffman tables and the JFIF full-range BT.601
# color transform. Progressive scans live further below; only >2×2
# sampling factors and arithmetic coding
# remain the loud gates.
# ---------------------------------------------------------------------------

QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))

AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601; returns float64 (H, W, 3), unrounded."""
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _component_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(n_blocks, 64) zigzagged quantized coefficients for one plane."""
    ph, pw = plane.shape
    blocks = plane.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3) - 128.0
    coeffs = np.einsum("ux,bcxy,vy->bcuv", _M, blocks, _M)
    return np.round(coeffs / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]


def _encode_block(bw, zz, prev_dc, dc_codes, ac_codes) -> int:
    s, bits = _magnitude(int(zz[0]) - prev_dc)
    c, ln = dc_codes[s]
    bw.put(c, ln)
    if s:
        bw.put(bits, s)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = ac_codes[0xF0]
            bw.put(c, ln)
            run -= 16
        s, bits = _magnitude(v)
        c, ln = ac_codes[(run << 4) | s]
        bw.put(c, ln)
        bw.put(bits, s)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]
        bw.put(c, ln)
    return int(zz[0])


SUBSAMPLING_LAYOUTS = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
    "411": ((4, 1), (1, 1), (1, 1)),
}


def _prep_color_planes(
    rgb: np.ndarray, subsampling: str
) -> tuple[list[np.ndarray], tuple, int, int]:
    """YCbCr planes for a given chroma layout: luma at full padded
    resolution, chroma box-averaged by the per-axis sampling ratio.
    Returns (planes, hv, ph, pw) with ph/pw the MCU-padded luma dims."""
    if subsampling not in SUBSAMPLING_LAYOUTS:
        raise ValueError(f"subsampling must be one of {sorted(SUBSAMPLING_LAYOUTS)}")
    hv = SUBSAMPLING_LAYOUTS[subsampling]
    h_max = max(x for x, _ in hv)
    v_max = max(y for _, y in hv)
    h, w, _ = rgb.shape
    mw, mh = 8 * h_max, 8 * v_max
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    ycc = np.clip(np.round(rgb_to_ycbcr(rgb.astype(np.float64))), 0, 255)
    full = [
        np.pad(ycc[..., c], ((0, ph - h), (0, pw - w)), mode="edge")
        for c in range(3)
    ]
    planes = []
    for c, (hi, vi) in enumerate(hv):
        ry, rx = v_max // vi, h_max // hi
        p = full[c]
        if ry > 1 or rx > 1:
            p = (
                p.reshape(ph // ry, ry, pw // rx, rx)
                .mean(axis=(1, 3))
                .round()
            )
        planes.append(p)
    return planes, hv, ph, pw


def encode_jpeg_color(
    rgb: np.ndarray, quality: int = 100, subsampling: str = "444"
) -> bytes:
    """Baseline JFIF, 3 interleaved YCbCr components at 4:4:4, 4:2:2,
    4:2:0 (the web-standard layout) or 4:1:1 — one generic MCU loop over
    per-component sampling factors, chroma box-averaged per axis."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    planes, hv, ph, pw = _prep_color_planes(rgb, subsampling)
    h_max = max(x for x, _ in hv)
    v_max = max(y for _, y in hv)
    ql = scaled_quant(quality)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qc = np.clip((QUANT_CHROMA * scale + 50) // 100, 1, 255).astype(np.int64)
    quants = [ql, qc, qc]
    dc_codes = [
        _canonical_codes(DC_BITS, DC_VALS),
        _canonical_codes(DC_BITS_C, DC_VALS_C),
        _canonical_codes(DC_BITS_C, DC_VALS_C),
    ]
    ac_codes = [
        _canonical_codes(AC_BITS, AC_VALS),
        _canonical_codes(AC_BITS_C, AC_VALS_C),
        _canonical_codes(AC_BITS_C, AC_VALS_C),
    ]
    zz = [_component_blocks(p, q) for p, q in zip(planes, quants)]
    bcols = [p.shape[1] // 8 for p in planes]  # blocks per row, per comp
    bw = _BitWriter()
    prev = [0, 0, 0]
    for my in range(ph // (8 * v_max)):
        for mx in range(pw // (8 * h_max)):
            for ci, (hi, vi) in enumerate(hv):
                for by in range(vi):
                    for bx in range(hi):
                        idx = (my * vi + by) * bcols[ci] + mx * hi + bx
                        prev[ci] = _encode_block(
                            bw, zz[ci][idx], prev[ci],
                            dc_codes[ci], ac_codes[ci],
                        )
    luma_hv = bytes([(hv[0][0] << 4) | hv[0][1]])
    data = bw.finish()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(ql.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + b"\x01" + luma_hv + b"\x00" + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALS_C))
    out += seg(0xFFC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALS_C))
    out += seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    out += data + b"\xff\xd9"
    return out


def decode_jpeg(b: bytes) -> np.ndarray:
    """General baseline decoder: (H, W) for grayscale, (H, W, 3) RGB for
    YCbCr color at 4:4:4 / 4:2:2 / 4:2:0 / 4:1:1 (any per-component
    sampling factors in {1,2,4}), with or without restart intervals
    (DRI/RSTn resynchronization). Progressive (SOF2) streams are
    delegated to decode_jpeg_progressive."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i = 2
    qt: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    dims = None
    comps: list[tuple[int, int]] = []  # (component id, quant table id)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc table, ac table)
    data_start = None
    restart_interval = 0
    while i < len(b):
        if b[i] != 0xFF:
            i += 1
            continue
        if i + 4 > len(b):
            raise ValueError("truncated JPEG stream")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        seg = b[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC0:
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit baseline")
            if ncomp not in (1, 3):
                raise NotImplementedError("1 or 3 components only")
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = hv >> 4, hv & 0x0F
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        "sampling factors beyond 4x4 not supported"
                    )
                comps.append((cid, hi, vi, tq))
            dims = (h, w)
        elif marker == 0xC2:
            return decode_jpeg_progressive(b)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise NotImplementedError("only baseline sequential (SOF0)")
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nval = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nval])
                (ac_tables if tc else dc_tables)[th] = _decode_table(bits, vals)
                j += 17 + nval
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            ns = seg[0]
            by_id = {cid: k for k, (cid, _hi, _vi, _tq) in enumerate(comps)}
            for c in range(ns):
                cid, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                scan.append((by_id[cid], tda >> 4, tda & 0x0F))
            data_start = i + 2 + ln
            break
        i += 2 + ln
    if dims is None or data_start is None:
        raise ValueError("missing SOF0/SOS")
    h, w = dims
    h_max = max(hi for _, hi, _, _ in comps)
    v_max = max(vi for _, _, vi, _ in comps)
    nmx = -(-w // (8 * h_max))  # MCUs across
    nmy = -(-h // (8 * v_max))
    # restart intervals: entropy data is split at RSTn markers into
    # independently byte-aligned segments with fresh DC predictors. A
    # real 0xFF in entropy data is always stuffed (FF 00), so FF D0-D7
    # is unambiguously a restart marker.
    if restart_interval:
        import re as _re

        segments = _re.split(b"\xff[\xd0-\xd7]", b[data_start:])
    else:
        segments = [b[data_start:]]
    seg_iter = iter(segments)
    br = _BitReader(next(seg_iter))
    # per-component block grids: (block_rows, block_cols, 64)
    grids = [
        np.zeros((nmy * vi, nmx * hi, 64), dtype=np.int64)
        for _, hi, vi, _ in comps
    ]
    prev = [0] * len(comps)
    mcu_no = 0
    for my in range(nmy):
        for mx in range(nmx):
            if restart_interval and mcu_no and mcu_no % restart_interval == 0:
                try:
                    br = _BitReader(next(seg_iter))
                except StopIteration:
                    raise ValueError("missing restart marker") from None
                prev = [0] * len(comps)
            mcu_no += 1
            for ci, td, ta in scan:
                _, hi, vi, _ = comps[ci]
                for by in range(vi):
                    for bx in range(hi):
                        blk = grids[ci][my * vi + by, mx * hi + bx]
                        s = _read_code(br, dc_tables[td])
                        prev[ci] += _extend(br.take(s), s)
                        blk[0] = prev[ci]
                        k = 1
                        while k < 64:
                            sym = _read_code(br, ac_tables[ta])
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            run, s = sym >> 4, sym & 0x0F
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[k] = _extend(br.take(s), s)
                            k += 1
    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        brows, bcols, _ = grids[ci].shape
        blocks = (
            grids[ci].reshape(-1, 64)[:, UNZIGZAG].reshape(-1, 8, 8) * qt[tq]
        ).astype(np.float64)
        spatial = np.einsum("xu,buv,yv->bxy", _M.T, blocks, _M.T) + 128.0
        plane = (
            spatial.reshape(brows, bcols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(brows * 8, bcols * 8)
        )
        # crop to this component's true resolution, then upsample to full
        ch = -(-h * vi // v_max)
        cw = -(-w * hi // h_max)
        plane = plane[:ch, :cw]
        if vi != v_max or hi != h_max:
            plane = np.repeat(
                np.repeat(plane, v_max // vi, axis=0), h_max // hi, axis=1
            )[:h, :w]
        else:
            plane = plane[:h, :w]
        planes.append(plane)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    rgb = ycbcr_to_rgb(np.stack(planes, axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation.
#
# Real web JPEGs are very often progressive, so the decode gate mattered.
# Both directions are implemented from ITU T.81 Annex G (scan script and
# refinement semantics mirror libjpeg's standard progression) so the round
# trip is self-verifying: a progressive stream carries EXACTLY the same
# quantized coefficients as the baseline stream at the same quality, only
# re-ordered — decoded pixels must be bit-identical to the baseline decode.
# ---------------------------------------------------------------------------


def _entropy_end(b: bytes, pos: int) -> int:
    """First byte index >= pos where a non-stuffed, non-RST marker starts."""
    i = pos
    while i < len(b) - 1:
        if b[i] == 0xFF and b[i + 1] != 0x00 and not (0xD0 <= b[i + 1] <= 0xD7):
            return i
        i += 1
    return len(b)


def decode_jpeg_progressive(b: bytes) -> np.ndarray:
    """Decode a progressive (SOF2) JFIF stream: spectral selection +
    successive approximation, grayscale or YCbCr color, sampling
    factors in {1,2,4}, optional restart intervals. Coefficient grids accumulate across
    scans; IDCT runs once at the end, so the result is identical to a
    baseline decode of the same quantized coefficients."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i = 2
    qt: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    dims = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    restart_interval = 0
    scans = []  # (scan_comps, ss, se, ah, al, dc_snap, ac_snap, entropy, ri)
    while i < len(b):
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > len(b):
            raise ValueError("truncated JPEG stream")
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        seg = b[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC2:
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if ncomp not in (1, 3):
                raise NotImplementedError("1 or 3 components only")
            for c in range(ncomp):
                cid, hvb, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = hvb >> 4, hvb & 0x0F
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        "sampling factors beyond 4x4 not supported"
                    )
                comps.append((cid, hi, vi, tq))
            dims = (h, w)
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise ValueError("decode_jpeg_progressive needs SOF2")
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nval = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nval])
                (ac_tables if tc else dc_tables)[th] = _decode_table(bits, vals)
                j += 17 + nval
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            ns = seg[0]
            by_id = {cid: k for k, (cid, _h, _v, _t) in enumerate(comps)}
            scomps = []
            for c in range(ns):
                cid, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append((by_id[cid], tda >> 4, tda & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            data_start = i + 2 + ln
            data_end = _entropy_end(b, data_start)
            scans.append(
                (
                    scomps, ss, se, ahal >> 4, ahal & 0x0F,
                    dict(dc_tables), dict(ac_tables),
                    b[data_start:data_end], restart_interval,
                )
            )
            i = data_end
            continue
        i += 2 + ln
    if dims is None or not scans:
        raise ValueError("missing SOF2/SOS")
    h, w = dims
    h_max = max(hi for _, hi, _, _ in comps)
    v_max = max(vi for _, _, vi, _ in comps)
    nmx = -(-w // (8 * h_max))
    nmy = -(-h // (8 * v_max))
    grids = [
        np.zeros((nmy * vi, nmx * hi, 64), dtype=np.int64)
        for _, hi, vi, _ in comps
    ]

    for scomps, ss, se, ah, al, dct, act, data, ri in scans:
        if ri:
            import re as _re

            segments = _re.split(b"\xff[\xd0-\xd7]", data)
        else:
            segments = [data]
        seg_iter = iter(segments)
        br = _BitReader(next(seg_iter))
        eobrun = 0
        prev = [0] * len(comps)
        unit_no = 0

        def maybe_restart():
            nonlocal br, eobrun, prev, unit_no
            if ri and unit_no and unit_no % ri == 0:
                try:
                    br = _BitReader(next(seg_iter))
                except StopIteration:
                    raise ValueError("missing restart marker") from None
                eobrun = 0
                prev = [0] * len(comps)
            unit_no += 1

        if ss == 0:  # DC scan (interleaved over MCUs, or single component)
            if se != 0:
                raise ValueError("DC scan must have Se=0")
            if len(scomps) > 1 or len(comps) == 1:
                units = []
                for my in range(nmy):
                    for mx in range(nmx):
                        group = []
                        for ci, td, _ta in scomps:
                            _, hi, vi, _ = comps[ci]
                            for by in range(vi):
                                for bx in range(hi):
                                    group.append(
                                        (ci, td, my * vi + by, mx * hi + bx)
                                    )
                        units.append(group)
            else:
                ci, td, _ta = scomps[0]
                rows, cols = _true_block_grid(ci, comps, h, w, h_max, v_max)
                units = [
                    [(ci, td, by, bx)]
                    for by in range(rows)
                    for bx in range(cols)
                ]
            for group in units:
                maybe_restart()
                for ci, td, byy, bxx in group:
                    blk = grids[ci][byy, bxx]
                    if ah == 0:
                        s = _read_code(br, dct[td])
                        prev[ci] += _extend(br.take(s), s)
                        blk[0] = prev[ci] << al
                    else:
                        blk[0] |= br.take(1) << al
        else:  # AC scan: single component, non-interleaved
            if len(scomps) != 1:
                raise ValueError("progressive AC scan must be single-component")
            ci, _td, ta = scomps[0]
            tbl = act[ta]
            rows, cols = _true_block_grid(ci, comps, h, w, h_max, v_max)
            p1 = 1 << al
            for byy in range(rows):
                for bxx in range(cols):
                    maybe_restart()
                    blk = grids[ci][byy, bxx]
                    if ah == 0:  # first scan for this band
                        if eobrun > 0:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            sym = _read_code(br, tbl)
                            r, s = sym >> 4, sym & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.take(r)
                                break
                            k += r
                            if k > se:
                                raise ValueError("AC run past band end")
                            blk[k] = _extend(br.take(s), s) * p1
                            k += 1
                    else:  # refinement scan
                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                sym = _read_code(br, tbl)
                                r, s = sym >> 4, sym & 0x0F
                                val = 0
                                if s == 0:
                                    if r < 15:
                                        # NOTE: unlike the first-scan path,
                                        # no -1 here — the correction pass
                                        # below must still run for THIS
                                        # block (it decrements at the end)
                                        eobrun = 1 << r
                                        if r:
                                            eobrun += br.take(r)
                                        break
                                    # r == 15: ZRL — skip 16 zero-history
                                elif s == 1:
                                    val = p1 if br.take(1) else -p1
                                else:
                                    raise ValueError(
                                        "refinement symbol must have s<=1"
                                    )
                                while k <= se:
                                    coef = int(blk[k])
                                    if coef != 0:
                                        if br.take(1) and not (
                                            abs(coef) & p1
                                        ):
                                            blk[k] += p1 if coef > 0 else -p1
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val:
                                    if k > se:
                                        raise ValueError(
                                            "refinement run past band end"
                                        )
                                    blk[k] = val
                                k += 1
                        if eobrun > 0:
                            while k <= se:
                                coef = int(blk[k])
                                if coef != 0:
                                    if br.take(1) and not (abs(coef) & p1):
                                        blk[k] += p1 if coef > 0 else -p1
                                k += 1
                            eobrun -= 1

    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        brows, bcols, _ = grids[ci].shape
        blocks = (
            grids[ci].reshape(-1, 64)[:, UNZIGZAG].reshape(-1, 8, 8) * qt[tq]
        ).astype(np.float64)
        spatial = np.einsum("xu,buv,yv->bxy", _M.T, blocks, _M.T) + 128.0
        plane = (
            spatial.reshape(brows, bcols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(brows * 8, bcols * 8)
        )
        ch = -(-h * vi // v_max)
        cw = -(-w * hi // h_max)
        plane = plane[:ch, :cw]
        if vi != v_max or hi != h_max:
            plane = np.repeat(
                np.repeat(plane, v_max // vi, axis=0), h_max // hi, axis=1
            )[:h, :w]
        else:
            plane = plane[:h, :w]
        planes.append(plane)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    rgb = ycbcr_to_rgb(np.stack(planes, axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _true_block_grid(
    ci: int, comps, h: int, w: int, h_max: int, v_max: int
) -> tuple[int, int]:
    """Block grid of a component's TRUE resolution (non-interleaved scans
    iterate this, not the MCU-padded grid — T.81 A.2.2)."""
    _, hi, vi, _ = comps[ci]
    cw = -(-w * hi // h_max)
    ch = -(-h * vi // v_max)
    return -(-ch // 8), -(-cw // 8)
