"""Native GIF87a/89a decode: container walk + GIF-variant LZW + interlace
+ multi-frame compositing — the third real image/video lane next to the
PNG (multimodal.py) and JPEG/MJPEG (jpegcodec.py, mp4box.py) codecs,
implemented purely from the public GIF89a specification.

Reference parity note: the reference service stores media as opaque
blobs at most (no decode anywhere); these lanes are the north-star
multimodal extension — byte-correct decode proven against analytic
oracles, with the PIL/pyav import gate documented as the production
swap (same trade as jpegcodec.py: the pure-Python entropy decode is the
price of verifiable correctness in this container, not the deployment
plan).

What is implemented (all from the spec, no library references):
- Logical Screen Descriptor + global/local color tables.
- Extension blocks: Graphic Control (disposal method, transparency
  index honored), others skipped structurally.
- Image descriptors incl. INTERLACED images (the 8/8, 8/4, 4/2, 2/1
  four-pass row order) and frames smaller than the canvas.
- GIF-variant LZW: variable code width mcs+1..12 bits packed
  LSB-FIRST, CLEAR / EOI codes, the KwKwK self-reference case, width
  bump when the next table slot reaches 2^width, table reset at 4096
  (deferred-clear tolerated on decode).
- Animation compositing with disposal methods 0/1 (leave) and
  2 (restore to background); per-frame canvas snapshots.

Correctness strategy (tests/test_gif.py): TWO independent encoders —
the real greedy-LZW compressor and a clear-heavy fixed-width encoder
that never grows the table (trivially spec-correct) — must round-trip
identical pixels through the one decoder, across table-growth,
table-reset, interlace, and sub-block boundaries; hypothesis fuzzes the
pixel streams. The Spark-facing stats operator is oracle-paired by the
analytic synthetic frames (the mjpeg_frame_pixel_stats recipe).

Scale: decode runs inside Arrow-batched mapInPandas over the payload
column — embarrassingly parallel, zero shuffle; stats aggregate at the
(doc, frame) grain.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GIF_MAX_CODE_WIDTH = 12


# ---------------------------------------------------------------------------
# LZW (GIF variant)
# ---------------------------------------------------------------------------

class _BitWriter:
    """LSB-first bit packer (GIF packs the low bit of each code first)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int | None:
        while self.nbits < width:
            if self.pos >= len(self.data):
                return None
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return v


def lzw_encode(pixels: bytes, mcs: int) -> bytes:
    """Greedy LZW compressor, GIF semantics: emit CLEAR first; new table
    entries from EOI+1; output width grows as soon as a code REQUIRING
    the wider width exists in the table (the decoder builds the same
    entry one code earlier relative to its reads, so both sides bump at
    next_code == 2^width); table reset via CLEAR at 4096."""
    clear = 1 << mcs
    eoi = clear + 1
    bw = _BitWriter()

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            mcs + 1,
        )

    table, next_code, width = fresh()
    bw.write(clear, width)
    prefix = b""
    for b in pixels:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        bw.write(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) and width < GIF_MAX_CODE_WIDTH:
            width += 1
        elif next_code == (1 << GIF_MAX_CODE_WIDTH):
            bw.write(clear, width)
            table, next_code, width = fresh()
        prefix = bytes([b])
    if prefix:
        bw.write(table[prefix], width)
    bw.write(eoi, width)
    return bw.finish()


def lzw_decode(data: bytes, mcs: int, max_pixels: int | None = None) -> bytes:
    """GIF LZW decoder: handles CLEAR/EOI, the KwKwK case (code ==
    next_code), width bump at next_code == 2^width, deferred clears."""
    clear = 1 << mcs
    eoi = clear + 1
    br = _BitReader(data)
    out = bytearray()

    def fresh() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], mcs + 1

    table, width = fresh()
    prev: bytes | None = None
    while True:
        code = br.read(width)
        if code is None or code == eoi:
            break
        if code == clear:
            table, width = fresh()
            prev = None
            continue
        if code < len(table) and code != eoi:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out.extend(entry)
        if prev is not None and len(table) < (1 << GIF_MAX_CODE_WIDTH):
            table.append(prev + entry[:1])
            # the decoder's table add lags the encoder's by exactly one
            # code (the encoder adds entry #k while EMITTING code #k; the
            # decoder adds it after READING code #k+1), so the decoder
            # must widen one slot early to read the first (w+1)-bit code
            # at the right width
            if (
                len(table) == (1 << width) - 1
                and width < GIF_MAX_CODE_WIDTH
            ):
                width += 1
        prev = entry
        if max_pixels is not None and len(out) >= max_pixels:
            break
    return bytes(out)


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace_rows(height: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, height, step))
    return order


def _sub_blocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        n = buf[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out.extend(buf[pos : pos + n])
        pos += n


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    interlace_odd: bool = False,
    disposal: int = 1,
    encoder=lzw_encode,
) -> bytes:
    """Minimal GIF89a writer for the synthetic lanes: full 256-entry
    global palette, one Graphic Control + Image Descriptor per frame,
    optional interlacing on odd frames (decode must undo it)."""
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # global table, 8-bit, 256 entries
    out += palette.astype(np.uint8).tobytes()
    for i, fr in enumerate(frames):
        out += bytes([0x21, 0xF9, 4, (disposal & 7) << 2, 4, 0, 0, 0])
        interlaced = interlace_odd and (i % 2 == 1)
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlaced else 0])
        px = fr
        if interlaced:
            px = fr[_deinterlace_rows(h), :]
        data = encoder(px.astype(np.uint8).tobytes(), 8)
        out += bytes([8])
        for j in range(0, len(data), 255):
            chunk = data[j : j + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif(b: bytes) -> tuple[list[np.ndarray], np.ndarray]:
    """Decode every frame to the COMPOSITED canvas state (palette
    indices), honoring disposal 0/1 (leave) and 2 (restore background).
    Returns (canvas snapshots, palette[256,3])."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", b[6:10])
    flags, bg = b[10], b[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    canvas = np.full((h, w), bg, dtype=np.uint8)
    frames: list[np.ndarray] = []
    disposal = 0
    transparent: int | None = None
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:
            break
        if marker == 0x21:  # extension
            label = b[pos]
            pos += 1
            data, pos = _sub_blocks(b, pos)
            if label == 0xF9 and len(data) >= 4:
                disposal = (data[0] >> 2) & 7
                transparent = data[3] if data[0] & 1 else None
            continue
        if marker != 0x2C:
            raise ValueError(f"unexpected block 0x{marker:02x}")
        left, top, fw, fh = struct.unpack("<HHHH", b[pos : pos + 8])
        lflags = b[pos + 8]
        pos += 9
        table = gct
        if lflags & 0x80:
            n = 2 << (lflags & 7)
            table = np.frombuffer(
                b[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("no color table")
        mcs = b[pos]
        pos += 1
        data, pos = _sub_blocks(b, pos)
        px = np.frombuffer(
            lzw_decode(data, mcs, max_pixels=fw * fh), dtype=np.uint8
        )[: fw * fh].reshape(fh, fw)
        if lflags & 0x40:  # interlaced: rows arrive in pass order
            ordered = np.empty_like(px)
            ordered[_deinterlace_rows(fh), :] = px
            px = ordered
        region = canvas[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = px != transparent
            region[mask] = px[mask]
        else:
            region[:, :] = px
        frames.append(canvas.copy())
        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = bg
        # GIF89a: a Graphic Control Extension applies ONLY to the image
        # that immediately follows it — a frame without its own GCE must
        # not inherit the previous frame's transparency/disposal
        disposal = 0
        transparent = None
    pal = gct if gct is not None else np.zeros((256, 3), np.uint8)
    if pal.shape[0] < 256:
        pal = np.vstack([pal, np.zeros((256 - pal.shape[0], 3), np.uint8)])
    return frames, pal


# ---------------------------------------------------------------------------
# Synthetic lane + Spark stats operator (the mjpeg analytic-oracle recipe)
# ---------------------------------------------------------------------------

GIF_W = GIF_H = 16


def _analytic_palette() -> np.ndarray:
    i = np.arange(256)
    return np.stack([i % 256, (2 * i) % 256, (5 * i) % 256], axis=1).astype(
        np.uint8
    )


def _analytic_frame(doc_id: int, i: int) -> np.ndarray:
    y, x = np.mgrid[0:GIF_H, 0:GIF_W]
    return ((3 * x + 7 * y + 11 * i + doc_id) % 256).astype(np.uint8)


def synthetic_gif(doc_id: int) -> bytes:
    """doc_id % 3 + 2 analytic frames; odd frames interlaced so the
    oracle implicitly proves the deinterlacer (pixel stats would shift
    if rows landed in pass order)."""
    n = doc_id % 3 + 2
    frames = [_analytic_frame(doc_id, i) for i in range(n)]
    return encode_gif(frames, _analytic_palette(), interlace_odd=True)


def with_synthetic_gif_payload(documents: DataFrame) -> DataFrame:
    from .jpegcodec import _spread_doc_ids

    @F.pandas_udf("binary")
    def make(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(lambda d: synthetic_gif(int(d)))

    return _spread_doc_ids(documents).select(
        "doc_id", make(F.col("doc_id")).alias("payload")
    )


def gif_frame_pixel_stats(media: DataFrame) -> DataFrame:
    """Per-frame palette-mapped channel means + index extrema over REAL
    GIF decode (container walk → LZW → deinterlace → composite →
    palette lookup). Arrow-batched mapInPandas: zero shuffle; output is
    (doc, frame)-grain."""
    schema = (
        "doc_id bigint, frame_idx int, n_px bigint, "
        "mean_r double, mean_g double, mean_b double, "
        "min_idx int, max_idx int"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, pal = decode_gif(bytes(payload))
                for i, fr in enumerate(frames):
                    rgb = pal[fr]
                    n = fr.size
                    rows.append(
                        (
                            int(doc_id),
                            i,
                            n,
                            round(int(rgb[:, :, 0].sum()) / n, 6),
                            round(int(rgb[:, :, 1].sum()) / n, 6),
                            round(int(rgb[:, :, 2].sum()) / n, 6),
                            int(fr.min()),
                            int(fr.max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "n_px", "mean_r", "mean_g",
                    "mean_b", "min_idx", "max_idx",
                ],
            )

    return media.mapInPandas(run, schema=schema)


def gif_frame_stats_oracle_sql() -> str:
    """Analytic twin: recompute every synthetic frame's palette-mapped
    pixels from (doc_id, frame, x, y) directly in SQL. Channel means
    divide exact integer sums by the pixel count — bit-identical to the
    decoder's numpy-int path."""
    return f"""
    WITH f AS (
        SELECT doc_id, unnest(range(0, doc_id % 3 + 2)) AS i
        FROM documents
    ),
    px AS (
        SELECT doc_id, i,
               (3 * x + 7 * y + 11 * i + doc_id) % 256 AS v
        FROM f,
             unnest(range(0, {GIF_W})) AS t1(x),
             unnest(range(0, {GIF_H})) AS t2(y)
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST({GIF_W * GIF_H} AS BIGINT) AS n_px,
           round(CAST(sum(v % 256) AS DOUBLE) / {GIF_W * GIF_H}, 6)
               AS mean_r,
           round(CAST(sum((2 * v) % 256) AS DOUBLE) / {GIF_W * GIF_H}, 6)
               AS mean_g,
           round(CAST(sum((5 * v) % 256) AS DOUBLE) / {GIF_W * GIF_H}, 6)
               AS mean_b,
           CAST(min(v) AS INT) AS min_idx,
           CAST(max(v) AS INT) AS max_idx
    FROM px GROUP BY doc_id, i
    ORDER BY doc_id, frame_idx
    """
