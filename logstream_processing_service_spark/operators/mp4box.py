"""MP4 (ISO-BMFF) container parsing — frame index without any codec.

The MP4 half of the multimodal seam, closed at the honest level: frame
SAMPLING from video at corpus scale starts by reading the container's
sample tables (stts durations, stsz sizes, stsc chunk mapping, stco
offsets) and issuing ranged reads for the chosen frames — no codec
required until the bytes are actually decoded. That index machinery is
what `mp4_frame_index` implements, Arrow-batched, with a closed-form
oracle over deterministic fixtures; H.264/AV1 payload decode remains the
loudly-gated PIL/pyav seam (decode_media's video/mp4 branch).

Box format is length-prefixed big-endian (public ISO 14496-12); the
fixture muxer writes ftyp + mdat + moov with a minimal one-track stbl,
and the parser walks the real box tree (it reads any unfragmented
single-track file's tables, not just its own output).
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd

_FTYP = struct.pack(">I4s4sI4s4s", 24, b"ftyp", b"isom", 512, b"isom", b"mp41")
MDAT_DATA_OFFSET = len(_FTYP) + 8  # fixture layout: mdat follows ftyp


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I4s", len(payload) + 8, tag) + payload


def _full(tag: bytes, payload: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + payload)


def mux_mp4_frames(
    frames: list[bytes], durations: list[int], timescale: int = 1000
) -> bytes:
    """Minimal unfragmented single-track MP4: every frame is its own
    chunk (stsc 1:1), sizes in stsz, absolute offsets in stco."""
    assert len(frames) == len(durations)
    mdat = _box(b"mdat", b"".join(frames))
    offsets = []
    pos = MDAT_DATA_OFFSET
    for f in frames:
        offsets.append(pos)
        pos += len(f)
    total_dur = sum(durations)

    stts = _full(
        b"stts",
        struct.pack(">I", len(frames))
        + b"".join(struct.pack(">II", 1, d) for d in durations),
    )
    stsc = _full(b"stsc", struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _full(
        b"stsz",
        struct.pack(">II", 0, len(frames))
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = _full(
        b"stco",
        struct.pack(">I", len(offsets))
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stsd = _full(
        b"stsd",
        struct.pack(">I", 1)
        + _box(b"rawv", b"\x00" * 6 + struct.pack(">H", 1)),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = _box(
        b"dinf",
        _full(b"dref", struct.pack(">I", 1) + _full(b"url ", b"", flags=1)),
    )
    minf = _box(b"minf", _full(b"vmhd", b"\x00" * 8, flags=1) + dinf + stbl)
    mdhd = _full(
        b"mdhd", struct.pack(">IIIIHH", 0, 0, timescale, total_dur, 0x55C4, 0)
    )
    hdlr = _full(b"hdlr", struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"v\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, total_dur) + b"\x00" * 52,
        flags=7,
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, total_dur) + b"\x00" * 80,
    )
    moov = _box(b"moov", mvhd + trak)
    return _FTYP + mdat + moov


def _walk(b: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    i = start
    while i + 8 <= end:
        size, tag = struct.unpack(">I4s", b[i : i + 8])
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                raise ValueError("malformed MP4 box (truncated largesize)")
            size = struct.unpack(">Q", b[i + 8 : i + 16])[0]
        if size < 8 or i + size > end:
            raise ValueError("malformed MP4 box")
        yield tag, i + 8, i + size
        i += size


def _find(b: bytes, path: list[bytes], start: int, end: int) -> tuple[int, int]:
    tag, rest = path[0], path[1:]
    for t, s, e in _walk(b, start, end):
        if t == tag:
            return (s, e) if not rest else _find(b, rest, s, e)
    raise ValueError(f"box {b'/'.join(path).decode()} not found")


def parse_sample_table(b: bytes) -> list[tuple[int, int, int, int]]:
    """(sample_idx, byte_offset, n_bytes, pts_ticks) for every sample of
    the first track — the ranged-read plan for frame extraction."""
    s, e = _find(b, [b"moov", b"trak", b"mdia", b"minf", b"stbl"], 0, len(b))
    tables: dict[bytes, tuple[int, int]] = {}
    for t, bs, be in _walk(b, s, e):
        tables[t] = (bs, be)

    def full_payload(tag: bytes) -> bytes:
        bs, be = tables[tag]
        return b[bs + 4 : be]  # skip version/flags

    # stsz: sizes
    p = full_payload(b"stsz")
    fixed, n = struct.unpack(">II", p[:8])
    sizes = (
        [fixed] * n
        if fixed
        else list(struct.unpack(f">{n}I", p[8 : 8 + 4 * n]))
    )
    # stco (or co64): chunk offsets
    if b"stco" in tables:
        p = full_payload(b"stco")
        (nc,) = struct.unpack(">I", p[:4])
        chunk_off = list(struct.unpack(f">{nc}I", p[4 : 4 + 4 * nc]))
    else:
        p = full_payload(b"co64")
        (nc,) = struct.unpack(">I", p[:4])
        chunk_off = list(struct.unpack(f">{nc}Q", p[4 : 4 + 8 * nc]))
    # stsc: samples-per-chunk runs → expand to per-chunk counts
    p = full_payload(b"stsc")
    (ne,) = struct.unpack(">I", p[:4])
    runs = [
        struct.unpack(">III", p[4 + 12 * i : 16 + 12 * i]) for i in range(ne)
    ]
    per_chunk = []
    for r, (first, spc, _desc) in enumerate(runs):
        last = runs[r + 1][0] - 1 if r + 1 < len(runs) else nc
        per_chunk += [spc] * (last - first + 1)
    # stts: duration runs → per-sample pts
    p = full_payload(b"stts")
    (nr,) = struct.unpack(">I", p[:4])
    pts, t = [], 0
    for i in range(nr):
        cnt, dur = struct.unpack(">II", p[4 + 8 * i : 12 + 8 * i])
        for _ in range(cnt):
            pts.append(t)
            t += dur
    # assemble: walk chunks, samples laid out back-to-back within a chunk
    out = []
    si = 0
    for ci, coff in enumerate(chunk_off):
        pos = coff
        for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
            if si >= len(sizes):
                break
            out.append((si, pos, sizes[si], pts[si]))
            pos += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError("sample table inconsistent (stsc/stsz mismatch)")
    return out


# ---------------------------------------------------------------------------
# Deterministic fixture + Spark operator
# ---------------------------------------------------------------------------


def synthetic_mp4(doc_id: int) -> bytes:
    """n = doc%6+3 frames; frame i has size 100 + (doc+i)%50 bytes of the
    repeating pattern (doc+i)%256, duration 33+(i%3) ticks."""
    n = doc_id % 6 + 3
    frames = [
        bytes([(doc_id + i) % 256]) * (100 + (doc_id + i) % 50)
        for i in range(n)
    ]
    durations = [33 + (i % 3) for i in range(n)]
    return mux_mp4_frames(frames, durations)


def with_synthetic_mp4_payload(documents):
    from pyspark.sql import functions as F

    @F.pandas_udf("binary")
    def make(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(lambda d: synthetic_mp4(int(d)))

    return documents.select("doc_id", make(F.col("doc_id")).alias("payload"))


def mp4_frame_index(media) -> "pd.DataFrame":
    """Per-frame byte index from the real box tree; also verifies each
    frame's first payload byte (a ranged read) so the offsets are proven
    against content, not just arithmetic."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for si, off, size, pts in parse_sample_table(b):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": si,
                            "byte_off": off,
                            "n_bytes": size,
                            "pts_ticks": pts,
                            "first_byte": b[off],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "byte_off", "n_bytes",
                    "pts_ticks", "first_byte",
                ],
            )

    return media.mapInPandas(
        run,
        "doc_id bigint, frame_idx int, byte_off bigint, n_bytes bigint, "
        "pts_ticks bigint, first_byte int",
    )


def synthetic_mjpeg_mp4(doc_id: int) -> bytes:
    """A REAL Motion-JPEG video: n = doc%4+2 frames, each a genuine
    16×16 block-constant JPEG at quality 100 (DC-only → decode exact),
    frame i's block (bx, by) = (3·bx + 7·by + (3·doc + 17·i) % 256) % 256.
    Every frame byte range in the sample table is a decodable JPEG — the
    fixture that makes video CODEC decode verifiable, not just container
    parsing."""
    from .jpegcodec import synthetic_jpeg_blocks

    n = doc_id % 4 + 2
    frames = [
        synthetic_jpeg_blocks(16, 16, (3 * doc_id + 17 * i) % 256)
        for i in range(n)
    ]
    durations = [33 + (i % 3) for i in range(n)]
    return mux_mp4_frames(frames, durations)


def with_mjpeg_mp4_payload(documents):
    from pyspark.sql import functions as F

    from .jpegcodec import _spread_doc_ids

    @F.pandas_udf("binary")
    def make(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(lambda d: synthetic_mjpeg_mp4(int(d)))

    return _spread_doc_ids(documents).select(
        "doc_id", make(F.col("doc_id")).alias("payload")
    )


def mjpeg_frame_stats(media) -> "DataFrame":
    """REAL video frame decode: walk the ISO-BMFF sample table, ranged-read
    every frame's bytes, decode each with the native JPEG codec, and emit
    per-frame pixel statistics — Motion-JPEG (a codec real capture
    pipelines produce) end to end: container → sample ranges → entropy
    decode → pixels. H.264/AV1 remain the honest pyav gate; this proves
    the video LANE (per-frame decode plumbing, batching, stats) on a
    codec this repo implements natively.

    Scale shape: Arrow-batched mapInPandas, no shuffle; one output row
    per frame."""
    import pandas as pd_
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from .jpegcodec import decode_jpeg_gray

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("n_px", LongType()),
            StructField("mean_px", DoubleType()),
            StructField("min_px", IntegerType()),
            StructField("max_px", IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for idx, off, size, _pts in parse_sample_table(b):
                    px = decode_jpeg_gray(b[off : off + size])
                    rows.append(
                        (
                            int(doc_id),
                            int(idx),
                            int(px.size),
                            round(float(px.astype("float64").mean()), 6),
                            int(px.min()),
                            int(px.max()),
                        )
                    )
            yield pd_.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "n_px",
                    "mean_px", "min_px", "max_px",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(run, schema)
