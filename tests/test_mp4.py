"""MP4 container parsing: box-tree walk, sample-table assembly, content-
verified offsets, malformed-input behavior."""

from __future__ import annotations

import struct

import pytest

from logstream_processing_service_spark.operators import mp4box as M


def test_fixture_roundtrip_closed_form():
    for doc in (0, 7, 13, 255):
        b = M.synthetic_mp4(doc)
        idx = M.parse_sample_table(b)
        n = doc % 6 + 3
        assert len(idx) == n
        off, t = M.MDAT_DATA_OFFSET, 0
        for i, (si, o, s, pts) in enumerate(idx):
            assert si == i and o == off and pts == t
            assert s == 100 + (doc + i) % 50
            assert b[o] == (doc + i) % 256  # ranged read hits the frame
            off += s
            t += 33 + (i % 3)


def test_multi_sample_chunks_and_fixed_stsz():
    """The parser handles layouts our muxer doesn't emit: several samples
    per chunk (stsc runs) and fixed-size stsz."""
    frames = [bytes([i]) * 10 for i in range(6)]
    b = M.mux_mp4_frames(frames, [40] * 6)
    # rewrite stsc to 2 chunks × 3 samples and stco accordingly
    s, e = M._find(b, [b"moov", b"trak", b"mdia", b"minf", b"stbl"], 0, len(b))
    tables = {t: (bs, be) for t, bs, be in M._walk(b, s, e)}
    out = bytearray(b)
    bs, be = tables[b"stsc"]
    # our muxer writes one 1-sample-per-chunk run (16-byte payload after
    # version/flags); patch it in place to one 3-samples-per-chunk run —
    # the parser must then consume only the first 2 of the 6 stco chunks
    # (trailing chunk entries are simply never reached)
    assert be - bs == 20
    out[bs + 4 : be] = struct.pack(">IIII", 1, 1, 3, 1)
    bs, be = tables[b"stco"]
    chunk0 = M.MDAT_DATA_OFFSET
    chunk1 = M.MDAT_DATA_OFFSET + 30
    out[bs + 8 : bs + 16] = struct.pack(">II", chunk0, chunk1)
    idx = M.parse_sample_table(bytes(out))
    assert [(o, s) for _, o, s, _ in idx] == [
        (chunk0, 10), (chunk0 + 10, 10), (chunk0 + 20, 10),
        (chunk1, 10), (chunk1 + 10, 10), (chunk1 + 20, 10),
    ]


def test_malformed_inputs_raise():
    b = M.synthetic_mp4(3)
    with pytest.raises(ValueError):
        M.parse_sample_table(b[:40])
    with pytest.raises(ValueError):
        M.parse_sample_table(b"\x00\x00\x00\x01abcd")


def test_spark_frame_index(spark, sf_dir):
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    out = M.mp4_frame_index(M.with_synthetic_mp4_payload(docs)).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 40
    for d, rows in by_doc.items():
        assert len(rows) == d % 6 + 3
        for r in sorted(rows, key=lambda r: r["frame_idx"]):
            assert r["first_byte"] == (d + r["frame_idx"]) % 256


def test_co64_offsets_supported():
    """64-bit chunk offsets (co64) parse identically to stco — synthesize
    by rewriting the fixture's stco box into co64 in place (same total
    size: count 2 entries -> need payload growth, so rebuild moov)."""
    frames = [bytes([i + 1]) * 12 for i in range(3)]
    b = M.mux_mp4_frames(frames, [40, 40, 40])
    s, e = M._find(b, [b"moov", b"trak", b"mdia", b"minf", b"stbl"], 0, len(b))
    tables = {t: (bs, be) for t, bs, be in M._walk(b, s, e)}
    bs, be = tables[b"stco"]
    offs = [M.MDAT_DATA_OFFSET + 12 * i for i in range(3)]
    payload = struct.pack(">II", 0, 3) + b"".join(
        struct.pack(">Q", o) for o in offs
    )
    co64 = struct.pack(">I4s", len(payload) + 8, b"co64") + payload
    grow = len(co64) - (be - bs + 8)
    out = bytearray(b[: bs - 8] + co64 + b[be:])
    # patch every ancestor box length (moov/trak/mdia/minf/stbl) + none
    # after mdat moved (moov is last)
    for path in (
        [b"moov"],
        [b"moov", b"trak"],
        [b"moov", b"trak", b"mdia"],
        [b"moov", b"trak", b"mdia", b"minf"],
        [b"moov", b"trak", b"mdia", b"minf", b"stbl"],
    ):
        ps, pe = M._find(b, path, 0, len(b))
        old = struct.unpack(">I", b[ps - 8 : ps - 4])[0]
        out[ps - 8 : ps - 4] = struct.pack(">I", old + grow)
    idx = M.parse_sample_table(bytes(out))
    assert [(o, sz) for _, o, sz, _ in idx] == [(offs[i], 12) for i in range(3)]
    for i, (si, o, sz, _) in enumerate(idx):
        assert bytes(out)[o] == i + 1


def test_mjpeg_frames_decode_exactly(spark):
    """Every sample-table byte range is a REAL decodable JPEG; the
    decoded block-constant pixels match the closed form exactly."""
    import numpy as np

    from logstream_processing_service_spark.operators.jpegcodec import (
        decode_jpeg_gray,
    )
    from logstream_processing_service_spark.operators.mp4box import (
        parse_sample_table,
        synthetic_mjpeg_mp4,
    )

    for d in (0, 7, 13, 42):
        b = synthetic_mjpeg_mp4(d)
        st = parse_sample_table(b)
        assert len(st) == d % 4 + 2
        for idx, off, size, _pts in st:
            px = decode_jpeg_gray(b[off : off + size])
            assert px.shape == (16, 16)
            seed = (3 * d + 17 * idx) % 256
            bx = np.arange(2)
            by = np.arange(2)
            v = (3 * bx[None, :] + 7 * by[:, None] + seed) % 256
            exp = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
            assert np.array_equal(px, exp), (d, idx)
