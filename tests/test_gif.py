"""GIF lane (operators/gifcodec.py): LZW round-trips through TWO
independent encoders, the canonical 1x1-transparent-pixel fixture,
interlace/disposal/partial-frame semantics, and the analytic-oracle
rehearsal for the r7 candidate `gif_frame_pixel_stats`."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logstream_processing_service_spark.operators.gifcodec import (
    _analytic_frame,
    _analytic_palette,
    _BitWriter,
    decode_gif,
    encode_gif,
    gif_frame_pixel_stats,
    gif_frame_stats_oracle_sql,
    lzw_decode,
    lzw_encode,
    synthetic_gif,
    with_synthetic_gif_payload,
)

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------


def lzw_encode_uncompressed(pixels: bytes, mcs: int) -> bytes:
    """Independent second encoder: literal codes only at FIXED width
    mcs+1, with a CLEAR before the decoder's table could force a width
    bump (next_code reaches 2^(mcs+1)). Trivially spec-correct — used to
    cross-validate the decoder against lzw_encode."""
    clear = 1 << mcs
    eoi = clear + 1
    width = mcs + 1
    # decoder starts next_code at eoi+1 and adds one entry per code
    # AFTER the first; stay strictly below the early-widen threshold
    # (2^width - 1 table slots)
    budget = (1 << width) - (eoi + 1) - 3
    bw = _BitWriter()
    bw.write(clear, width)
    since_clear = 0
    for b in pixels:
        if since_clear > budget:
            bw.write(clear, width)
            since_clear = 0
        bw.write(b, width)
        since_clear += 1
    bw.write(eoi, width)
    return bw.finish()


@pytest.mark.parametrize("encoder", [lzw_encode, lzw_encode_uncompressed])
@pytest.mark.parametrize(
    "n,alphabet", [(1, 2), (300, 7), (3000, 251), (80_000, 251)]
)
def test_lzw_roundtrip_through_growth_and_reset(encoder, n, alphabet):
    """80k random pixels force the table to 12 bits and through at least
    one CLEAR reset; both encoders must round-trip byte-identically
    through the one decoder (mutual consistency: the fixed-width
    encoder never reaches a width bump, so it cross-checks the growth
    arithmetic of the greedy one)."""
    import random

    rng = random.Random(n * 31 + alphabet)
    px = bytes(rng.randrange(alphabet) for _ in range(n))
    assert lzw_decode(encoder(px, 8), 8) == px


@settings(max_examples=40, deadline=None)
@given(
    st.binary(min_size=1, max_size=4000),
    st.integers(min_value=2, max_value=8),
)
def test_lzw_fuzz_roundtrip(data, mcs):
    px = bytes(b % (1 << mcs) for b in data)
    assert lzw_decode(lzw_encode(px, mcs), mcs) == px
    assert lzw_decode(lzw_encode_uncompressed(px, mcs), mcs) == px


def test_onepixel_transparent_fixture_decodes():
    """The canonical 43-byte 1x1 transparent GIF (an external
    ground-truth vector for header layout, LSB-first packing, CLEAR/EOI
    and the GCE transparency flag)."""
    onepx = bytes(
        [0x47, 0x49, 0x46, 0x38, 0x39, 0x61, 1, 0, 1, 0, 0x80, 0, 0,
         0, 0, 0, 0xFF, 0xFF, 0xFF,
         0x21, 0xF9, 4, 1, 0, 0, 0, 0,
         0x2C, 0, 0, 0, 0, 1, 0, 1, 0, 0, 2, 2, 0x44, 0x01, 0, 0x3B]
    )
    frames, pal = decode_gif(onepx)
    assert len(frames) == 1 and frames[0].shape == (1, 1)
    assert frames[0][0, 0] == 0  # transparent over background 0
    assert tuple(pal[1]) == (255, 255, 255)


# ---------------------------------------------------------------------------
# container semantics
# ---------------------------------------------------------------------------

def test_interlaced_frames_decode_identically():
    pal = _analytic_palette()
    fr = _analytic_frame(9, 0)
    plain = decode_gif(encode_gif([fr, fr], pal, interlace_odd=False))[0]
    inter = decode_gif(encode_gif([fr, fr], pal, interlace_odd=True))[0]
    assert (plain[0] == fr).all() and (plain[1] == fr).all()
    assert (inter[0] == fr).all() and (inter[1] == fr).all()


def test_disposal_2_restores_background():
    """Frame 1 draws indices 7 everywhere with disposal 2: frame 2's
    canvas must start from background 0, not from frame 1."""
    pal = _analytic_palette()
    f1 = np.full((16, 16), 7, np.uint8)
    f2 = np.zeros((16, 16), np.uint8)
    f2[0, 0] = 3
    frames, _ = decode_gif(encode_gif([f1, f2], pal, disposal=2))
    assert frames[0][5, 5] == 7
    assert frames[1][5, 5] == 0 and frames[1][0, 0] == 3


def test_gce_applies_only_to_the_next_image():
    """GIF89a: a Graphic Control Extension governs ONLY the image that
    immediately follows it (ADVICE r6). Frame 1 carries a GCE with
    transparency index 7 and disposal 2; frame 2 has NO GCE of its own,
    so its 7-valued pixels must render opaque and its disposal must be
    0 (leave), not inherited from frame 1."""
    import struct

    pal = _analytic_palette()
    f1 = np.full((16, 16), 9, np.uint8)
    f2 = np.full((16, 16), 7, np.uint8)  # 7 = frame 1's transparent idx
    f3 = np.full((16, 16), 3, np.uint8)

    def img(fr):
        data = lzw_encode(fr.tobytes(), 8)
        out = b"\x2c" + struct.pack("<HHHH", 0, 0, 16, 16) + bytes([0, 8])
        for j in range(0, len(data), 255):
            chunk = data[j : j + 255]
            out += bytes([len(chunk)]) + chunk
        return out + b"\x00"

    head = encode_gif([f1], pal, disposal=2)[:-1]  # frame 1 + its GCE
    # patch frame 1's GCE: transparency flag on, index 7. encode_gif
    # writes it at the fixed offset header(13) + global palette(768)
    gce = 13 + 3 * 256
    assert head[gce : gce + 3] == bytes([0x21, 0xF9, 4])
    head = bytearray(head)
    head[gce + 3] |= 1  # transparency flag (disposal bits already 2)
    head[gce + 6] = 7  # transparent index
    b = bytes(head) + img(f2) + img(f3) + b"\x3b"

    frames, _ = decode_gif(b)
    assert len(frames) == 3
    # frame 2's 7s are OPAQUE (no inherited transparency): the canvas
    # shows 7 everywhere, not frame-1 remnants / restored background
    assert (frames[1] == 7).all()
    # frame 2's disposal is 0 (leave), not inherited 2 (restore bg):
    # a bug would clear to background before frame 3 — invisible here
    # since frame 3 paints fully, but frame 3 must start from 7s and
    # end all-3s either way
    assert (frames[2] == 3).all()


def test_partial_frame_composites_onto_canvas():
    """A 4x4 patch at (6, 2) over a full first frame: outside the patch
    the canvas keeps frame 1's pixels (disposal 1 = leave)."""
    import struct

    pal = _analytic_palette()
    f1 = np.full((16, 16), 9, np.uint8)
    full = encode_gif([f1], pal, disposal=1)
    patch = np.full((4, 4), 5, np.uint8)
    body = full[:-1]  # drop trailer
    data = lzw_encode(patch.tobytes(), 8)
    blk = (
        bytes([0x21, 0xF9, 4, 1 << 2, 4, 0, 0, 0])
        + b"\x2c" + struct.pack("<HHHH", 6, 2, 4, 4) + bytes([0])
        + bytes([8, len(data)]) + data + b"\x00"
    )
    frames, _ = decode_gif(body + blk + b"\x3b")
    assert len(frames) == 2
    assert frames[1][2, 6] == 5 and frames[1][5, 9] == 5  # the patch
    assert frames[1][0, 0] == 9 and frames[1][15, 15] == 9  # kept


def test_synthetic_gif_frames_match_analytic():
    for doc_id in (0, 1, 2, 7, 42):
        frames, pal = decode_gif(synthetic_gif(doc_id))
        assert len(frames) == doc_id % 3 + 2
        for i, fr in enumerate(frames):
            assert (fr == _analytic_frame(doc_id, i)).all(), (doc_id, i)
        assert (pal == _analytic_palette()).all()


# ---------------------------------------------------------------------------
# Spark operator vs analytic oracle (driver-harness rehearsal)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_gif_frame_stats_hash_matches_oracle(spark, sf_dir):
    from logstream_processing_service_spark.sources import load_table

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark,
        con,
        "gif_frame_pixel_stats",
        lambda s, sf: gif_frame_pixel_stats(
            with_synthetic_gif_payload(load_table(s, sf, "documents"))
        ).orderBy("doc_id", "frame_idx"),
        gif_frame_stats_oracle_sql(),
        sf_dir,
    )
    assert r["status"] == "OK", r
