"""Progressive JFIF (SOF2) encoder for the JPEG decoder tests.

The package decodes progressive streams (``jpegcodec.decode_jpeg_progressive``)
but never writes one, so the encoder that makes progressive test images lives
here with the tests that use it: it shares the baseline encoder's quantized
coefficients, so decode parity with the baseline stream is exact.
"""

from __future__ import annotations

import struct

import numpy as np

from logstream_processing_service_spark.operators.jpegcodec import (
    DC_BITS,
    DC_BITS_C,
    DC_VALS,
    DC_VALS_C,
    QUANT_CHROMA,
    SUBSAMPLING_LAYOUTS,
    ZIGZAG,
    _BitWriter,
    _canonical_codes,
    _component_blocks,
    _magnitude,
    _prep_color_planes,
    scaled_quant,
)


def _optimal_table(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Optimal length-limited Huffman table per T.81 K.2/K.3 (the
    jpeg_gen_optimal_table algorithm): returns (BITS[16], HUFFVAL).
    Progressive scans NEED this — EOBn symbols aren't in the Annex-K
    baseline tables, which is why every real progressive encoder runs
    two-pass with optimized tables."""
    freq = [0] * 257
    for s, f in freqs.items():
        freq[s] = f
    freq[256] = 1  # reserved: guarantees no all-ones code
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1, v = -1, 10**18
        for i in range(257):
            if 0 < freq[i] <= v:
                v, c1 = freq[i], i
        c2, v = -1, 10**18
        for i in range(257):
            if 0 < freq[i] <= v and i != c1:
                v, c2 = freq[i], i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    for ln in range(32, 16, -1):  # length-limit to 16 (K.3)
        while bits[ln] > 0:
            j = ln - 2
            while bits[j] == 0:
                j -= 1
            bits[ln] -= 2
            bits[ln - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    ln = 16
    while bits[ln] == 0:
        ln -= 1
    bits[ln] -= 1  # drop the reserved symbol's slot
    syms = sorted(
        (s for s in range(256) if codesize[s]),
        key=lambda s: (codesize[s], s),
    )
    return bits[1:17], syms


class _SymStream:
    """Two-pass scan encoding: first collect (symbol | raw-bit) ops and
    symbol frequencies, then serialize with the optimal table."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []
        self.freq: dict[int, int] = {}

    def sym(self, s: int) -> None:
        self.ops.append(("s", s))
        self.freq[s] = self.freq.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        if n:
            self.ops.append(("b", v, n))

    def serialize(self) -> tuple[list[int], list[int], bytes]:
        bits, vals = _optimal_table(self.freq)
        codes = _canonical_codes(bits, vals)
        bw = _BitWriter()
        for op in self.ops:
            if op[0] == "s":
                c, ln = codes[op[1]]
                bw.put(c, ln)
            else:
                bw.put(op[1], op[2])
        return bits, vals, bw.finish()


class _ProgEncoder:
    """Entropy state for one progressive scan: pending EOB run and
    buffered correction bits (flushed together, per T.81 G.1.2.3)."""

    def __init__(self, stream: _SymStream) -> None:
        self.st = stream
        self.eobrun = 0
        self.pending: list[int] = []

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.st.sym(r << 4)
            if r:
                self.st.bits(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for bit in self.pending:
            self.st.bits(bit, 1)
        self.pending = []


def _encode_ac_first(enc: _ProgEncoder, band: np.ndarray, al: int) -> None:
    """One block of an AC first scan (Ah=0): run-length over the point-
    transformed band, EOB folded into the shared EOB run."""
    vals = [
        (abs(int(v)) >> al) * (1 if v >= 0 else -1) for v in band
    ]
    nz = [k for k, v in enumerate(vals) if v != 0]
    if not nz:
        enc.eobrun += 1
        if enc.eobrun == 0x7FFF:
            enc.flush_eobrun()
        return
    enc.flush_eobrun()
    run = 0
    for k in range(nz[-1] + 1):
        v = vals[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            enc.st.sym(0xF0)
            run -= 16
        s, bits = _magnitude(v)
        enc.st.sym((run << 4) | s)
        enc.st.bits(bits, s)
        run = 0
    if nz[-1] < len(band) - 1:
        enc.eobrun += 1
        if enc.eobrun == 0x7FFF:
            enc.flush_eobrun()


def _encode_ac_refine(enc: _ProgEncoder, band: np.ndarray, al: int) -> None:
    """One block of an AC refinement scan (Ah=Al+1): newly-nonzero
    coefficients as (run,1) symbols, history coefficients as buffered
    correction bits (libjpeg encode_mcu_AC_refine)."""
    absv = [abs(int(v)) >> al for v in band]
    eob = 0
    for k, t in enumerate(absv):
        if t == 1:
            eob = k
    run = 0
    br_bits: list[int] = []
    for k, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            enc.flush_eobrun()
            enc.st.sym(0xF0)
            run -= 16
            for bit in br_bits:
                enc.st.bits(bit, 1)
            br_bits = []
        if t > 1:  # history coefficient: correction bit
            br_bits.append(t & 1)
            continue
        # newly nonzero (t == 1): flush EOB run, emit (run, 1) + sign
        enc.flush_eobrun()
        enc.st.sym((run << 4) | 1)
        enc.st.bits(0 if band[k] < 0 else 1, 1)
        for bit in br_bits:
            enc.st.bits(bit, 1)
        br_bits = []
        run = 0
    if run > 0 or br_bits:
        enc.eobrun += 1
        enc.pending.extend(br_bits)
        if enc.eobrun == 0x7FFF:
            enc.flush_eobrun()


def encode_jpeg_progressive(
    pixels: np.ndarray, quality: int = 100, subsampling: str = "444"
) -> bytes:
    """Progressive JFIF (SOF2), grayscale (H, W) or RGB (H, W, 3) at 4:4:4
    or 4:2:0 — libjpeg's standard scan script (interleaved DC with one
    refinement pass; luma AC split 1-5 / 6-63 at Al=2 with two refinement
    passes; chroma full-band at Al=1 with one). Coefficients equal the
    baseline encoder's at the same quality, so decode parity with the
    baseline stream is exact."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    gray = pixels.ndim == 2
    if subsampling not in SUBSAMPLING_LAYOUTS:
        raise ValueError(f"subsampling must be one of {sorted(SUBSAMPLING_LAYOUTS)}")
    ql = scaled_quant(quality)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qc = np.clip((QUANT_CHROMA * scale + 50) // 100, 1, 255).astype(np.int64)

    # per-component zigzag coefficient grids: (block_rows, block_cols, 64)
    if gray:
        h, w = pixels.shape
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        plane = np.pad(pixels, ((0, ph - h), (0, pw - w)), mode="edge")
        grids = [
            _component_blocks(plane.astype(np.float64), ql).reshape(
                ph // 8, pw // 8, 64
            )
        ]
        hv = [(1, 1)]
        quants = [ql]
    else:
        h, w, _ = pixels.shape
        srcs, hv, ph, pw = _prep_color_planes(pixels, subsampling)
        quants = [ql, qc, qc]
        grids = [
            _component_blocks(p, q).reshape(p.shape[0] // 8, p.shape[1] // 8, 64)
            for p, q in zip(srcs, quants)
        ]
    h_max = max(x for x, _ in hv)
    v_max = max(y for _, y in hv)
    nmx, nmy = pw // (8 * h_max), ph // (8 * v_max)

    dc_codes = [_canonical_codes(DC_BITS, DC_VALS)] + (
        [] if gray else [_canonical_codes(DC_BITS_C, DC_VALS_C)] * 2
    )

    def dc_first_scan(al: int) -> bytes:
        bw = _BitWriter()
        prev = [0] * len(grids)
        for my in range(nmy):
            for mx in range(nmx):
                for ci, (hi, vi) in enumerate(hv):
                    for by in range(vi):
                        for bx in range(hi):
                            v = int(grids[ci][my * vi + by, mx * hi + bx, 0])
                            t = v >> al  # arithmetic shift (T.81 G.1.2.1)
                            s, bits = _magnitude(t - prev[ci])
                            c, ln = dc_codes[ci][s]
                            bw.put(c, ln)
                            if s:
                                bw.put(bits, s)
                            prev[ci] = t
        return bw.finish()

    def dc_refine_scan(al: int) -> bytes:
        bw = _BitWriter()
        for my in range(nmy):
            for mx in range(nmx):
                for ci, (hi, vi) in enumerate(hv):
                    for by in range(vi):
                        for bx in range(hi):
                            v = int(grids[ci][my * vi + by, mx * hi + bx, 0])
                            bw.put((v >> al) & 1, 1)
        return bw.finish()

    def comp_true_grid(ci: int) -> tuple[int, int]:
        hi, vi = hv[ci]
        cw = -(-w * hi // h_max)
        ch = -(-h * vi // v_max)
        return -(-ch // 8), -(-cw // 8)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def ac_scan(ci: int, ss: int, se: int, ah: int, al: int) -> bytes:
        """One AC scan: two-pass encode with a per-scan OPTIMAL Huffman
        table (EOBn symbols aren't in the Annex-K baseline tables), the
        DHT emitted immediately before its SOS — the layout every real
        progressive encoder produces."""
        st = _SymStream()
        enc = _ProgEncoder(st)
        rows, cols = comp_true_grid(ci)
        for by in range(rows):
            for bx in range(cols):
                band = grids[ci][by, bx, ss : se + 1]
                if ah == 0:
                    _encode_ac_first(enc, band, al)
                else:
                    _encode_ac_refine(enc, band, al)
        enc.flush_eobrun()
        bits, vals, data = st.serialize()
        ta = 0 if ci == 0 else 1
        dht = seg(0xFFC4, bytes([0x10 | ta]) + bytes(bits) + bytes(vals))
        hdr = bytes([1, ci + 1, ta]) + bytes([ss, se, (ah << 4) | al])
        return dht + seg(0xFFDA, hdr) + data

    def sos(comps: list[int], ss: int, se: int, ah: int, al: int, data: bytes) -> bytes:
        hdr = bytes([len(comps)])
        for ci in comps:
            # component ids 1..3; DC table luma 0 / chroma 1; AC table
            # unused in DC scans
            td = 0 if ci == 0 else 1
            hdr += bytes([ci + 1, td << 4])
        hdr += bytes([ss, se, (ah << 4) | al])
        return seg(0xFFDA, hdr) + data

    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(ql.reshape(-1)[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(
            0xFFDB, b"\x01" + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8))
        )
    sof = struct.pack(">BHHB", 8, h, w, len(grids))
    for ci, (hi, vi) in enumerate(hv):
        sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
    out += seg(0xFFC2, sof)
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    if not gray:
        out += seg(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALS_C))

    all_comps = list(range(len(grids)))
    out += sos(all_comps, 0, 0, 0, 1, dc_first_scan(1))
    if gray:
        out += ac_scan(0, 1, 5, 0, 2)
        out += ac_scan(0, 6, 63, 0, 2)
        out += ac_scan(0, 1, 63, 2, 1)
        out += sos(all_comps, 0, 0, 1, 0, dc_refine_scan(0))
        out += ac_scan(0, 1, 63, 1, 0)
    else:
        out += ac_scan(0, 1, 5, 0, 2)
        out += ac_scan(1, 1, 63, 0, 1)
        out += ac_scan(2, 1, 63, 0, 1)
        out += ac_scan(0, 6, 63, 0, 2)
        out += ac_scan(0, 1, 63, 2, 1)
        out += ac_scan(1, 1, 63, 1, 0)
        out += ac_scan(2, 1, 63, 1, 0)
        out += sos(all_comps, 0, 0, 1, 0, dc_refine_scan(0))
        out += ac_scan(0, 1, 63, 1, 0)
    out += b"\xff\xd9"
    return out
