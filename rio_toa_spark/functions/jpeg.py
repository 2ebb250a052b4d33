"""Minimal pure-numpy JPEG codec so the multimodal decode seam
exercises a GENUINE JPEG decode without an external image library
(no libjpeg binding needed) — the JPEG sibling of functions/png.py.

Decoder: baseline sequential DCT (SOF0) and progressive DCT (SOF2,
T.81 Annex G: spectral selection + successive approximation, DC and
AC refinement scans, EOBRUN), 8-bit, grayscale or YCbCr with 4:4:4 /
4:2:0 / 4:2:2 sampling, restart markers honored. One coefficient
path serves both: every scan, interleaved or not, decodes into a
per-component store of quantized coefficients, and one
reconstruction (dequantize, per-block IDCT, upsample, colour
convert) runs at EOI. A baseline scan is the one-scan case of the
progressive process: the full-band first pass Ss=0, Se=63, Ah=Al=0.
Progressive matters for real web corpora, where SOF2 files are a
double-digit share — a baseline-only decoder silently routes them to
the stub.
Encoder: baseline 4:4:4/4:2:0/4:2:2 (or grayscale), Annex K tables
scaled by a quality factor, as one interleaved scan, plus a
progressive variant (spectral-selection scans; DC successively
approximated) — exists so tests can mint real JPEG payloads in an
environment with no other JPEG producer. Both share one front end
(quantized zigzag blocks), one header writer and one scan writer.

The lossiness of JPEG means round-trips are asserted by PSNR, not
bitwise; the decoder is additionally pinned by spec-level fixtures
(hand-assembled streams with known pixel values, including
non-interleaved baseline scans and AC successive-approximation
refinement, neither of which our encoder emits) in tests/test_jpeg.py
so encoder and decoder bugs cannot cancel.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_SIGNATURE = b"\xff\xd8\xff"

# ITU-T T.81 Annex K quantization tables (luma, chroma), natural order
_K1_LUMA = np.array(
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
    dtype=np.int32,
).reshape(8, 8)
_K2_CHROMA = np.array(
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
    dtype=np.int32,
).reshape(8, 8)

# zigzag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K typical Huffman tables: (bits counts per length 1..16, values)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)

# 8x8 DCT-II orthonormal basis: block = _DCT_M @ coef @ _DCT_M.T is the
# inverse transform for coefficients laid out [v, u]
_DCT_M = np.zeros((8, 8))
for _x in range(8):
    for _u in range(8):
        _c = np.sqrt(0.125) if _u == 0 else 0.5
        _DCT_M[_x, _u] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _build_codes(bits, values):
    """(length -> count, values) -> {(length, code): value}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _encode_codes(bits, values):
    """symbol -> (code, length) for the encoder."""
    dec = _build_codes(bits, values)
    return {v: (code, length) for (length, code), v in dec.items()}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; restart markers are handled by the caller via align()."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.bitbuf = (self.bitbuf << 8) | 0
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self.bitbuf = (self.bitbuf << 8) | 0xFF
                    self.nbits += 8
                    continue
                # a marker: stop feeding real bytes (pad with zeros)
                self.bitbuf = self.bitbuf << 8
                self.nbits += 8
                continue
            self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self):
        """Skip to just past the next marker (restart interval)."""
        self.bitbuf = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and not (d[self.pos] == 0xFF and d[self.pos + 1] != 0x00):
            self.pos += 1
        self.pos += 2  # past FFDn


def _decode_huff(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid JPEG huffman stream")


def _extend(v: int, t: int) -> int:
    """DIFF/coefficient magnitude extension (T.81 F.2.2.1)."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JPEG bytes -> uint8
    (H, W, C) array, C = 1 or 3."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    comps = []  # (id, h, v, tq)
    width = height = 0
    restart_interval = 0
    progressive = False
    coef_store: list[np.ndarray] | None = None  # per comp (by, bx, 64) zigzag ints
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    vals = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                table = np.zeros(64, dtype=np.int32)
                table[_ZZ] = vals
                qt[tq] = table.reshape(8, 8)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            height, width = struct.unpack(">HH", seg[1:5])
            n = seg[5]
            for i in range(n):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):
                    raise ValueError("JPEG sampling factors must be 1..4")
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            # extended-sequential/lossless/differential/arithmetic
            # frames: reject explicitly instead of falling through to
            # an obscure empty-components error at SOS
            raise ValueError(
                "only SOF0 baseline / SOF2 progressive JPEG is supported "
                "(got SOF marker 0x%02X)" % marker
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                values = list(seg[p + 17 : p + 17 + nvals])
                huff[(tc, th)] = _build_codes(bits, values)
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if not comps:
                raise ValueError("SOS before SOF in JPEG stream")
            ns = seg[0]
            scan = []  # (comp_idx, dc_table, ac_table)
            for i in range(ns):
                cid, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                # next() without a default would raise StopIteration on
                # a scan component id missing from SOF — a corrupt-file
                # parse error, so normalize it to ValueError (the decode
                # seam's contract; found by payload fuzzing)
                idx = next((j for j, c in enumerate(comps) if c[0] == cid), None)
                if idx is None:
                    raise ValueError("SOS references undefined component id %d" % cid)
                scan.append((idx, tables >> 4, tables & 0xF))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("baseline scan must be Ss=0, Se=63, Ah=Al=0")
            if progressive and ss == 0 and se != 0:
                raise ValueError("progressive scan mixes DC and AC bands")
            if progressive and ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            if coef_store is None:
                coef_store = [
                    np.zeros((rows, cols, 64), dtype=np.int32)
                    for (rows, cols), _ in _grids(comps, width, height)[2]
                ]
            reader = _BitReader(data, pos + seg_len)
            _read_scan(
                reader, comps, scan, coef_store, huff,
                width, height, restart_interval, ss, se, ah, al,
            )
            # resume the marker walk at the next real marker: the
            # reader's pos may sit before residual entropy bytes whose
            # stuffed 0xFF00 pairs must not be mistaken for markers
            p = reader.pos
            while p + 1 < len(data) and not (
                data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF)
            ):
                p += 1
            pos = p
            continue
        pos += seg_len
    if coef_store is None:
        raise ValueError("no SOS segment in JPEG stream")
    return _reconstruct(comps, coef_store, qt, width, height)


def _grids(comps, width, height):
    """MCU columns and rows, and per component its block grids:
    (padded MCU-grid shape, real shape). Interleaved scans address the
    padded grid in MCU order; single-component scans raster over the
    real grid."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    out = []
    for cid, h, v, tq in comps:
        comp_w = -(-width * h // hmax)
        comp_h = -(-height * v // vmax)
        out.append(((mcuy * v, mcux * h), (-(-comp_h // 8), -(-comp_w // 8))))
    return mcux, mcuy, out


def _scan_units(comps, cis, width, height):
    """The blocks of one scan over components ``cis``, in T.81 coding
    order: one list of (comp_idx, by, bx) per restart unit. An
    interleaved scan walks the MCUs (each v x h blocks of every scan
    component, in scan order); a single-component scan rasters over
    its component's real grid, one block per unit (T.81 A.2)."""
    mcux, mcuy, grids = _grids(comps, width, height)
    if len(cis) == 1:
        ci = cis[0]
        rows, cols = grids[ci][1]
        for by in range(rows):
            for bx in range(cols):
                yield [(ci, by, bx)]
        return
    for my in range(mcuy):
        for mx in range(mcux):
            yield [
                (ci, my * comps[ci][2] + by, mx * comps[ci][1] + bx)
                for ci in cis
                for by in range(comps[ci][2])
                for bx in range(comps[ci][1])
            ]


def _read_scan(
    reader, comps, scan, coef_store, huff,
    width, height, restart_interval, ss, se, ah, al,
):
    """One scan into the coefficient store (T.81 G.1.2): per block the
    DC coefficient when ss == 0, then the AC band max(ss, 1)..se, as a
    first pass (ah == 0) or a successive-approximation refinement. A
    baseline scan is the full-band first pass ss=0, se=63, ah=al=0."""
    tables = {ci: (tdc, tac) for ci, tdc, tac in scan}
    ac_pass = _ac_first_pass if ah == 0 else _ac_refine_pass
    state = {"eobrun": 0, "pred": [0] * len(comps)}
    units = _scan_units(comps, [ci for ci, _, _ in scan], width, height)
    for i, blocks in enumerate(units):
        if restart_interval and i and i % restart_interval == 0:
            reader.align_to_marker()
            state["pred"] = [0] * len(comps)
            state["eobrun"] = 0
        for ci, by, bx in blocks:
            blk = coef_store[ci][by, bx]
            tdc, tac = tables[ci]
            if ss == 0:
                _dc_pass(reader, blk, huff, tdc, ah, al, state, ci)
            if se:
                ac_pass(reader, blk, huff, tac, max(ss, 1), se, al, state)


def _dc_pass(reader, blk, huff, tdc, ah, al, state, comp_idx):
    if ah == 0:
        t = _decode_huff(reader, huff[(0, tdc)])
        diff = _extend(reader.read_bits(t), t)
        state["pred"][comp_idx] += diff
        blk[0] = state["pred"][comp_idx] << al
    else:  # refinement: one raw bit per block
        if reader.read_bit():
            blk[0] |= 1 << al


def _ac_first_pass(reader, blk, huff, tac, ss, se, al, state):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huff(reader, huff[(1, tac)])
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run overflows band")
        blk[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine_pass(reader, blk, huff, tac, ss, se, al, state):
    """Correction-bit refinement (T.81 G.1.2.3 / libjpeg semantics):
    every nonzero-history coefficient passed emits one correction bit;
    new coefficients appear as +-1 << al."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss

    def correct(kk):
        if reader.read_bit() and (blk[kk] & p1) == 0:
            blk[kk] += p1 if blk[kk] >= 0 else m1

    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_huff(reader, huff[(1, tac)])
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r < 15:
                    # note: 1 << r, NOT (1 << r) - 1 as in the first
                    # pass — the current block is consumed by the
                    # trailing correction-bit section below, which
                    # still has to read bits for k..se
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("invalid size in AC refinement scan")
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _reconstruct(comps, coef_store, qt, width, height) -> np.ndarray:
    """Dequantize + IDCT every stored block, upsample each plane to
    full MCU-grid resolution, crop, and colour-convert. The IDCT is
    per block, `M @ (coef * q) @ M.T`, on purpose: a vectorized einsum
    over the block grid sums in a different order, and values that
    straddle a .5 rounding boundary then flip by one."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    inv_zz = np.argsort(_ZZ)
    planes = []
    for (cid, h, v, tq), store in zip(comps, coef_store):
        if tq not in qt:
            raise ValueError("missing quantization table %d" % tq)
        ny, nx, _ = store.shape
        plane = np.zeros((ny * 8, nx * 8), dtype=np.float64)
        q = qt[tq]
        for by in range(ny):
            for bx in range(nx):
                block = store[by, bx].astype(np.float64)[inv_zz].reshape(8, 8) * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _DCT_M @ block @ _DCT_M.T + 128.0
                )
        if h != hmax or v != vmax:
            plane = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        planes.append(plane[:height, :width])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nacc = 0

    def flush(self):
        while self.nacc:
            self.write(1, 1)  # pad with 1-bits per spec


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (table * s + 50) // 100
    return np.clip(out, 1, 255).astype(np.int32)


# encoder Huffman codes, [luma, chroma]: symbol -> (code, length)
_DC_CODES = [_encode_codes(*_DC_LUMA), _encode_codes(*_DC_CHROMA)]
_AC_CODES = [_encode_codes(*_AC_LUMA), _encode_codes(*_AC_CHROMA)]

# luma (h, v) sampling factors per chroma layout; chroma is 1x1
_SAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}


def _segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _quantized_blocks(arr, quality, subsampling, layouts):
    """The encoder front end: uint8 (H, W[, C]) -> (height, width,
    frame components (id, h, v, tq), quantization tables, per
    component its quantized coefficients (by, bx, 64) in zigzag order
    over the padded MCU grid). Colour convert, edge-pad to whole MCUs,
    average chroma over each (h, v) cell, then a per-block forward
    DCT `M.T @ B @ M` and quantize (per block on purpose: a vectorized
    einsum sums in a different order, and a coefficient on a .5
    quantization boundary then rounds the other way)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError("JPEG encoder supports 1 or 3 channels, got %d" % c)
    if subsampling not in layouts:
        raise ValueError(
            "subsampling must be %s or %r"
            % (", ".join(repr(s) for s in layouts[:-1]), layouts[-1])
        )
    hs, vs = _SAMPLING[subsampling] if c == 3 else (1, 1)
    qtabs = [_quality_scale(_K1_LUMA, quality), _quality_scale(_K2_CHROMA, quality)][: min(c, 2)]
    if c == 3:
        f = arr.astype(np.float64)
        planes = [
            0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2],
            -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0,
            0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0,
        ]
    else:
        planes = [arr[..., 0].astype(np.float64)]
    comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)][:c]
    ph, pw = -(-h // (8 * vs)) * 8 * vs, -(-w // (8 * hs)) * 8 * hs
    blocks = []
    for i, p in enumerate(planes):
        p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        if i and (hs, vs) != (1, 1):
            p = p.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
        q = qtabs[min(i, 1)]
        ny, nx = p.shape[0] // 8, p.shape[1] // 8
        qz = np.empty((ny, nx, 64), dtype=np.int64)
        for by in range(ny):
            for bx in range(nx):
                coef = _DCT_M.T @ (p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0) @ _DCT_M
                qz[by, bx] = np.round(coef / q).reshape(-1)
        blocks.append(qz[:, :, _ZZ])
    return h, w, comps, qtabs, blocks


def _headers(sof, h, w, comps, qtabs, restart_interval) -> bytearray:
    """SOI, DQT, SOF (0xC0 baseline / 0xC2 progressive), the Annex K
    DHT tables and, with a restart interval, DRI."""
    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qtabs):
        out += _segment(0xDB, bytes([tq]) + bytes(q.reshape(-1)[_ZZ].astype(np.uint8)))
    frame = bytearray([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hs, vs, tq in comps:
        frame += bytes([cid, hs << 4 | vs, tq])
    out += _segment(sof, bytes(frame))
    for tc, th, (bits, values) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)
    )[: 2 * len(qtabs)]:
        out += _segment(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    return out


def _put(bw, codes, run, value):
    """Huffman symbol (run << 4 | size) then ``value`` in size bits
    (T.81 F.1.2.1); run=0, value=0 is EOB and run=15, value=0 ZRL."""
    s = abs(value).bit_length()
    bw.write(*codes[run << 4 | s])
    if s:
        bw.write(value if value > 0 else value + (1 << s) - 1, s)


def _write_scan(out, h, w, comps, blocks, cis, restart_interval, ss, se, ah, al):
    """Append one scan over components ``cis`` to ``out``: its SOS
    header, then per block the DC coefficient when ss == 0 (first
    pass: the difference of coef >> al; refinement: bit al) and the AC
    band max(ss, 1)..se run-length coded (first pass at al=0 only).
    RSTn every ``restart_interval`` units resets the DC predictors."""
    sos = bytearray([len(cis)])
    for ci in cis:
        t = min(ci, 1)
        sos += bytes([ci + 1, t << 4 | t])
    out += _segment(0xDA, bytes(sos + bytes([ss, se, ah << 4 | al])))
    bw = _BitWriter()
    pred = [0] * len(comps)
    for i, unit in enumerate(_scan_units(comps, cis, w, h)):
        if restart_interval and i and i % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (i // restart_interval - 1) % 8])
            pred = [0] * len(comps)
        for ci, by, bx in unit:
            zz = blocks[ci][by, bx]
            t = min(ci, 1)
            if ss == 0 and ah:
                bw.write((int(zz[0]) >> al) & 1, 1)
            elif ss == 0:
                dc = int(zz[0]) >> al
                _put(bw, _DC_CODES[t], 0, dc - pred[ci])
                pred[ci] = dc
            if se:
                band = zz[max(ss, 1) : se + 1]
                nz = np.flatnonzero(band)
                k0 = 0
                for k in nz.tolist():
                    run = k - k0
                    while run > 15:
                        _put(bw, _AC_CODES[t], 15, 0)
                        run -= 16
                    _put(bw, _AC_CODES[t], run, int(band[k]))
                    k0 = k + 1
                if k0 < len(band):
                    _put(bw, _AC_CODES[t], 0, 0)  # EOB
    bw.flush()
    out += bw.out


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W), (H, W, 1) or (H, W, 3) -> baseline JPEG bytes
    (Annex K tables scaled by quality; chroma subsampling '444',
    '420' — 2x2-averaged chroma, MCUs of four luma blocks + Cb + Cr —
    or '422': horizontally-averaged chroma, MCUs of two luma blocks +
    Cb + Cr), one interleaved full-band scan. ``restart_interval`` > 0
    emits DRI + RSTn markers every that many MCUs (resetting the DC
    predictors), exercising the decoder's resync path."""
    h, w, comps, qtabs, blocks = _quantized_blocks(
        arr, quality, subsampling, ("444", "420", "422")
    )
    out = _headers(0xC0, h, w, comps, qtabs, restart_interval)
    cis = list(range(len(comps)))
    _write_scan(out, h, w, comps, blocks, cis, restart_interval, 0, 63, 0, 0)
    return bytes(out + b"\xff\xd9")


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W), (H, W, 1) or (H, W, 3) -> progressive (SOF2)
    JPEG bytes, 4:4:4 or 4:2:0 (the dominant shape of real web
    progressive files), carrying the same quantized coefficients as
    ``encode_jpeg``. Scan script: interleaved DC at Al=1, DC
    refinement at Al=0 (successive approximation), then one full
    spectral-selection AC scan (1..63, Al=0) per component in its own
    non-interleaved block raster — the minimal script that exercises
    the decoder's interleaved-DC, DC-refinement, per-component AC
    band, and (at 4:2:0) padded-vs-real block-grid paths with real
    data. (AC successive approximation is exercised by hand-built
    spec fixtures in tests/test_jpeg.py; this encoder does not emit
    it.)"""
    h, w, comps, qtabs, blocks = _quantized_blocks(arr, quality, subsampling, ("444", "420"))
    out = _headers(0xC2, h, w, comps, qtabs, restart_interval)
    cis = list(range(len(comps)))
    script = [(cis, 0, 0, 0, 1), (cis, 0, 0, 1, 0)] + [([ci], 1, 63, 0, 0) for ci in cis]
    for scan_cis, ss, se, ah, al in script:
        _write_scan(out, h, w, comps, blocks, scan_cis, restart_interval, ss, se, ah, al)
    return bytes(out + b"\xff\xd9")
