"""Minimal pure-numpy JPEG codec so the multimodal decode seam
exercises a GENUINE JPEG decode without an external image library
(no libjpeg binding needed) — the JPEG sibling of functions/png.py.

Decoder: baseline sequential DCT (SOF0) AND progressive DCT (SOF2,
T.81 Annex G: spectral selection + successive approximation, DC and
AC refinement scans, EOBRUN), 8-bit, grayscale or YCbCr with 4:4:4 /
4:2:0 / 4:2:2 sampling, restart markers honored. Progressive matters
for real web corpora, where SOF2 files are a double-digit share — a
baseline-only decoder silently routes them to the stub.
Encoder: baseline 4:4:4/4:2:0 (or grayscale), Annex K tables scaled
by a quality factor, plus a progressive variant (spectral-selection
scans; DC successively approximated) — exists so tests can mint real
JPEG payloads in an environment with no other JPEG producer.

The lossiness of JPEG means round-trips are asserted by PSNR, not
bitwise; the decoder is additionally pinned by spec-level fixtures
(hand-assembled streams with known pixel values, including AC
successive-approximation refinement which our encoder does not emit)
in tests/test_jpeg.py so encoder and decoder bugs cannot cancel.
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
            reader = _BitReader(data, pos + seg_len)
            if not progressive:
                return _decode_scan(
                    reader, comps, scan, qt, huff, width, height, restart_interval
                )
            # progressive: accumulate coefficients scan by scan; the
            # image is reconstructed at EOI
            if not comps:
                raise ValueError("SOS before SOF in JPEG stream")
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if coef_store is None:
                coef_store = _alloc_coef_store(comps, width, height)
            _decode_progressive_scan(
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
    if progressive and coef_store is not None:
        return _reconstruct_progressive(comps, coef_store, qt, width, height)
    raise ValueError("no SOS segment in JPEG stream")


def _decode_scan(reader, comps, scan, qt, huff, width, height, restart_interval):
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = []
    for cid, h, v, tq in comps:
        planes.append(np.zeros((mcuy * v * 8, mcux * h * 8), dtype=np.float64))
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.align_to_marker()
                pred = [0] * len(comps)
            mcu_count += 1
            for comp_idx, tdc, tac in scan:
                cid, h, v, tq = comps[comp_idx]
                for by in range(v):
                    for bx in range(h):
                        coef = np.zeros(64, dtype=np.float64)
                        t = _decode_huff(reader, huff[(0, tdc)])
                        diff = _extend(reader.read_bits(t), t)
                        pred[comp_idx] += diff
                        coef[0] = pred[comp_idx]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(reader, huff[(1, tac)])
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            coef[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        block = coef[np.argsort(_ZZ)].reshape(8, 8) * qt[tq]
                        # coef order after zigzag inversion is [v, u]
                        px = _DCT_M @ block @ _DCT_M.T + 128.0
                        y0 = (my * v + by) * 8
                        x0 = (mx * h + bx) * 8
                        planes[comp_idx][y0 : y0 + 8, x0 : x0 + 8] = px
    return _finish_planes(comps, planes, hmax, vmax, width, height)


def _finish_planes(comps, planes, hmax, vmax, width, height) -> np.ndarray:
    """Upsample each plane to full MCU-grid resolution, crop, and
    color-convert — shared by the baseline and progressive paths."""
    out_planes = []
    for (cid, h, v, tq), plane in zip(comps, planes):
        if h != hmax or v != vmax:
            plane = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        out_planes.append(plane[:height, :width])
    if len(out_planes) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --------------------------------------------- progressive (SOF2, Annex G)


def _grids(comps, width, height):
    """Per-component block geometry: (padded MCU-grid block shape,
    real block shape). Interleaved scans address the padded grid in
    MCU order; non-interleaved scans raster over the real grid."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    out = []
    for cid, h, v, tq in comps:
        comp_w = -(-width * h // hmax)
        comp_h = -(-height * v // vmax)
        out.append(((mcuy * v, mcux * h), (-(-comp_h // 8), -(-comp_w // 8))))
    return hmax, vmax, mcux, mcuy, out


def _alloc_coef_store(comps, width, height):
    _, _, _, _, grids = _grids(comps, width, height)
    return [np.zeros((pad[0], pad[1], 64), dtype=np.int32) for pad, _ in grids]


def _decode_progressive_scan(
    reader, comps, scan, coef_store, huff,
    width, height, restart_interval, ss, se, ah, al,
):
    """One SOF2 scan (T.81 G.1.2): DC (ss==0) or AC band (ss>0),
    first pass (ah==0) or successive-approximation refinement."""
    hmax, vmax, mcux, mcuy, grids = _grids(comps, width, height)
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    if ss > 0 and len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")

    state = {"eobrun": 0, "pred": [0] * len(comps), "count": 0}

    def boundary():
        if restart_interval and state["count"] and state["count"] % restart_interval == 0:
            reader.align_to_marker()
            state["pred"] = [0] * len(comps)
            state["eobrun"] = 0
        state["count"] += 1

    if len(scan) > 1:
        # interleaved (DC) scan: MCU order over the padded grid
        for my in range(mcuy):
            for mx in range(mcux):
                boundary()
                for comp_idx, tdc, _tac in scan:
                    cid, h, v, tq = comps[comp_idx]
                    for by in range(v):
                        for bx in range(h):
                            blk = coef_store[comp_idx][my * v + by, mx * h + bx]
                            _dc_pass(reader, blk, huff, tdc, ah, al, state, comp_idx)
    else:
        # non-interleaved: raster over the component's real block grid
        comp_idx, tdc, tac = scan[0]
        nrows, ncols = grids[comp_idx][1]
        store = coef_store[comp_idx]
        for by in range(nrows):
            for bx in range(ncols):
                boundary()
                blk = store[by, bx]
                if ss == 0:
                    _dc_pass(reader, blk, huff, tdc, ah, al, state, comp_idx)
                elif ah == 0:
                    _ac_first_pass(reader, blk, huff, tac, ss, se, al, state)
                else:
                    _ac_refine_pass(reader, blk, huff, tac, ss, se, al, state)


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
            raise ValueError("progressive AC run overflows band")
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


def _reconstruct_progressive(comps, coef_store, qt, width, height) -> np.ndarray:
    """Dequantize + IDCT every accumulated block and assemble exactly
    like the baseline path — per-block `M @ (coef * qt) @ M.T`, the
    IDENTICAL float64 op order `_decode_scan` uses, so a progressive
    stream decodes bit-for-bit the same as a baseline stream carrying
    the same quantized coefficients. (A vectorized einsum over the
    block grid sums in a different order; values that straddle a .5
    rounding boundary then flip by one — caught by the
    progressive==baseline hypothesis property.)"""
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
        planes.append(plane)
    return _finish_planes(comps, planes, hmax, vmax, width, height)


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


def _encode_block(bw, block, q, dc_codes, ac_codes, pred):
    coef = _DCT_M.T @ (block - 128.0) @ _DCT_M
    # coefficients are [v, u]; quantize then zigzag
    qc = np.round(coef / q).astype(np.int64)
    zz = qc.reshape(-1)[_ZZ]
    diff = int(zz[0]) - pred
    t = int(diff).bit_length() if diff else 0
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        v = diff if diff > 0 else diff + (1 << t) - 1
        bw.write(v & ((1 << t) - 1), t)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    end = (last_nz[-1] + 2) if last_nz.size else 1
    for k in range(1, end):
        c = int(zz[k])
        if c == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
        s = abs(c).bit_length()
        code, length = ac_codes[(run << 4) | s]
        bw.write(code, length)
        v = c if c > 0 else c + (1 << s) - 1
        bw.write(v & ((1 << s) - 1), s)
        run = 0
    if end < 64:
        code, length = ac_codes[0x00]
        bw.write(code, length)
    return int(zz[0])


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
    Cb + Cr). ``restart_interval`` > 0
    emits DRI + RSTn markers every that many MCUs (resetting the DC
    predictors), exercising the decoder's resync path."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError("JPEG encoder supports 1 or 3 channels, got %d" % c)
    if subsampling not in ("444", "420", "422"):
        raise ValueError("subsampling must be '444', '420' or '422'")
    sub2 = c == 3 and subsampling == "420"
    sub22 = c == 3 and subsampling == "422"
    luma_hv = 0x22 if sub2 else (0x21 if sub22 else 0x11)
    ql = _quality_scale(_K1_LUMA, quality)
    qc = _quality_scale(_K2_CHROMA, quality)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(ql.reshape(-1)[_ZZ].astype(np.uint8)))
    if c == 3:
        out += seg(0xDB, bytes([1]) + bytes(qc.reshape(-1)[_ZZ].astype(np.uint8)))
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([c])
    for i in range(c):
        sof += bytes([i + 1, luma_hv if i == 0 else 0x11, 0 if i == 0 else 1])
    out += seg(0xC0, bytes(sof))
    for tc, th, (bits, values) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)
    )[: 2 if c == 1 else 4]:
        out += seg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([c])
    for i in range(c):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))

    if c == 3:
        f = arr.astype(np.float64)
        y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
        cb = -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0
        cr = 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0
        planes = [(y, ql, 0), (cb, qc, 1), (cr, qc, 1)]
    else:
        planes = [(arr[..., 0].astype(np.float64), ql, 0)]

    dc_codes = [_encode_codes(*_DC_LUMA), _encode_codes(*_DC_CHROMA)]
    ac_codes = [_encode_codes(*_AC_LUMA), _encode_codes(*_AC_CHROMA)]
    bw = _BitWriter()
    mcu_state = {"idx": 0, "rst": 0}

    def mcu_boundary(pred):
        """Emit an RSTn marker (and reset DC predictors) every
        restart_interval MCUs."""
        i = mcu_state["idx"]
        mcu_state["idx"] += 1
        if restart_interval and i and i % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (mcu_state["rst"] % 8)])
            mcu_state["rst"] += 1
            for j in range(len(pred)):
                pred[j] = 0

    if sub22:
        # 4:2:2 MCU = two side-by-side 8x8 luma blocks + one Cb + one
        # Cr (chroma downsampled horizontally only)
        ph, pw = -(-h // 8) * 8, -(-w // 16) * 16
        y = np.pad(planes[0][0], ((0, ph - h), (0, pw - w)), mode="edge")
        chroma = []
        for p, q, tid in planes[1:]:
            p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            chroma.append(p.reshape(ph, pw // 2, 2).mean(axis=2))
        pred = [0, 0, 0]
        for my in range(ph // 8):
            for mx in range(pw // 16):
                mcu_boundary(pred)
                for bx in (0, 1):
                    x0 = mx * 16 + bx * 8
                    pred[0] = _encode_block(
                        bw, y[my * 8 : my * 8 + 8, x0 : x0 + 8], ql,
                        dc_codes[0], ac_codes[0], pred[0]
                    )
                for i, p in enumerate(chroma):
                    x0 = mx * 8
                    pred[i + 1] = _encode_block(
                        bw, p[my * 8 : my * 8 + 8, x0 : x0 + 8], qc,
                        dc_codes[1], ac_codes[1], pred[i + 1]
                    )
    elif not sub2:
        # pad every plane to a multiple of 8 by edge replication
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        padded = [
            (np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge"), q, tid)
            for p, q, tid in planes
        ]
        pred = [0] * len(padded)
        for by in range(ph // 8):
            for bx in range(pw // 8):
                mcu_boundary(pred)
                for i, (p, q, tid) in enumerate(padded):
                    block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                    pred[i] = _encode_block(bw, block, q, dc_codes[tid], ac_codes[tid], pred[i])
    else:
        # 4:2:0 MCU = four 8x8 luma blocks + one 8x8 Cb + one 8x8 Cr
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        y = np.pad(planes[0][0], ((0, ph - h), (0, pw - w)), mode="edge")
        chroma = []
        for p, q, tid in planes[1:]:
            p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            p = p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            chroma.append(p)
        pred = [0, 0, 0]
        for my in range(ph // 16):
            for mx in range(pw // 16):
                mcu_boundary(pred)
                for by, bx in ((0, 0), (0, 1), (1, 0), (1, 1)):
                    y0, x0 = my * 16 + by * 8, mx * 16 + bx * 8
                    pred[0] = _encode_block(
                        bw, y[y0 : y0 + 8, x0 : x0 + 8], ql, dc_codes[0], ac_codes[0], pred[0]
                    )
                for i, p in enumerate(chroma):
                    y0, x0 = my * 8, mx * 8
                    pred[i + 1] = _encode_block(
                        bw, p[y0 : y0 + 8, x0 : x0 + 8], qc, dc_codes[1], ac_codes[1], pred[i + 1]
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W), (H, W, 1) or (H, W, 3) -> progressive (SOF2)
    JPEG bytes, 4:4:4 or 4:2:0 (the dominant shape of real web
    progressive files). Scan script: interleaved DC at Al=1, DC
    refinement at Al=0 (successive approximation), then one full
    spectral-selection AC scan (1..63, Al=0) per component in its own
    non-interleaved block raster — the minimal script that exercises
    the decoder's interleaved-DC, DC-refinement, per-component AC
    band, and (at 4:2:0) padded-vs-real block-grid paths with real
    data. (AC successive approximation is exercised by hand-built
    spec fixtures in tests/test_jpeg.py; this encoder does not emit
    it.)"""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError("JPEG encoder supports 1 or 3 channels, got %d" % c)
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    sub2 = c == 3 and subsampling == "420"
    ql = _quality_scale(_K1_LUMA, quality)
    qc = _quality_scale(_K2_CHROMA, quality)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(ql.reshape(-1)[_ZZ].astype(np.uint8)))
    if c == 3:
        out += seg(0xDB, bytes([1]) + bytes(qc.reshape(-1)[_ZZ].astype(np.uint8)))
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([c])
    luma_hv = 0x22 if sub2 else 0x11
    for i in range(c):
        sof += bytes([i + 1, luma_hv if i == 0 else 0x11, 0 if i == 0 else 1])
    out += seg(0xC2, bytes(sof))
    for tc, th, (bits, values) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)
    )[: 2 if c == 1 else 4]:
        out += seg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    # quantized coefficients per component, zigzag order, over each
    # component's PADDED (MCU-grid) block raster; real_grid tracks the
    # sub-rectangle of blocks the non-interleaved AC scans must cover
    if c == 3:
        f = arr.astype(np.float64)
        y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
        cb = -0.168736 * f[..., 0] - 0.331264 * f[..., 1] + 0.5 * f[..., 2] + 128.0
        cr = 0.5 * f[..., 0] - 0.418688 * f[..., 1] - 0.081312 * f[..., 2] + 128.0
        planes = [(y, ql, 0), (cb, qc, 1), (cr, qc, 1)]
    else:
        planes = [(arr[..., 0].astype(np.float64), ql, 0)]

    if sub2:
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        padded = []
        yp = np.pad(planes[0][0], ((0, ph - h), (0, pw - w)), mode="edge")
        padded.append((yp, ql))
        for p, q, tid in planes[1:]:
            p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            padded.append((p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)), q))
        # real AC grids: luma ceil(h/8) x ceil(w/8) (may be smaller
        # than the padded 16-aligned grid); chroma real == padded
        real_grid = [(-(-h // 8), -(-w // 8))] + [
            (-(-(-(-h // 2)) // 8), -(-(-(-w // 2)) // 8))
        ] * 2
    else:
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        padded = [
            (np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge"), q)
            for p, q, tid in planes
        ]
        real_grid = [(ph // 8, pw // 8)] * c

    comp_zz = []
    for p, q in padded:
        hh, ww = p.shape
        ny, nx = hh // 8, ww // 8
        # per-block forward DCT with the IDENTICAL float64 op order as
        # the baseline encoder's _encode_block (M.T @ B @ M) — a
        # vectorized einsum sums in a different order, and a
        # coefficient exactly on a .5 quantization boundary then
        # rounds differently, breaking progressive==baseline bitwise
        # (caught by the hypothesis property)
        qz = np.empty((ny, nx, 64), dtype=np.int64)
        for by in range(ny):
            for bx in range(nx):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coef = _DCT_M.T @ blk @ _DCT_M
                qz[by, bx] = np.round(coef / q).reshape(-1)
        comp_zz.append(qz[:, :, _ZZ])
    dc_codes = [_encode_codes(*_DC_LUMA), _encode_codes(*_DC_CHROMA)]
    ac_codes = [_encode_codes(*_AC_LUMA), _encode_codes(*_AC_CHROMA)]

    def sos(comps_in_scan, ss, se, ah, al):
        payload = bytearray([len(comps_in_scan)])
        for ci in comps_in_scan:
            tid = 0 if ci == 0 else 1
            payload += bytes([ci + 1, (tid << 4) | tid])
        payload += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, bytes(payload))

    def mcus():
        """Lists of (comp_idx, by, bx) — one list per MCU, blocks in
        T.81 interleaved order."""
        if not sub2:
            ny, nx = comp_zz[0].shape[:2]
            for by in range(ny):
                for bx in range(nx):
                    yield [(ci, by, bx) for ci in range(c)]
        else:
            for my in range(ph // 16):
                for mx in range(pw // 16):
                    yield (
                        [(0, my * 2 + by, mx * 2 + bx) for by in range(2) for bx in range(2)]
                        + [(1, my, mx), (2, my, mx)]
                    )

    def rst_boundary(bw, st):
        """Emit RSTn (flushing the bit buffer) every restart_interval
        units; returns True when a marker was emitted so DC scans can
        reset their predictors. Unit = MCU for interleaved scans,
        block for non-interleaved AC scans (T.81 E.1.4)."""
        fired = bool(restart_interval) and st["i"] > 0 and st["i"] % restart_interval == 0
        if fired:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (st["rst"] % 8)])
            st["rst"] += 1
        st["i"] += 1
        return fired

    # scan 1: interleaved DC, Al=1 (coarse approximation)
    out += sos(list(range(c)), 0, 0, 0, 1)
    bw = _BitWriter()
    pred = [0] * c
    st = {"i": 0, "rst": 0}
    for blocks in mcus():
        if rst_boundary(bw, st):
            pred = [0] * c
        for ci, by, bx in blocks:
            tid = 0 if ci == 0 else 1
            dc = int(comp_zz[ci][by, bx, 0]) >> 1  # point transform Al=1
            diff = dc - pred[ci]
            pred[ci] = dc
            t = abs(diff).bit_length()
            code, length = dc_codes[tid][t]
            bw.write(code, length)
            if t:
                v = diff if diff > 0 else diff + (1 << t) - 1
                bw.write(v & ((1 << t) - 1), t)
    bw.flush()
    out += bw.out

    # scan 2: DC refinement to Al=0 — one raw bit per block
    out += sos(list(range(c)), 0, 0, 1, 0)
    bw = _BitWriter()
    st = {"i": 0, "rst": 0}
    for blocks in mcus():
        rst_boundary(bw, st)
        for ci, by, bx in blocks:
            bw.write(int(comp_zz[ci][by, bx, 0]) & 1, 1)
    bw.flush()
    out += bw.out

    # scans 3..: per-component AC band 1..63 at Al=0 (EOB0 per block),
    # non-interleaved raster over the component's REAL block grid
    for ci in range(c):
        tid = 0 if ci == 0 else 1
        out += sos([ci], 1, 63, 0, 0)
        bw = _BitWriter()
        nr, nc_ = real_grid[ci]
        st = {"i": 0, "rst": 0}
        for by in range(nr):
            for bx in range(nc_):
                rst_boundary(bw, st)
                zz = comp_zz[ci][by, bx]
                run = 0
                last_nz = np.nonzero(zz[1:])[0]
                end = (last_nz[-1] + 2) if last_nz.size else 1
                for k in range(1, end):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_codes[tid][0xF0]
                        bw.write(code, length)
                        run -= 16
                    s = abs(v).bit_length()
                    code, length = ac_codes[tid][(run << 4) | s]
                    bw.write(code, length)
                    mag = v if v > 0 else v + (1 << s) - 1
                    bw.write(mag & ((1 << s) - 1), s)
                    run = 0
                if end < 64:
                    code, length = ac_codes[tid][0x00]
                    bw.write(code, length)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
