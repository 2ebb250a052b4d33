"""Minimal pure-python/numpy PNG codec (zlib is stdlib) so the
multimodal decode seam exercises a GENUINE image decode
without an external image library. Supports 8-bit and 16-bit
greyscale, grey+alpha, RGB and RGBA, non-interlaced; the decoder
implements all five PNG scanline filters (which operate on BYTES with
bpp = bytes-per-pixel, so the same unfilter code serves both depths),
the encoder emits filter 0. 16-bit matters for raster payloads:
Landsat DN data is natively uint16, so the media seam can carry tile
buffers as real lossless images end to end.

This is the real-decoder plug for operators/multimodal.decode_image:
payloads starting with the PNG signature decode here; anything else
falls back to the documented deterministic stub.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_COLOR_TO_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_CHANNELS_TO_COLOR = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 or uint16 array (H, W) or (H, W, C) with C in {1,2,3,4}
    -> PNG bytes (filter 0 scanlines, one IDAT chunk; depth follows
    the input dtype, 16-bit samples big-endian per spec)."""
    depth = 16 if np.asarray(arr).dtype == np.uint16 else 8
    arr = np.ascontiguousarray(arr, dtype=np.uint16 if depth == 16 else np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in _CHANNELS_TO_COLOR:
        raise ValueError("expected (H, W[, C<=4]) uint8/uint16 array, got %r" % (arr.shape,))
    h, w, c = arr.shape
    if depth == 16:
        arr = arr.astype(">u2")  # network byte order on the wire
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, _CHANNELS_TO_COLOR[c], 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, compress_level))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    stride = row.shape[0]
    if ftype == 0:  # none
        return row
    if ftype == 2:  # up — uint8 addition wraps mod 256 as PNG requires
        return row + prev
    cur = row.copy()
    if ftype == 1:  # sub
        for i in range(bpp, stride):
            cur[i] = (int(cur[i]) + int(cur[i - bpp])) & 0xFF
        return cur
    if ftype == 3:  # average
        for i in range(stride):
            left = int(cur[i - bpp]) if i >= bpp else 0
            cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        return cur
    if ftype == 4:  # paeth
        for i in range(stride):
            left = int(cur[i - bpp]) if i >= bpp else 0
            ul = int(prev[i - bpp]) if i >= bpp else 0
            cur[i] = (int(cur[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        return cur
    raise ValueError("unknown PNG filter type %d" % ftype)


# Adam7 interlace pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter_image(raw: bytes, off: int, w: int, h: int, c: int, depth: int):
    """Unfilter h scanlines of a (sub-)image starting at raw[off];
    returns (uint8 (h, stride) byte matrix, new offset). Filters are
    BYTEWISE with bpp = bytes per pixel rounded up to 1 — for packed
    sub-8-bit rows bpp is 1, per spec."""
    bpp = max(1, c * depth // 8)
    stride = (w * c * depth + 7) // 8
    need = h * (stride + 1)
    if off + need > len(raw):
        raise ValueError("PNG payload size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ftype = raw[off]
        off += 1
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off)
        off += stride
        prev = _unfilter_row(ftype, row, prev, bpp)
        out[r] = prev
    return out, off


def _unpack_samples(bytemat: np.ndarray, w: int, c: int, depth: int) -> np.ndarray:
    """(h, stride) unfiltered bytes -> (h, w, c) samples (uint8, or
    uint16 for depth 16; sub-8-bit values are raw, NOT yet scaled)."""
    h = bytemat.shape[0]
    if depth == 16:
        return (
            np.frombuffer(np.ascontiguousarray(bytemat).tobytes(), dtype=">u2")
            .astype(np.uint16)
            .reshape(h, w, c)
        )
    if depth == 8:
        return bytemat[:, : w * c].reshape(h, w, c)
    # packed 1/2/4-bit samples, MSB-first within each byte
    bits = np.unpackbits(bytemat, axis=1)[:, : w * c * depth]
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = bits.reshape(h, w * c, depth) @ weights
    return vals.astype(np.uint8).reshape(h, w, c)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) array: uint8 (uint16 for depth-16
    grey/truecolor). Color types 0/2/3/4/6 — including palette with
    optional tRNS alpha (-> RGBA) and packed sub-8-bit depths (grey
    scaled to the 8-bit range) — both sequential and Adam7-interlaced;
    all five scanline filters handled (bytewise, bpp = bytes per
    pixel)."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    idat: list[bytes] = []
    meta = None
    plte = None
    trns = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if color == 3:
                if depth not in (1, 2, 4, 8):
                    raise ValueError("bad palette PNG depth %d" % depth)
                c = 1
            elif color in _COLOR_TO_CHANNELS:
                c = _COLOR_TO_CHANNELS[color]
                if depth not in (8, 16) and not (color == 0 and depth in (1, 2, 4)):
                    raise NotImplementedError(
                        "unsupported PNG depth %d for color type %d" % (depth, color)
                    )
            else:
                raise ValueError("bad PNG color type %d" % color)
            if interlace not in (0, 1):
                raise ValueError("bad PNG interlace method %d" % interlace)
            meta = (w, h, c, depth, color, interlace)
        elif tag == b"PLTE":
            if len(body) % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(body, dtype=np.uint8)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if meta is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, c, depth, color, interlace = meta
    raw = zlib.decompress(b"".join(idat))

    if interlace == 0:
        bytemat, off = _unfilter_image(raw, 0, w, h, c, depth)
        if off != len(raw):
            raise ValueError("PNG payload size mismatch")
        samples = _unpack_samples(bytemat, w, c, depth)
    else:
        # Adam7: seven independently-filtered sub-images scattered
        # onto the output grid; empty passes carry no scanlines
        samples = np.zeros((h, w, c), dtype=np.uint16 if depth == 16 else np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            bytemat, off = _unfilter_image(raw, off, wp, hp, c, depth)
            samples[y0::dy, x0::dx] = _unpack_samples(bytemat, wp, c, depth)
        if off != len(raw):
            raise ValueError("PNG payload size mismatch")

    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        idx = samples[:, :, 0].astype(np.int64)
        if idx.max() >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
        return rgb
    if color == 0 and depth < 8:
        # scale packed grey to the full 8-bit range (255 / (2^d - 1))
        return (samples.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return samples
