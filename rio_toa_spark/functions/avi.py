"""Pure-python RIFF/AVI container codec for motion-frame video.

The engine's video seam (operators/multimodal.py:sample_video_frames)
needs a REAL container format so frame sampling is a genuine parse +
decode, not a seeded stub. AVI is a RIFF tree — fixed little-endian
headers plus length-prefixed chunks — so a spec-correct reader/writer
is plain ``struct`` walking with zero dependencies:

  RIFF <sz> 'AVI '
    LIST <sz> 'hdrl'
      'avih' <56-byte MainAVIHeader>
      LIST <sz> 'strl'  ('strh' 56-byte stream header,
                         'strf' 40-byte BITMAPINFOHEADER)
    LIST <sz> 'movi'    ('00dc' <frame bytes>, word-aligned)
    'idx1' <16 bytes/frame>

Frame payloads are themselves encoded images: fourcc MJPG carries
baseline JPEGs (functions/jpeg.py — lossy) and MPNG carries PNGs
(functions/png.py — lossless, which gives the driver oracle a bitwise
pre-encode contract). The decoder sniffs each frame chunk's own
signature rather than trusting the declared fourcc, which is how
tolerant real-world players treat MJPEG streams.

Scale note: container parsing runs inside Arrow batch kernels, one
payload per row — the binary never shuffles and the parse is O(bytes)
with no Python-per-pixel work (pixel decode is the numpy codecs).
"""

from __future__ import annotations

import struct

AVI_RIFF = b"RIFF"
AVI_FORM = b"AVI "


def is_avi(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == AVI_RIFF and data[8:12] == AVI_FORM


def _chunk(tag: bytes, payload: bytes) -> bytes:
    # RIFF chunks are word-aligned: odd payloads get a pad byte that is
    # NOT counted in the chunk size
    pad = b"\x00" if len(payload) % 2 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _list(tag: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", tag + payload)


def encode_avi(
    frames: list[bytes],
    width: int,
    height: int,
    fourcc: bytes = b"MJPG",
    fps: int = 10,
) -> bytes:
    """Wrap already-encoded frame payloads in a minimal spec-correct
    AVI: MainAVIHeader + one 'vids' stream + movi chunks + idx1."""
    if len(fourcc) != 4:
        raise ValueError("fourcc must be 4 bytes, got %r" % fourcc)
    n = len(frames)
    max_bytes = max((len(f) for f in frames), default=0)
    us_per_frame = int(1_000_000 / max(fps, 1))
    avih = struct.pack(
        "<14I",
        us_per_frame,
        max_bytes * max(fps, 1),  # max bytes/sec
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        n,  # total frames
        0,  # initial frames
        1,  # streams
        max_bytes,  # suggested buffer
        width,
        height,
        0, 0, 0, 0,  # reserved
    )
    strh = (
        b"vids"
        + fourcc
        + struct.pack(
            "<10I4h",
            0,  # flags
            0,  # priority+language
            0,  # initial frames
            1,  # scale
            max(fps, 1),  # rate (rate/scale = fps)
            0,  # start
            n,  # length (frames)
            max_bytes,  # suggested buffer
            0xFFFFFFFF,  # quality (default)
            0,  # sample size (varies per frame)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<I2i2H2I2i2I",
        40,  # biSize
        width,
        height,
        1,  # planes
        24,  # bit count
        struct.unpack("<I", fourcc)[0],  # biCompression
        width * height * 3,  # size image
        0, 0, 0, 0,
    )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    movi_payload = b"".join(_chunk(b"00dc", f) for f in frames)
    movi = _list(b"movi", movi_payload)

    # idx1 offsets are relative to the start of the 'movi' list tag data
    idx_entries = []
    off = 4  # past the 'movi' form tag
    for f in frames:
        idx_entries.append(struct.pack("<4s3I", b"00dc", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))

    body = AVI_FORM + hdrl + movi + idx1
    return AVI_RIFF + struct.pack("<I", len(body)) + body


def _walk(data: bytes, start: int, end: int):
    """Yield (tag, payload_start, payload_len) for each chunk in a
    RIFF span; raises ValueError on truncated/malformed structure."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("AVI: truncated chunk header at %d" % pos)
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        payload = pos + 8
        if payload + size > end:
            raise ValueError("AVI: chunk %r overruns container" % tag)
        yield tag, payload, size
        pos = payload + size + (size % 2)  # word alignment


def avi_meta(data: bytes) -> dict:
    """Parse the MainAVIHeader: total_frames, width, height,
    us_per_frame, and the declared stream fourcc."""
    if not is_avi(data):
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(8 + riff_size, len(data))
    meta: dict = {}
    for tag, p, sz in _walk(data, 12, end):
        if tag == b"LIST" and data[p : p + 4] == b"hdrl":
            for t2, p2, s2 in _walk(data, p + 4, p + sz):
                if t2 == b"avih" and s2 >= 40:
                    vals = struct.unpack_from("<10I", data, p2)
                    meta.update(
                        us_per_frame=vals[0],
                        total_frames=vals[4],
                        width=vals[8],
                        height=vals[9],
                    )
                elif t2 == b"LIST" and data[p2 : p2 + 4] == b"strl":
                    for t3, p3, s3 in _walk(data, p2 + 4, p2 + s2):
                        if t3 == b"strh" and s3 >= 8:
                            meta["fourcc"] = data[p3 + 4 : p3 + 8]
            break
    if "total_frames" not in meta:
        raise ValueError("AVI: missing avih header")
    return meta


def avi_frames(data: bytes) -> list[bytes]:
    """All video frame payloads ('00dc'/'00db' chunks of the movi
    list), in stream order."""
    if not is_avi(data):
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(8 + riff_size, len(data))
    frames: list[bytes] = []
    for tag, p, sz in _walk(data, 12, end):
        if tag == b"LIST" and data[p : p + 4] == b"movi":
            for t2, p2, s2 in _walk(data, p + 4, p + sz):
                if t2[2:4] in (b"dc", b"db"):
                    frames.append(data[p2 : p2 + s2])
    if not frames:
        raise ValueError("AVI: no movi frame chunks")
    return frames
