"""RIFF/AVI container codec + genuine video frame sampling.

The container layer (functions/avi.py) is pure struct walking; the
frame payloads ride the existing PNG/JPEG codecs. Motion-PNG gives a
lossless end-to-end contract (bitwise vs pre-encode arrays — the same
ground-truth pattern as media_truth); MJPG is lossy and asserted by
PSNR against the pre-encode frames.
"""

import numpy as np
import pytest

from rio_toa_spark.functions.avi import (
    avi_frames,
    avi_meta,
    encode_avi,
    is_avi,
)
from rio_toa_spark.functions.jpeg import decode_jpeg, encode_jpeg
from rio_toa_spark.functions.png import decode_png, encode_png
from rio_toa_spark.operators import multimodal as mm


def _frames(n=10, h=24, w=24, seed=0):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8) for _ in range(n)]


def test_avi_roundtrip_mpng_bitwise():
    frames = _frames()
    data = encode_avi([encode_png(f) for f in frames], 24, 24, fourcc=b"MPNG")
    assert is_avi(data)
    meta = avi_meta(data)
    assert (meta["total_frames"], meta["width"], meta["height"]) == (10, 24, 24)
    assert meta["fourcc"] == b"MPNG"
    got = avi_frames(data)
    assert len(got) == 10
    for g, f in zip(got, frames):
        assert np.array_equal(decode_png(g), f)


def test_avi_word_alignment_odd_payloads():
    # RIFF chunks pad odd payloads with an uncounted byte; frame bytes
    # must come back exactly, not off-by-one, for every parity mix
    payloads = [b"\x89PNG\r\n\x1a\n" + bytes([i]) * (7 + i) for i in range(5)]
    data = encode_avi(payloads, 1, 1, fourcc=b"MPNG")
    assert avi_frames(data) == payloads


def test_avi_mjpg_psnr():
    frames = _frames(n=4, h=32, w=32, seed=3)
    data = encode_avi([encode_jpeg(f) for f in frames], 32, 32, fourcc=b"MJPG")
    got = avi_frames(data)
    for g, f in zip(got, frames):
        dec = decode_jpeg(g).astype(np.float64)
        mse = np.mean((dec - f.astype(np.float64)) ** 2)
        psnr = 10 * np.log10(255.0**2 / mse)
        # random-noise frames are JPEG's worst case; ~28 dB is the
        # expected quality-90 level, and anything above 20 proves a
        # real DCT decode (the stub would land near 8 dB)
        assert psnr > 20.0, psnr


def test_avi_malformed_raises():
    good = encode_avi([encode_png(f) for f in _frames(n=2)], 24, 24)
    for bad in (
        b"junk",
        b"RIFF\x08\x00\x00\x00WAVEdata",  # wrong form
        good[:40],  # truncated mid-header
        good[:-10],  # truncated mid-frame... or mid-idx1
        b"RIFF\x20\x00\x00\x00AVI " + b"\x01" * 8,  # garbage chunk tree
    ):
        with pytest.raises(ValueError):
            avi_frames(bad)


def test_sample_video_frames_genuine_mpng(spark):
    # pre-encode ground truth through the DISTRIBUTED operator: mint
    # MPNG videos, sample 4 of 10 frames, require bitwise pixels, real
    # source indices, and genuine decode provenance
    vids = []
    expected = {}
    for mid in range(3):
        frames = _frames(n=10, seed=100 + mid)
        vids.append((mid, encode_avi([encode_png(f) for f in frames], 24, 24, fourcc=b"MPNG")))
        for i in range(4):
            src = i * 10 // 4
            expected[(mid, src)] = frames[src].tobytes()
    df = spark.createDataFrame(vids, "media_id int, payload binary")
    rows = mm.sample_video_frames(df, n_frames=4).collect()
    assert len(rows) == 12
    for r in rows:
        assert r.decode_status == "genuine_mpng"
        assert (r.height, r.width, r.channels) == (24, 24, 3)
        assert bytes(r.pixels) == expected[(r.media_id, r.frame_idx)]


def test_sample_video_frames_genuine_mjpg(spark):
    # MJPG frames decode through the baseline JPEG codec inside the
    # operator; lossy, so assert PSNR + provenance rather than bitwise
    frames = _frames(n=6, h=32, w=32, seed=7)
    data = encode_avi([encode_jpeg(f) for f in frames], 32, 32, fourcc=b"MJPG")
    df = spark.createDataFrame([(1, data)], "media_id int, payload binary")
    rows = mm.sample_video_frames(df, n_frames=3).collect()
    assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 2, 4]
    for r in rows:
        assert r.decode_status == "genuine_mjpeg"
        dec = np.frombuffer(r.pixels, np.uint8).reshape(32, 32, 3).astype(np.float64)
        mse = np.mean((dec - frames[r.frame_idx].astype(np.float64)) ** 2)
        assert 10 * np.log10(255.0**2 / mse) > 20.0


def test_sample_video_frames_corrupt_avi_falls_back(spark):
    # a payload that LOOKS like AVI but fails the walk (and one whose
    # frames carry an unknown codec) must fall to the deterministic
    # stub with status 'stub' — never raise, never half-emit
    bad_walk = b"RIFF\x20\x00\x00\x00AVI " + b"\x01" * 8
    bad_codec = encode_avi([b"not-an-image-frame"], 8, 8, fourcc=b"MJPG")
    df = spark.createDataFrame(
        [(1, bad_walk), (2, bad_codec)], "media_id int, payload binary"
    )
    rows = mm.sample_video_frames(df, n_frames=2).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.decode_status == "stub"
        payload = bad_walk if r.media_id == 1 else bad_codec
        assert bytes(r.pixels) == mm._fake_decode(payload + bytes([r.frame_idx])).tobytes()


def test_sample_video_frames_stub_beyond_256_frames(spark):
    # the stub seed grows past one ordinal byte: a fan-out above 256
    # still yields every row, and ordinals below 256 keep their seed
    payload = b"not a video"
    df = spark.createDataFrame([(1, payload)], "media_id int, payload binary")
    rows = mm.sample_video_frames(df, n_frames=300).collect()
    assert sorted(r.frame_idx for r in rows) == list(range(300))
    assert {r.decode_status for r in rows} == {"stub"}
    by_idx = {r.frame_idx: bytes(r.pixels) for r in rows}
    assert by_idx[255] == mm._fake_decode(payload + bytes([255])).tobytes()
    assert by_idx[256] == mm._fake_decode(payload + b"\x00\x01").tobytes()
    assert len(set(by_idx.values())) == 300


def test_avi_ignores_interleaved_audio_chunks():
    # real AVIs interleave audio ('01wb') between video frames; the
    # frame walk must skip them without losing stream order
    import struct

    frames = [encode_png(f) for f in _frames(n=3)]
    base = encode_avi(frames, 24, 24, fourcc=b"MPNG")
    # splice audio chunks into the movi list: rebuild movi payload
    movi_at = base.find(b"LIST", 12)
    while base[movi_at + 8 : movi_at + 12] != b"movi":
        movi_at = base.find(b"LIST", movi_at + 4)
    audio = b"01wb" + struct.pack("<I", 6) + b"abcdef"
    chunks = b""
    for f in frames:
        pad = b"\x00" if len(f) % 2 else b""
        chunks += audio + b"00dc" + struct.pack("<I", len(f)) + f + pad
    payload = b"movi" + chunks
    movi = b"LIST" + struct.pack("<I", len(payload)) + payload
    (old_sz,) = struct.unpack_from("<I", base, movi_at + 4)
    rebuilt = base[:movi_at] + movi + base[movi_at + 8 + old_sz :]
    rebuilt = rebuilt[:4] + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
    got = avi_frames(rebuilt)
    assert got == frames


def test_sample_video_frames_short_video_repeats(spark):
    # fewer frames than requested: the even-stride rule repeats source
    # indices so the fan-out stays exactly n_frames per payload
    frames = _frames(n=2)
    data = encode_avi([encode_png(f) for f in frames], 24, 24, fourcc=b"MPNG")
    df = spark.createDataFrame([(1, data)], "media_id int, payload binary")
    rows = sorted(mm.sample_video_frames(df, n_frames=4).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 0, 1, 1]
    for r in rows:
        assert r.decode_status == "genuine_mpng"
        assert bytes(r.pixels) == frames[r.frame_idx].tobytes()
