"""Pure-numpy JPEG codec (functions/jpeg.py): baseline (SOF0) and
progressive (SOF2) decode through one coefficient path, and the
baseline and progressive encoders.

The decoder is pinned by SPEC-LEVEL fixtures: streams hand-assembled
from ITU-T T.81 (Annex K tables, hand-derived huffman bits), so an
encoder bug cannot cancel a decoder bug — a flat grayscale block,
non-interleaved baseline scans, and progressive successive
approximation / EOBRUN. The encoders are exercised via decode
round-trips (PSNR — JPEG is lossy), a bitstream-equality check
against the hand-derived entropy bytes for a flat block, and md5
digests of their output bytes over a grid of shapes and options.
"""

import hashlib
import struct

import numpy as np
import pytest

from rio_toa_spark.functions import jpeg


def _seg(marker, payload):
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _minimal_gray_jpeg():
    """Hand-assembled 8x8 grayscale baseline JPEG, flat value 128.

    Entropy data derived from the spec by hand: DC category 0 under the
    Annex K luma DC table is code '00'; AC EOB (symbol 0x00) under the
    Annex K luma AC table is '1010'; 6 bits padded with 1-bits ->
    0b00101011 = 0x2B.
    """
    q = jpeg._K1_LUMA.reshape(-1)[jpeg._ZZ].astype(np.uint8)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(q))
    out += _seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    bits, values = jpeg._DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(values))
    bits, values = jpeg._AC_LUMA
    out += _seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(values))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bytes([0x2B])
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_spec_level_fixture():
    arr = jpeg.decode_jpeg(_minimal_gray_jpeg())
    assert arr.shape == (8, 8, 1)
    assert arr.dtype == np.uint8
    assert (arr == 128).all()


def _put(write, codes, run, value):
    """Annex K symbol (run << 4 | size) then the value's size bits."""
    size = abs(value).bit_length()
    write(*codes[run << 4 | size])
    if size:
        write(value if value > 0 else value + (1 << size) - 1, size)


def _baseline_block(write, dc_codes, ac_codes, diff, zz):
    """One baseline block: DC difference, then AC runs + EOB."""
    _put(write, dc_codes, 0, diff)
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            _put(write, ac_codes, 15, 0)
            run -= 16
        _put(write, ac_codes, run, int(zz[k]))
        run = 0
    if run:
        _put(write, ac_codes, 0, 0)


def _three_component_sof0(coefs, interleaved):
    """A 16x16 YCbCr 4:4:4 SOF0 stream (qt all ones, Annex K luma
    tables for every component) carrying zigzag coefficients
    ``coefs[comp][by][bx]``: one interleaved scan, or one
    non-interleaved full-band scan per component."""
    dc = jpeg._encode_codes(*jpeg._DC_LUMA)
    ac = jpeg._encode_codes(*jpeg._AC_LUMA)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes([1] * 64))
    frame = bytes([8]) + struct.pack(">HH", 16, 16) + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    out += _seg(0xC0, frame)
    for th, (bits, values) in ((0x00, jpeg._DC_LUMA), (0x10, jpeg._AC_LUMA)):
        out += _seg(0xC4, bytes([th]) + bytes(bits) + bytes(values))
    scans = [[0, 1, 2]] if interleaved else [[0], [1], [2]]
    for comps in scans:
        header = bytes([len(comps)]) + b"".join(bytes([ci + 1, 0x00]) for ci in comps)
        out += _seg(0xDA, header + bytes([0, 63, 0]))
        bw = jpeg._BitWriter()
        pred = [0, 0, 0]
        for by in range(2):
            for bx in range(2):
                for ci in comps:
                    zz = coefs[ci][by][bx]
                    _baseline_block(bw.write, dc, ac, int(zz[0]) - pred[ci], zz)
                    pred[ci] = int(zz[0])
        bw.flush()
        out += bw.out
    return bytes(out + b"\xff\xd9")


def _sof0_coefficients():
    rng = np.random.default_rng(17)
    coefs = np.zeros((3, 2, 2, 64), dtype=np.int64)
    coefs[..., 0] = rng.integers(-300, 300, size=(3, 2, 2))
    for k in (1, 2, 5, 9, 20, 40, 63):
        coefs[..., k] = rng.integers(-40, 40, size=(3, 2, 2))
    return coefs


def test_decode_non_interleaved_baseline_scans():
    """A legal SOF0 frame may code each component in its own
    full-band scan (T.81 A.2.2); it must decode exactly like the
    interleaved scan carrying the same coefficients."""
    coefs = _sof0_coefficients()
    interleaved = jpeg.decode_jpeg(_three_component_sof0(coefs, True))
    separate = jpeg.decode_jpeg(_three_component_sof0(coefs, False))
    assert interleaved.shape == (16, 16, 3)
    assert np.array_equal(separate, interleaved)


def test_baseline_scan_header_must_cover_full_band():
    data = bytearray(_three_component_sof0(_sof0_coefficients(), True))
    sos = data.find(b"\xff\xda")
    se_at = sos + 4 + 1 + 2 * 3 + 1  # marker, length, Ns, 3 x (Cs, Td/Ta), Ss
    assert data[se_at] == 63
    data[se_at] = 5
    with pytest.raises(ValueError, match="baseline scan"):
        jpeg.decode_jpeg(bytes(data))


def test_flat_rgb_block_entropy_bytes_match_hand_derivation():
    """Flat RGB 128 -> Y=128, Cb=Cr=128: every coefficient is zero.
    Hand-derived entropy stream: Y '00'+'1010', Cb/Cr '00'+'00' each
    (chroma DC cat0 = '00', chroma EOB = '00'), 14 bits padded with
    1-bits -> 0x28 0x03."""
    data = jpeg.encode_jpeg(np.full((8, 8, 3), 128, np.uint8), quality=85)
    sos = data.find(b"\xff\xda")
    seg_len = struct.unpack(">H", data[sos + 2 : sos + 4])[0]
    entropy = data[sos + 2 + seg_len : -2]
    assert entropy == bytes([0x28, 0x03])
    arr = jpeg.decode_jpeg(data)
    assert (arr == 128).all() and arr.shape == (8, 8, 3)


@pytest.mark.parametrize("shape", [(8, 8), (16, 24), (17, 13)])
def test_roundtrip_gray_psnr(shape):
    rng = np.random.default_rng(7)
    # smooth content (JPEG-friendly): low-frequency gradient + mild noise
    y, x = np.indices(shape)
    img = (96 + 3 * x + 2 * y + rng.integers(0, 6, shape)).clip(0, 255).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))
    assert out.shape == (*shape, 1)
    err = out[:, :, 0].astype(np.float64) - img
    psnr = 10 * np.log10(255.0**2 / max((err**2).mean(), 1e-9))
    assert psnr > 30.0, psnr


def test_roundtrip_rgb_psnr():
    rng = np.random.default_rng(11)
    y, x = np.indices((24, 40))
    img = np.stack(
        [(40 + 4 * x) % 256, (30 + 3 * y) % 256, (60 + x + y) % 256], axis=2
    ).astype(np.uint8)
    img = (img.astype(np.int32) + rng.integers(0, 5, img.shape)).clip(0, 255).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))
    assert out.shape == img.shape
    err = out.astype(np.float64) - img
    psnr = 10 * np.log10(255.0**2 / max((err**2).mean(), 1e-9))
    assert psnr > 28.0, psnr


def test_decode_image_operator_routes_jpeg(spark):
    from rio_toa_spark.operators.multimodal import decode_image

    img = np.full((16, 8, 3), 200, np.uint8)
    payload = jpeg.encode_jpeg(img, quality=90)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    row = decode_image(df).collect()[0]
    assert (row.height, row.width, row.channels) == (16, 8, 3)
    got = np.frombuffer(row.pixels, np.uint8).reshape(16, 8, 3)
    assert abs(got.astype(int) - 200).max() <= 4  # flat block, small quant error


@pytest.mark.parametrize("shape", [(16, 16), (24, 40), (18, 21)])
def test_roundtrip_rgb_420_psnr(shape):
    """4:2:0 exercises the decoder's sampling-factor MCU layout and
    chroma upsampling."""
    h, w = shape
    y, x = np.indices(shape)
    img = np.stack(
        [(50 + 2 * x) % 256, (80 + 2 * y) % 256, (90 + x + y) % 256], axis=2
    ).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95, subsampling="420"))
    assert out.shape == img.shape
    err = out.astype(np.float64) - img
    psnr = 10 * np.log10(255.0**2 / max((err**2).mean(), 1e-9))
    assert psnr > 26.0, psnr


@pytest.mark.parametrize("subsampling", ["444", "420", "422"])
def test_roundtrip_with_restart_markers(subsampling):
    """DRI/RSTn: predictor resets and bitstream resync must decode to
    the same image as the marker-free encoding."""
    y, x = np.indices((32, 48))
    img = np.stack(
        [(60 + 2 * x) % 256, (90 + y) % 256, (30 + x + 2 * y) % 256], axis=2
    ).astype(np.uint8)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=92, subsampling=subsampling))
    rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg(img, quality=92, subsampling=subsampling, restart_interval=2)
    )
    assert (plain == rst).all()  # identical quantized content, markers transparent


# ------------------------------------------------- progressive (SOF2)


@pytest.mark.parametrize("shape", [(8, 8), (17, 23), (32, 32, 3), (24, 40, 3)])
def test_progressive_roundtrip_matches_baseline(shape):
    """The progressive encoder emits the SAME quantized coefficients
    as baseline, just split across scans — so progressive decode must
    reproduce the baseline decode exactly, pixel for pixel."""
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(img, quality=90))
    assert np.array_equal(base, prog)


def _prog_headers(h, w, qt_bytes):
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + qt_bytes)
    out += _seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    bits, values = jpeg._DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(values))
    bits, values = jpeg._AC_LUMA
    out += _seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(values))
    return out


def _scan(out, ss, se, ah, al, emit):
    """Append one single-component SOS + entropy bytes built by
    ``emit(write)`` where write(code, length) is MSB-first."""
    out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
    bw = jpeg._BitWriter()
    emit(bw.write)
    bw.flush()
    out += bw.out


def test_progressive_spec_level_sa_fixture():
    """Hand-assembled successive-approximation stream (T.81 Annex G)
    the repo's encoder cannot emit: DC sent at Al=1 then refined; AC
    band sent at Al=1 then refined at Al=0 with a correction bit that
    flips an existing coefficient (-2 -> -3), a NEW +-1<<0 coefficient
    appearing mid-band, and post-EOB correction bits. Target zigzag
    coefficients (qt all ones): DC=5, k1=-3, k2=-1, k4=+2.

    Scan script and symbols (Annex K luma tables):
      1. DC first  Al=1: sends 5>>1=2      -> cat 2 + bits '10'
      2. DC refine Al=0: raw bit 5&1=1
      3. AC first  Al=1: k1 -3/2->-1 (0x01 + mag 0),
                         k4  2/2->+1 (run 2: 0x21 + mag 1), EOB
      4. AC refine Al=0: new k2=-1 (0x01 + sign 0) with correction
                         bit 1 for k1 passed on the way (-2 -> -3),
                         then EOB + correction bit 0 for k4 (stays 2)
    """
    dc = jpeg._encode_codes(*jpeg._DC_LUMA)
    ac = jpeg._encode_codes(*jpeg._AC_LUMA)
    out = _prog_headers(8, 8, bytes([1] * 64))

    def scan1(w):
        w(*dc[2])
        w(0b10, 2)  # diff = +2

    def scan2(w):
        w(1, 1)

    def scan3(w):
        w(*ac[0x01])
        w(0, 1)  # -1 magnitude bits
        w(*ac[0x21])
        w(1, 1)  # +1 magnitude bits
        w(*ac[0x00])  # EOB

    def scan4(w):
        w(*ac[0x01])
        w(0, 1)  # sign: negative -> new coef -1<<0
        w(1, 1)  # correction bit for k1: -2 -> -3
        w(*ac[0x00])  # EOB
        w(0, 1)  # correction bit for k4: stays +2

    _scan(out, 0, 0, 0, 1, scan1)
    _scan(out, 0, 0, 1, 0, scan2)
    _scan(out, 1, 63, 0, 1, scan3)
    _scan(out, 1, 63, 1, 0, scan4)
    out += b"\xff\xd9"

    got = jpeg.decode_jpeg(bytes(out))

    # expected pixels via an independently constructed IDCT basis
    M = np.zeros((8, 8))
    for x in range(8):
        for u in range(8):
            cu = np.sqrt(0.125) if u == 0 else 0.5
            M[x, u] = cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    nat = np.zeros(64)
    nat[jpeg._ZZ[[0, 1, 2, 4]]] = [5.0, -3.0, -1.0, 2.0]
    px = M @ nat.reshape(8, 8) @ M.T + 128.0
    expected = np.clip(np.round(px), 0, 255).astype(np.uint8)[:, :, None]
    assert np.array_equal(got, expected)


def test_progressive_eobrun_spans_blocks():
    """An EOB1 run (eobrun covering the next block too) in an AC first
    scan: both blocks must come out DC-only. The Annex K AC table has
    no EOBn>0 symbols (baseline never needs them), so the fixture
    installs a one-symbol custom AC table: 0x10 = code '0', length 1."""
    dc = jpeg._encode_codes(*jpeg._DC_LUMA)
    out = _prog_headers(8, 16, bytes([1] * 64))
    eob1_bits = [1] + [0] * 15
    out += _seg(0xC4, bytes([0x10]) + bytes(eob1_bits) + bytes([0x10]))

    def scan1(w):  # DC first Al=0: block A DC=4 (diff 4), block B DC=4 (diff 0)
        w(*dc[3])
        w(0b100, 3)
        w(*dc[0])

    def scan2(w):  # AC first: single EOB1 symbol, appended bit 0 -> eobrun=1
        w(0, 1)  # the custom table's 0x10 code
        w(0, 1)  # appended eobrun bit

    _scan(out, 0, 0, 0, 0, scan1)
    _scan(out, 1, 63, 0, 0, scan2)
    out += b"\xff\xd9"
    got = jpeg.decode_jpeg(bytes(out))
    # DC=4, qt=1 -> flat 4 * 1/8 + 128 = 128.5 -> rounds to even 128
    assert got.shape == (8, 16, 1)
    assert (got == round(4 / 8.0 + 128)).all()


def test_decode_image_operator_routes_progressive(spark):
    """SOF2 payloads must take the genuine JPEG path in decode_image,
    not the stub."""
    from rio_toa_spark.operators.multimodal import decode_image

    y, x = np.indices((16, 16))
    img = np.stack([(40 + 4 * x) % 256, (60 + 4 * y) % 256, (x * y) % 256], axis=2).astype(np.uint8)
    payload = jpeg.encode_jpeg_progressive(img, quality=95)
    df = spark.createDataFrame([(1, payload)], "media_id int, payload binary")
    row = decode_image(df).collect()[0]
    assert row.decode_status == "genuine_jpeg"
    dec = np.frombuffer(row.pixels, np.uint8).reshape(16, 16, 3).astype(np.float64)
    psnr = 10 * np.log10(255.0**2 / max(np.mean((dec - img) ** 2), 1e-9))
    assert psnr > 26.0, psnr


@pytest.mark.parametrize("shape", [(32, 32, 3), (24, 40, 3), (18, 21, 3)])
def test_progressive_420_roundtrip_matches_baseline(shape):
    """4:2:0 progressive — the dominant shape of real web progressive
    JPEGs — must decode pixel-identical to the baseline 4:2:0 path
    (same quantized coefficients; the odd-size cases exercise the
    padded-MCU vs real block-grid divergence in luma AC scans)."""
    rng = np.random.default_rng(77)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=92, subsampling="420"))
    prog = jpeg.decode_jpeg(
        jpeg.encode_jpeg_progressive(img, quality=92, subsampling="420")
    )
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("subsampling", ["444", "420"])
def test_progressive_restart_markers(subsampling):
    """RSTn inside progressive scans (DC predictor + EOBRUN resync,
    per-MCU in interleaved scans and per-block in AC scans) must be
    transparent: identical pixels vs the marker-free stream."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    plain = jpeg.decode_jpeg(
        jpeg.encode_jpeg_progressive(img, quality=92, subsampling=subsampling)
    )
    rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg_progressive(
            img, quality=92, subsampling=subsampling, restart_interval=3
        )
    )
    assert np.array_equal(plain, rst)


def test_decode_image_fuzzed_progressive_payloads(spark):
    """Fuzz the progressive marker path through the REAL operator: a
    valid SOF2 header followed by garbage scans must fall back to the
    stub (never raise, never hang), and truly valid progressive
    payloads among the batch must still decode genuinely."""
    from rio_toa_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(4321)
    good = jpeg.encode_jpeg_progressive(
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8), quality=90
    )
    sos = good.find(b"\xff\xda")
    payloads = [good]
    for i in range(40):
        cut = int(rng.integers(4, len(good)))
        noise = rng.integers(0, 256, size=int(rng.integers(0, 200)), dtype=np.uint8).tobytes()
        payloads.append(good[:cut] + noise)
        payloads.append(good[:sos] + noise)  # valid headers, garbage scan
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    rows = {r.media_id: r for r in decode_image(df).collect()}
    assert len(rows) == len(payloads)
    assert rows[0].decode_status == "genuine_jpeg"
    for r in rows.values():
        assert len(r.pixels) == r.height * r.width * r.channels


@pytest.mark.parametrize("shape", [(16, 16), (24, 40), (18, 21)])
def test_roundtrip_rgb_422_psnr(shape):
    """4:2:2 (two-luma-block MCUs, horizontally-averaged chroma)
    exercises the decoder's h=2,v=1 sampling-factor path."""
    y, x = np.indices(shape)
    img = np.stack(
        [(50 + 2 * x) % 256, (80 + 2 * y) % 256, (90 + x + y) % 256], axis=2
    ).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95, subsampling="422"))
    assert out.shape == img.shape
    err = out.astype(np.float64) - img
    psnr = 10 * np.log10(255.0**2 / max((err**2).mean(), 1e-9))
    assert psnr > 26.0, psnr


def test_decoder_skips_app_and_comment_segments():
    """Real files carry JFIF/Exif APPn and COM segments; the marker
    walk must skip them by length without disturbing the decode."""
    img = np.full((8, 8, 3), 140, np.uint8)
    data = jpeg.encode_jpeg(img, quality=90)
    extra = (
        _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + _seg(0xE1, b"Exif\x00\x00" + bytes(range(20)))
        + _seg(0xFE, b"a comment \xff\x00 with tricky bytes")
    )
    spliced = data[:2] + extra + data[2:]
    assert np.array_equal(jpeg.decode_jpeg(spliced), jpeg.decode_jpeg(data))


def test_unsupported_sof_variants_rejected_explicitly():
    """SOF1/3/5..15 (extended sequential, lossless, arithmetic,
    differential) must raise a clear ValueError, not an obscure
    empty-components error at SOS."""
    good = jpeg.encode_jpeg(np.full((8, 8), 90, np.uint8), quality=90)
    sof_at = good.find(b"\xff\xc0")
    for m in (0xC1, 0xC3, 0xC9, 0xCB, 0xCF):
        bad = bytearray(good)
        bad[sof_at + 1] = m
        with pytest.raises(ValueError, match="SOF"):
            jpeg.decode_jpeg(bytes(bad))
    with pytest.raises(ValueError, match="SOS before SOF"):
        # strip the SOF segment entirely
        seg_len = int.from_bytes(good[sof_at + 2 : sof_at + 4], "big")
        jpeg.decode_jpeg(good[:sof_at] + good[sof_at + 2 + seg_len :])


def _pinned_images():
    y, x = np.indices((19, 23))
    smooth = np.stack([(40 + 5 * x) % 256, (90 + 7 * y) % 256, (x * y) % 256], axis=2)
    return {
        "gray_1x1": np.array([[173]], np.uint8),
        "gray_17x13": ((np.indices((17, 13)) * [[[37]], [[101]]]).sum(axis=0) % 256).astype(np.uint8),
        "rgb_1x1": np.array([[[250, 3, 128]]], np.uint8),
        "rgb_19x23": (smooth + (x * 13 + y * 29)[..., None] % 41).clip(0, 255).astype(np.uint8),
    }


# md5 over the concatenated bytes of every (subsampling, quality,
# restart interval) combination below, per encoder and image. perfbench
# and the tests mint their JPEG payloads with these encoders, so a
# change in their output bytes changes those inputs.
_PINNED_DIGESTS = {
    ("encode_jpeg", "gray_17x13"): "d2aa6fbb3027d6dffa188b6e204f98f8",
    ("encode_jpeg", "gray_1x1"): "c3d53793587e03e5a83c2d857b44bae5",
    ("encode_jpeg", "rgb_19x23"): "bcd50621d1d43da4543d217f2d83109f",
    ("encode_jpeg", "rgb_1x1"): "8db26d2969eab97f66fdd59035165be5",
    ("encode_jpeg_progressive", "gray_17x13"): "b01901502d635a7afbba364fbc8efbc4",
    ("encode_jpeg_progressive", "gray_1x1"): "b9a9ecb2ddfb8da652ff27a77a4fbb6f",
    ("encode_jpeg_progressive", "rgb_19x23"): "9cc5dc83370b47f7d9003fb42ee3ba54",
    ("encode_jpeg_progressive", "rgb_1x1"): "6023d9102937ca035fff3c7ad187258c",
}


def _encoded_digest(module, encoder, image):
    layouts = ("444", "420", "422") if encoder == "encode_jpeg" else ("444", "420")
    h = hashlib.md5()
    for subsampling in layouts:
        for quality in (1, 85, 100):
            for restart_interval in (0, 1, 5):
                h.update(
                    getattr(module, encoder)(
                        _pinned_images()[image], quality=quality,
                        subsampling=subsampling, restart_interval=restart_interval,
                    )
                )
    return h.hexdigest()


@pytest.mark.parametrize("encoder,image", sorted(_PINNED_DIGESTS))
def test_encoder_bytes_pinned(encoder, image):
    assert _encoded_digest(jpeg, encoder, image) == _PINNED_DIGESTS[(encoder, image)]


def test_zero_sampling_factor_rejected():
    """A sampling factor of 0 in SOF is a parse error (ValueError, so
    the media operators fall back to the stub), not a division by zero
    in the block-grid geometry."""
    good = jpeg.encode_jpeg(np.full((8, 8, 3), 90, np.uint8), quality=90)
    hv_at = good.find(b"\xff\xc0") + 4 + 6 + 1  # marker, length, P Y X Nf, C1
    for at, hv in ((hv_at, 0x01), (hv_at + 3, 0x10), (hv_at + 3, 0x00)):
        bad = bytearray(good)
        bad[at] = hv
        with pytest.raises(ValueError, match="sampling factors"):
            jpeg.decode_jpeg(bytes(bad))
