"""Multimodal plumbing: typed metadata, genuine PNG/JPEG/AVI/WAV
decodes with labeled stub fallback, resize, features, frame sampling —
plus the PNG codec's palette / sub-8-bit / Adam7 / 16-bit fixtures."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media_df(spark):
    png_magic = bytes([137, 80, 78, 71]) + b"rest-of-payload"
    jpg_magic = b"\xff\xd8\xff\xe0" + b"jfif-payload"
    rows = [
        (1, png_magic),
        (2, jpg_magic),
        (3, b"RIFFxxxxWAVE"),
        (4, b"\x00\x01opaque"),
    ]
    return spark.createDataFrame(rows, "media_id int, payload binary")


def test_describe_media_types(spark, media_df):
    out = {r.media_id: r.media_meta for r in mm.describe_media(media_df).collect()}
    assert out[1].media_type == "image/png"
    assert out[2].media_type == "image/jpeg"
    assert out[3].media_type == "audio/wav"
    assert out[4].media_type == "application/octet-stream"
    assert all(m.n_bytes > 0 and m.content_hash > 0 for m in out.values())


def test_decode_deterministic(spark, media_df):
    a = {r.media_id: r.pixels for r in mm.decode_image(media_df).collect()}
    b = {r.media_id: r.pixels for r in mm.decode_image(media_df).collect()}
    assert a == b
    assert all(len(v) == 32 * 32 * 3 for v in a.values())


def test_resize_shapes(spark, media_df):
    decoded = mm.decode_image(media_df)
    small = mm.resize_image(decoded, out_h=8, out_w=8).collect()
    for r in small:
        assert (r.height, r.width, r.channels) == (8, 8, 3)
        assert len(r.pixels) == 8 * 8 * 3
    # nearest-neighbor: resized pixels are a subset sample of source
    src = {r.media_id: np.frombuffer(r.pixels, np.uint8).reshape(32, 32, 3) for r in decoded.collect()}
    for r in small:
        arr = np.frombuffer(r.pixels, np.uint8).reshape(8, 8, 3)
        assert np.array_equal(arr[0, 0], src[r.media_id][0, 0])


def test_image_features(spark, media_df):
    out = mm.image_features(mm.decode_image(media_df)).collect()
    for r in out:
        assert len(r.features) == 6  # mean + std per channel
        assert all(0 <= f <= 255 for f in r.features[:3])


def test_png_roundtrip_all_channel_counts():
    from rio_toa_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        arr = rng.integers(0, 256, size=(13, 9, c), dtype=np.uint8)
        out = decode_png(encode_png(arr))
        assert out.shape == (13, 9, c)
        assert np.array_equal(out, arr)


def test_png_decoder_handles_all_filters():
    """Hand-built IDAT streams exercise scanline filters 1-4 (our
    encoder only emits 0); unfiltering must invert exactly."""
    import struct
    import zlib

    from rio_toa_spark.functions.png import PNG_SIGNATURE, _chunk, decode_png

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    h, w, c = arr.shape
    bpp = c

    def filt(r, ftype):
        row = arr[r].reshape(-1).astype(int)
        prev = arr[r - 1].reshape(-1).astype(int) if r > 0 else np.zeros(w * c, int)
        out = np.zeros_like(row)
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = prev[i]
            elif ftype == 3:
                pred = (left + prev[i]) >> 1
            else:
                p = left + prev[i] - ul
                pa, pb, pc = abs(p - left), abs(p - prev[i]), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (prev[i] if pb <= pc else ul)
            out[i] = (row[i] - pred) & 0xFF
        return bytes([ftype]) + bytes(out.astype(np.uint8))

    raw = b"".join(filt(r, r % 5) for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), arr)


def test_decode_image_real_png_path(spark):
    """PNG payloads take the genuine decode; non-PNG stays on the
    stub — both through the same operator."""
    from rio_toa_spark.functions.png import encode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    rows = [(1, encode_png(img)), (2, b"\x00\x01opaque")]
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    got = {r.media_id: r for r in mm.decode_image(df).collect()}
    assert (got[1].height, got[1].width, got[1].channels) == (16, 16, 3)
    assert np.array_equal(
        np.frombuffer(got[1].pixels, np.uint8).reshape(16, 16, 3), img
    )
    assert (got[2].height, got[2].width, got[2].channels) == (32, 32, 3)


def test_decode_image_output_bounded_by_arrow_bytes(spark, monkeypatch):
    """Decoding multiplies bytes, so decode_image cuts its output frames
    at spark.sql.execution.arrow.maxBytesPerBatch. Lowering that conf
    splits one input batch into frames of at most three decoded images
    and changes no output row."""
    import pyspark.sql.classic.dataframe as df_mod

    from rio_toa_spark.functions.png import encode_png

    rng = np.random.default_rng(5)
    rows = [
        (i, encode_png(rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    default = mm.decode_image(df).collect()

    kernels = []
    orig = df_mod.DataFrame.mapInArrow

    def spy(self, fn, schema, *args, **kwargs):
        kernels.append(fn)
        return orig(self, fn, schema, *args, **kwargs)

    monkeypatch.setattr(df_mod.DataFrame, "mapInArrow", spy)
    conf = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(3 * 16 * 16 * 3))
    try:
        lowered = mm.decode_image(df).collect()
    finally:
        spark.conf.set(conf, old)
    assert lowered == default

    # the kernel, run on one 40-row batch in this process
    batch = pa.RecordBatch.from_pydict(
        {"media_id": [k for k, _ in rows], "payload": [p for _, p in rows]},
        schema=pa.schema([("media_id", pa.int32()), ("payload", pa.binary())]),
    )
    frames = list(kernels[0](iter([batch])))
    assert [f.num_rows for f in frames] == [3] * 13 + [1]
    assert pa.Table.from_batches(frames).column("media_id").to_pylist() == list(range(40))


def test_decode_status_provenance(spark):
    # decode provenance: genuine codec paths vs stub fallback must be
    # distinguishable downstream (a 100TB pipeline needs to quantify
    # and filter fallback decodes, not silently train on seeded noise)
    from rio_toa_spark.functions.jpeg import encode_jpeg
    from rio_toa_spark.functions.png import encode_png

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    rows = [
        (1, encode_png(img)),  # genuine PNG decode
        (2, encode_jpeg(img)),  # genuine baseline JPEG decode
        (3, b"\x89PNG\r\n\x1a\n" + b"corrupt"),  # bad PNG -> stub
        (4, b"\x00\x01opaque"),  # unknown format -> stub
    ]
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    got = {r.media_id: r.decode_status for r in mm.decode_image(df).collect()}
    assert got == {1: "genuine_png", 2: "genuine_jpeg", 3: "stub", 4: "stub"}
    # provenance rides through resize and features unchanged
    feats = mm.image_features(mm.resize_image(mm.decode_image(df))).collect()
    assert {r.media_id: r.decode_status for r in feats} == got


def test_png_rejects_garbage():
    from rio_toa_spark.functions.png import decode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_sample_video_frames_expands_rows(spark, media_df):
    out = mm.sample_video_frames(media_df, n_frames=4).collect()
    assert len(out) == media_df.count() * 4
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, set()).add(r.frame_idx)
    assert all(v == {0, 1, 2, 3} for v in by_media.values())
    # frames differ from each other (per-frame seed)
    first = [r for r in out if r.media_id == 1]
    assert len({r.pixels for r in first}) == 4


def test_decode_image_corrupt_jpeg_falls_back(spark):
    # payloads that merely START with the JPEG signature must fall
    # through to the deterministic stub whatever parse error the codec
    # hits (KeyError/IndexError/OverflowError/struct.error, not just
    # ValueError) — one bad payload must never kill the Arrow batch
    import numpy as np

    from rio_toa_spark.functions.jpeg import encode_jpeg, encode_jpeg_progressive

    payloads = [
        b"\xff\xd8\xff" + bytes(range(64)),
        b"\xff\xd8\xff\xe0\x00",
        b"\xff\xd8\xff\xdb\x00\x04\x10" + b"\x00" * 3,
    ]
    # a DC table whose one code ('0') means category 200, and zero
    # entropy bytes: a 200-bit DC difference, out of any coefficient
    # range (baseline and progressive take the same coefficient store)
    dht = b"\xff\xc4\x00\x14\x00" + bytes([1] + [0] * 15) + bytes([200])
    for encode in (encode_jpeg, encode_jpeg_progressive):
        good = encode(np.full((8, 8), 90, np.uint8))
        sos = good.find(b"\xff\xda")
        sos_end = sos + 2 + int.from_bytes(good[sos + 2 : sos + 4], "big")
        payloads.append(good[:sos] + dht + good[sos:sos_end] + bytes(40) + b"\xff\xd9")
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    rows = {r.media_id: bytes(r.pixels) for r in mm.decode_image(df).collect()}
    assert len(rows) == len(payloads)
    for i, p in enumerate(payloads):
        assert rows[i] == mm._fake_decode(p).tobytes()


def test_decode_image_never_raises_on_fuzzed_payloads(spark):
    # the REAL operator over fuzzed payloads forced under each magic
    # signature: every row must decode via codec -> fallback chain,
    # never raise (the documented never-raises seam). Any parse
    # exception type the codecs can throw that is missing from the
    # catch list kills this test, which is the point.
    import numpy as np

    rng = np.random.default_rng(1234)
    prefixes = [b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"RIFF"]
    payloads = [
        prefixes[i % 4]
        + rng.integers(0, 256, size=int(rng.integers(0, 300)), dtype=np.uint8).tobytes()
        for i in range(80)
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    rows = mm.decode_image(df).collect()
    assert len(rows) == 80
    for r in rows:
        assert r.channels in (1, 2, 3, 4)
        assert len(r.pixels) == r.height * r.width * r.channels


def test_png_16bit_roundtrip_bitwise():
    # 16-bit depth: Landsat DN range values survive encode->decode
    # exactly (big-endian samples on the wire, bytewise filters)
    from rio_toa_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(21)
    for shape in [(11, 7), (16, 16, 3), (9, 13, 4)]:
        arr = rng.integers(0, 65536, size=shape, dtype=np.uint16)
        out = decode_png(encode_png(arr))
        assert out.dtype == np.uint16
        assert np.array_equal(out, arr.reshape(out.shape))
    # a DN-like tile: values well past uint8 range
    dn = rng.integers(5000, 55000, size=(32, 32), dtype=np.uint16)
    assert np.array_equal(decode_png(encode_png(dn))[:, :, 0], dn)


def test_png_16bit_filtered_decode():
    # hand-filtered 16-bit scanlines (sub at bpp=2, then up): the
    # decoder's bytewise unfilter must reproduce the raw big-endian
    # samples with the doubled pixel offset
    import struct
    import zlib

    from rio_toa_spark.functions.png import PNG_SIGNATURE, decode_png
    from rio_toa_spark.functions.png import _chunk

    arr = np.array([[300, 70, 65535, 512], [256, 255, 1, 40000]], dtype=np.uint16)
    h, w = arr.shape
    be = arr.astype(">u2").tobytes()
    rows = [np.frombuffer(be, np.uint8)[r * w * 2 : (r + 1) * w * 2].astype(int) for r in range(h)]
    # row 0: filter 1 (sub), bpp = 2 bytes
    r0 = rows[0].copy()
    for i in range(len(r0) - 1, 1, -1):
        r0[i] = (r0[i] - r0[i - 2]) & 0xFF
    # row 1: filter 2 (up)
    r1 = (rows[1] - rows[0]) & 0xFF
    raw = bytes([1]) + bytes(r0.astype(np.uint8)) + bytes([2]) + bytes(r1.astype(np.uint8))
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    data = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data)[:, :, 0], arr)


def test_decode_image_16bit_png_high_byte(spark):
    # the uint8-contract operators keep the high byte of 16-bit decodes
    # and still report a genuine decode — a still PNG through
    # decode_image and the same PNG as a Motion-PNG frame through
    # sample_video_frames give the same pixels
    from rio_toa_spark.functions.avi import encode_avi
    from rio_toa_spark.functions.png import encode_png

    arr = np.arange(256, dtype=np.uint16).reshape(16, 16) * 257  # 0..65535
    png = encode_png(arr)
    df = spark.createDataFrame([(1, png)], "media_id int, payload binary")
    row = mm.decode_image(df).collect()[0]
    assert row.decode_status == "genuine_png"
    got = np.frombuffer(row.pixels, np.uint8).reshape(16, 16, 1)
    assert np.array_equal(got[:, :, 0], (arr >> 8).astype(np.uint8))

    video = encode_avi([png], 16, 16, fourcc=b"MPNG")
    vdf = spark.createDataFrame([(1, video)], "media_id int, payload binary")
    frames = mm.sample_video_frames(vdf, n_frames=1)
    frame = frames.collect()[0]
    assert frame.decode_status == "genuine_mpng"
    assert (frame.height, frame.width, frame.channels) == (16, 16, 1)
    assert bytes(frame.pixels) == bytes(row.pixels)
    feats = mm.image_features(mm.resize_image(frames)).collect()
    assert [r.decode_status for r in feats] == ["genuine_mpng"]


def _png_fixture(w, h, depth, color, raw, extra=b""):
    import struct
    import zlib

    from rio_toa_spark.functions.png import PNG_SIGNATURE, _chunk

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + extra
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def test_png_palette_decode():
    # 8-bit palette: indices map through PLTE; with tRNS -> RGBA
    from rio_toa_spark.functions.png import _chunk, decode_png

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
    idx = np.array([[0, 1, 2], [3, 2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + r.tobytes() for r in idx)
    data = _png_fixture(3, 2, 8, 3, raw, extra=_chunk(b"PLTE", plte))
    got = decode_png(data)
    pal = np.frombuffer(plte, np.uint8).reshape(4, 3)
    assert np.array_equal(got, pal[idx])
    # + tRNS: first two entries translucent, rest default opaque
    data_a = _png_fixture(
        3, 2, 8, 3, raw, extra=_chunk(b"PLTE", plte) + _chunk(b"tRNS", bytes([10, 20]))
    )
    got_a = decode_png(data_a)
    assert got_a.shape == (2, 3, 4)
    alpha = np.array([10, 20, 255, 255], np.uint8)
    assert np.array_equal(got_a[:, :, 3], alpha[idx])
    assert np.array_equal(got_a[:, :, :3], pal[idx])


def test_png_palette_4bit_packed():
    # 4-bit palette indices pack two per byte, MSB-first
    from rio_toa_spark.functions.png import _chunk, decode_png

    plte = b"".join(bytes([i * 16, i * 8, i]) for i in range(16))
    idx = np.array([[1, 15, 3, 7, 2]], dtype=np.uint8)  # 5 px -> 3 bytes/row
    packed = bytes([0x1F, 0x37, 0x20])
    data = _png_fixture(5, 1, 4, 3, b"\x00" + packed, extra=_chunk(b"PLTE", plte))
    got = decode_png(data)
    pal = np.frombuffer(plte, np.uint8).reshape(16, 3)
    assert np.array_equal(got, pal[idx])


def test_png_grey_sub8_scaled():
    # 1-bit: 0/1 -> 0/255; 4-bit: v -> v*17
    from rio_toa_spark.functions.png import decode_png

    bits = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1, 1]], dtype=np.uint8)  # 10 px
    packed = np.packbits(bits, axis=1).tobytes()
    got = decode_png(_png_fixture(10, 1, 1, 0, b"\x00" + packed))
    assert np.array_equal(got[:, :, 0], bits * 255)
    nib = np.array([[0, 5, 15, 9]], dtype=np.uint8)
    packed4 = bytes([0x05, 0xF9])
    got4 = decode_png(_png_fixture(4, 1, 4, 0, b"\x00" + packed4))
    assert np.array_equal(got4[:, :, 0], nib * 17)


@pytest.mark.parametrize("shape", [(16, 16), (13, 9), (3, 3), (1, 10)])
def test_png_adam7_interlaced_decode(shape):
    # build an Adam7 stream test-side (filter-0 scanlines per pass,
    # empty passes omitted) and require bitwise recovery
    import zlib

    from rio_toa_spark.functions.png import _ADAM7, decode_png

    h, w = shape
    rng = np.random.default_rng(h * 100 + w)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for r in range(sub.shape[0]):
            raw += b"\x00" + sub[r].tobytes()
    import struct as _s

    from rio_toa_spark.functions.png import PNG_SIGNATURE, _chunk

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    data = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), arr)


def test_png_palette_index_out_of_range_raises():
    from rio_toa_spark.functions.png import _chunk, decode_png

    plte = bytes([1, 2, 3])  # one entry
    raw = b"\x00" + bytes([4])  # index 4 > palette
    data = _png_fixture(1, 1, 8, 3, raw, extra=_chunk(b"PLTE", plte))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(data)


def test_png_adam7_16bit():
    # interlacing composes with 16-bit samples (big-endian, 2-byte bpp)
    import struct as _s
    import zlib

    from rio_toa_spark.functions.png import PNG_SIGNATURE, _ADAM7, _chunk, decode_png

    rng = np.random.default_rng(99)
    arr = rng.integers(0, 65536, size=(9, 6, 1), dtype=np.uint16)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for r in range(sub.shape[0]):
            raw += b"\x00" + sub[r].astype(">u2").tobytes()
    ihdr = _s.pack(">IIBBBBB", 6, 9, 16, 0, 0, 0, 1)
    data = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    got = decode_png(data)
    assert got.dtype == np.uint16
    assert np.array_equal(got, arr)


def test_decode_frame_memory_budget():
    """A 64-image decode frame holds its decoded arrays plus ONE data
    buffer that the Arrow pixels column wraps: per-row tobytes() copies
    then a from_pydict copy held ~3x the frame's pixels."""
    import tracemalloc

    from rio_toa_spark.functions.png import encode_png
    from rio_toa_spark.operators import arrow_batch

    imgs = [np.full((64, 64, 3), i, np.uint8) for i in range(64)]
    batch = pa.RecordBatch.from_pydict(
        {"media_id": list(range(64)), "payload": [encode_png(a) for a in imgs]},
        schema=pa.schema([("media_id", pa.int64()), ("payload", pa.binary())]),
    )
    out_schema = pa.schema(
        [("media_id", pa.int64())]
        + [(c, pa.int32()) for c in ("height", "width", "channels")]
        + [("pixels", pa.binary()), ("decode_status", pa.string())]
    )
    pixels = sum(a.nbytes for a in imgs)
    arrow0 = pa.total_allocated_bytes()
    tracemalloc.start()
    try:
        frames = [
            arrow_batch(cols, out_schema)
            for cols in mm._decode_frames(iter([batch]), "payload", "media_id", 1 << 26)
        ]
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    arrow_held = pa.total_allocated_bytes() - arrow0
    assert [f.num_rows for f in frames] == [64]
    assert frames[0].column("pixels").to_pylist() == [a.tobytes() for a in imgs]
    assert set(frames[0].column("decode_status").to_pylist()) == {"genuine_png"}
    assert peak + arrow_held < 2.25 * pixels, (peak, arrow_held, pixels)
