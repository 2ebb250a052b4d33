"""End-to-end DataFrame TOA pipeline vs the independent numpy oracle:
scan -> broadcast scene join -> Arrow kernel -> collect, compared
bit-for-bit (float32 buffers) per tile. This is the DataFrame port of
the reference's golden-file tests (tests/test_radiance.py:79-123,
test_reflectance.py:144-232) with exact equality instead of
flex_compare fuzz."""

import json

import numpy as np
import pyarrow.parquet as pq
import pytest

from rio_toa_spark.operators import toa
from rio_toa_spark.sources import fixtures as fx

from . import oracle


def _tiles_by_key(path, band):
    table = pq.read_table(path).to_pylist()
    return {
        (r["scene_id"], r["band"], r["tile_row"], r["tile_col"]): r
        for r in table
        if r["band"] == band
    }


def _mtl_by_scene(path):
    table = pq.read_table(path).to_pylist()
    return {r["scene_id"]: json.loads(r["mtl_json"]) for r in table}


@pytest.fixture(scope="module")
def mtls(fixture_paths):
    return _mtl_by_scene(fixture_paths["scenes"])


def test_radiance_pipeline_bitwise(spark, tiles_df, scenes_df, fixture_paths, mtls):
    band = 5
    out = toa.radiance_tiles(tiles_df, scenes_df, band=band).collect()
    raw = _tiles_by_key(fixture_paths["tiles"], band)
    assert len(out) == len(raw) > 0
    for row in out:
        src = raw[(row.scene_id, row.band, row.tile_row, row.tile_col)]
        dn = np.frombuffer(src["pixels"], dtype="<u2").reshape(src["height"], src["width"])
        rr = mtls[row.scene_id]["L1_METADATA_FILE"]["RADIOMETRIC_RESCALING"]
        expected = oracle.radiance_worker(
            dn, rr["RADIANCE_MULT_BAND_5"], rr["RADIANCE_ADD_BAND_5"],
            src["nodata"], 1.0, np.float32, clip=True,
        )
        got = np.frombuffer(row.pixels, dtype=np.float32).reshape(row.height, row.width)
        assert got.tobytes() == expected.tobytes()  # bitwise float32


def test_radiance_uint8_rescale(spark, tiles_df, scenes_df, fixture_paths, mtls):
    band = 4
    out = toa.radiance_tiles(tiles_df, scenes_df, band=band, dst_dtype="uint8").collect()
    raw = _tiles_by_key(fixture_paths["tiles"], band)
    for row in out[:4]:
        src = raw[(row.scene_id, row.band, row.tile_row, row.tile_col)]
        dn = np.frombuffer(src["pixels"], dtype="<u2").reshape(src["height"], src["width"])
        rr = mtls[row.scene_id]["L1_METADATA_FILE"]["RADIOMETRIC_RESCALING"]
        expected = oracle.radiance_worker(
            dn, rr["RADIANCE_MULT_BAND_4"], rr["RADIANCE_ADD_BAND_4"],
            src["nodata"], 255, np.uint8, clip=True,
        )
        got = np.frombuffer(row.pixels, dtype=np.uint8).reshape(row.height, row.width)
        assert np.array_equal(got, expected)


def test_reflectance_scene_center_bitwise(spark, tiles_df, scenes_df, fixture_paths, mtls):
    bands = [2, 3]
    out = toa.reflectance_tiles(tiles_df, scenes_df, bands=bands).collect()
    assert {r.band for r in out} == set(bands)
    for row in out:
        raw = _tiles_by_key(fixture_paths["tiles"], row.band)
        src = raw[(row.scene_id, row.band, row.tile_row, row.tile_col)]
        dn = np.frombuffer(src["pixels"], dtype="<u2").reshape(src["height"], src["width"])
        meta = mtls[row.scene_id]["L1_METADATA_FILE"]
        rr = meta["RADIOMETRIC_RESCALING"]
        expected = oracle.reflectance_worker(
            dn,
            [rr["REFLECTANCE_MULT_BAND_%d" % row.band]],
            [rr["REFLECTANCE_ADD_BAND_%d" % row.band]],
            meta["IMAGE_ATTRIBUTES"]["SUN_ELEVATION"],
            src["nodata"], 1.0, np.float32, clip=True,
        )
        got = np.frombuffer(row.pixels, dtype=np.float32).reshape(1, row.height, row.width)
        assert got.tobytes() == expected.tobytes()


def test_reflectance_per_pixel_sun_bitwise(spark, tiles_df, scenes_df, fixture_paths, mtls):
    out = toa.reflectance_tiles(
        tiles_df, scenes_df, bands=[5], per_pixel_sun=True
    ).collect()
    raw = _tiles_by_key(fixture_paths["tiles"], 5)
    assert len(out) == len(raw)
    for row in out:
        src = raw[(row.scene_id, row.band, row.tile_row, row.tile_col)]
        dn = np.frombuffer(src["pixels"], dtype="<u2").reshape(src["height"], src["width"])
        meta = mtls[row.scene_id]["L1_METADATA_FILE"]
        rr = meta["RADIOMETRIC_RESCALING"]
        expected = oracle.reflectance_worker(
            dn,
            [rr["REFLECTANCE_MULT_BAND_5"]],
            [rr["REFLECTANCE_ADD_BAND_5"]],
            None,
            src["nodata"], 1.0, np.float32, clip=True,
            pixel_sunangle=True,
            bbox=[src["bounds_w"], src["bounds_s"], src["bounds_e"], src["bounds_n"]],
            date_str=meta["PRODUCT_METADATA"]["DATE_ACQUIRED"],
            time_str=meta["PRODUCT_METADATA"]["SCENE_CENTER_TIME"],
        )
        got = np.frombuffer(row.pixels, dtype=np.float32).reshape(1, row.height, row.width)
        assert got.tobytes() == expected.tobytes()


def test_brightness_temp_bitwise_and_scales(spark, tiles_df, scenes_df, fixture_paths, mtls):
    for scale in ("K", "C", "F"):
        out = toa.brightness_temp_tiles(
            tiles_df, scenes_df, band=10, temp_scale=scale
        ).collect()
        raw = _tiles_by_key(fixture_paths["tiles"], 10)
        assert len(out) == len(raw)
        for row in out[:4]:
            src = raw[(row.scene_id, row.band, row.tile_row, row.tile_col)]
            dn = np.frombuffer(src["pixels"], dtype="<u2").reshape(src["height"], src["width"])
            meta = mtls[row.scene_id]["L1_METADATA_FILE"]
            rr = meta["RADIOMETRIC_RESCALING"]
            tc = meta["TIRS_THERMAL_CONSTANTS"]
            expected = oracle.brightness_temp_worker(
                dn, rr["RADIANCE_MULT_BAND_10"], rr["RADIANCE_ADD_BAND_10"],
                tc["K1_CONSTANT_BAND_10"], tc["K2_CONSTANT_BAND_10"],
                0, scale, np.float32,
            )
            got = np.frombuffer(row.pixels, dtype=np.float32).reshape(row.height, row.width)
            assert got.tobytes() == expected.tobytes()


def test_stack_bands_orders_planes(spark, tiles_df, scenes_df):
    refl = toa.reflectance_tiles(tiles_df, scenes_df, bands=[4, 3, 2])
    stacked = toa.stack_bands(refl, bands=[4, 3, 2]).collect()
    assert len(stacked) > 0
    for row in stacked:
        assert row.bands == [4, 3, 2]
        assert len(row.planes) == 3


def test_tile_stats_masks_nan(spark, tiles_df, scenes_df):
    bt = toa.brightness_temp_tiles(tiles_df, scenes_df, band=10)
    stats = toa.tile_stats(bt).collect()
    assert all(np.isfinite(r.px_min) and r.px_min > 0 for r in stats)  # Kelvin


def test_radiance_plan_is_broadcast_and_shuffle_free(spark, tiles_df, scenes_df):
    plan = toa.radiance_tiles(tiles_df, scenes_df, band=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_reflectance_uint16_rescale_55000(spark, tiles_df, scenes_df, fixture_paths, mtls):
    """Port of the reference's rescaled-uint16 golden setup
    (tests/test_reflectance.py:165,192: factor 55000, uint16)."""
    out = toa.reflectance_tiles(
        tiles_df, scenes_df, bands=[3], dst_dtype="uint16", rescale_factor=55000
    ).collect()
    raw = _tiles_by_key(fixture_paths["tiles"], 3)
    assert len(out) == len(raw)
    for row in out[:6]:
        src = raw[(row.scene_id, row.band, row.tile_row, row.tile_col)]
        dn = np.frombuffer(src["pixels"], dtype="<u2").reshape(src["height"], src["width"])
        meta = mtls[row.scene_id]["L1_METADATA_FILE"]
        rr = meta["RADIOMETRIC_RESCALING"]
        expected = oracle.reflectance_worker(
            dn,
            [rr["REFLECTANCE_MULT_BAND_3"]],
            [rr["REFLECTANCE_ADD_BAND_3"]],
            meta["IMAGE_ATTRIBUTES"]["SUN_ELEVATION"],
            src["nodata"], 55000, np.uint16, clip=True,
        )
        got = np.frombuffer(row.pixels, dtype=np.uint16).reshape(1, row.height, row.width)
        assert np.array_equal(got, expected)


def test_value_histogram_matches_bruteforce(spark, tiles_df, scenes_df, fixture_paths, mtls):
    # the exact-SQL-twinnable projection: per-(scene, band, bucket)
    # counts / distinct counts / f32 min-max must equal a brute-force
    # numpy pass over the same radiance outputs (incl. NaN dropping on
    # the brighttemp path, tested below via the float guard)
    rad = toa.radiance_tiles(tiles_df, scenes_df, band=5, clip=False)
    got = {
        (r.scene_id, r.band, r.bucket): (r.n, r.ndv, r.vmin, r.vmax)
        for r in toa.value_histogram(rad, bucket_scale=1.0 / 64).collect()
    }
    per_scene: dict[tuple, list[np.ndarray]] = {}
    for row in rad.collect():
        arr = np.frombuffer(row.pixels, dtype=np.float32)
        per_scene.setdefault((row.scene_id, row.band), []).append(arr)
    expected = {}
    for (sid, band), chunks in per_scene.items():
        vals = np.concatenate(chunks)
        buckets = np.floor(vals * (1.0 / 64)).astype(np.int32)
        for b in np.unique(buckets):
            sel = vals[buckets == b]
            expected[(sid, band, int(b))] = (
                len(sel),
                len(np.unique(sel)),
                float(sel.min()),
                float(sel.max()),
            )
    assert got == expected and len(got) > 0


def test_value_histogram_drops_nonfinite(spark, tiles_df, scenes_df):
    # brighttemp NaN-masks nodata pixels; the histogram must count
    # only finite values while tile_stats keeps reporting on the rest
    bt = toa.brightness_temp_tiles(tiles_df, scenes_df, band=10)
    hist = toa.value_histogram(bt).collect()
    n_hist = sum(r.n for r in hist)
    rows = bt.collect()
    n_finite = sum(
        int(np.isfinite(np.frombuffer(r.pixels, dtype=np.float32)).sum())
        for r in rows
    )
    n_total = sum(r.height * r.width for r in rows)
    assert 0 < n_hist == n_finite < n_total


def test_stack_bands_mismatched_dims_raise(spark):
    # one band's tile has different dimensions: the stack must raise
    # (reference shape check, reflectance.py:67-72), not silently emit
    # two partial rows keyed by differing dims
    rows = [
        ("S1", 2, 0, 0, 4, 4, "float32", b"\x00" * 64),
        ("S1", 3, 0, 0, 8, 8, "float32", b"\x00" * 256),
    ]
    df = spark.createDataFrame(
        rows,
        "scene_id string, band int, tile_row int, tile_col int, "
        "width int, height int, dtype string, pixels binary",
    )
    with pytest.raises(Exception, match="disagree"):
        toa.stack_bands(df, bands=[3, 2]).collect()
    # the guard must survive column pruning: a consumer selecting ONLY
    # planes (letting Catalyst prune width/height/dtype) still raises
    with pytest.raises(Exception, match="disagree"):
        toa.stack_bands(df, bands=[3, 2]).select("planes").collect()
    with pytest.raises(Exception, match="disagree"):
        toa.stack_bands(df, bands=[3, 2]).select("bands").collect()


def test_truth_sidetable_agrees_with_test_oracle(fixture_paths):
    # two independent transliterations of the reference workers exist:
    # tests/oracle.py (the pytest golden) and sources/truth.py (the
    # fixture-gen ground truth behind the driver twins). They must
    # agree bit-for-bit, or one of them has drifted from the reference
    # semantics.
    import pyarrow.parquet as pq2

    from rio_toa_spark.sources import truth as truth_mod

    tiles = pq2.read_table(fixture_paths["tiles"])
    side = {
        (r["scene_id"], r["band"], r["tile_row"], r["tile_col"], r["kind"]): r["px_hash"]
        for r in pq2.read_table(fixture_paths["toa_truth"]).to_pylist()
    }
    assert len(side) == 32  # 16 reflectance_ps + 16 brighttemp tiles
    scenes = fx.make_scenes(4)
    mtls = {sid: mtl["L1_METADATA_FILE"] for sid, mtl in scenes}
    checked = 0
    for r in tiles.to_pylist():
        if r["band"] not in (4, 10):
            continue
        dn = np.frombuffer(r["pixels"], "<u2").reshape(r["height"], r["width"])
        mtl = mtls[r["scene_id"]]
        rr = mtl["RADIOMETRIC_RESCALING"]
        if r["band"] == 4:
            pm = mtl["PRODUCT_METADATA"]
            buf = oracle.reflectance_worker(
                dn, [rr["REFLECTANCE_MULT_BAND_4"]], [rr["REFLECTANCE_ADD_BAND_4"]],
                None, 0, 1.0, np.float32, clip=True, pixel_sunangle=True,
                bbox=[r["bounds_w"], r["bounds_s"], r["bounds_e"], r["bounds_n"]],
                date_str=pm["DATE_ACQUIRED"], time_str=pm["SCENE_CENTER_TIME"],
            ).tobytes()
            key = (r["scene_id"], 4, r["tile_row"], r["tile_col"], "reflectance_ps")
        else:
            tc = mtl["TIRS_THERMAL_CONSTANTS"]
            buf = oracle.brightness_temp_worker(
                dn, rr["RADIANCE_MULT_BAND_10"], rr["RADIANCE_ADD_BAND_10"],
                tc["K1_CONSTANT_BAND_10"], tc["K2_CONSTANT_BAND_10"],
                0, "K", np.float32,
            ).tobytes()
            key = (r["scene_id"], 10, r["tile_row"], r["tile_col"], "brighttemp_k")
        assert side[key] == truth_mod.h60(buf), key
        checked += 1
    assert checked == 32


def test_toa_runner_one_buffer_mixed_shapes_and_dtypes():
    """One Arrow batch of tiles of different shapes (one taller than a
    64-row strip, one empty) through the TOA runner, for every output
    dtype: each tile's bytes equal its own per-tile kernel call, and
    the pixels column is one data buffer exactly as long as its cells."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from rio_toa_spark.functions import kernels

    rng = np.random.default_rng(15)
    shapes = [(3, 5), (70, 9), (1, 130), (0, 4), (64, 64), (2, 1)]
    n = len(shapes)
    batch = pa.RecordBatch.from_pydict(
        {
            "scene_id": ["s%d" % (i % 2) for i in range(n)],
            "band": pa.array([5] * n, pa.int32()),
            "tile_row": pa.array(range(n), pa.int32()),
            "tile_col": pa.array([0] * n, pa.int32()),
            "width": pa.array([w for _, w in shapes], pa.int32()),
            "height": pa.array([h for h, _ in shapes], pa.int32()),
            "nodata": [0.0, None, 0.0, 0.0, 7.0, None],
            "c_ml": rng.uniform(0.001, 0.02, n),
            "c_al": rng.uniform(-70.0, -1.0, n),
            "pixels": [
                rng.integers(0, 40000, h * w, dtype=np.uint16).tobytes()
                for h, w in shapes
            ],
        }
    )

    def per_tile(dn, row, dtype):
        return oracle.radiance_worker(
            dn, row["c_ml"], row["c_al"], toa._nodata_of(row["nodata"]),
            kernels.normalize_scale(None, dtype), np.dtype(dtype), clip=True,
        )

    schema = to_arrow_schema(toa.TOA_OUT_SCHEMA)
    for dtype in ("uint8", "uint16", "float32", "float64"):

        def compute(dn, row, out):
            out[...] = per_tile(dn, row, dtype)

        (cols,) = toa._toa_batches([batch], dtype, compute)
        got = pa.RecordBatch.from_pydict(cols, schema=schema)
        pixels = got.column("pixels")
        sizes = [h * w * np.dtype(dtype).itemsize for h, w in shapes]
        assert pixels.buffers()[2].size == sum(sizes)
        assert got.column("dtype").to_pylist() == [dtype] * n
        for i, (row, cell) in enumerate(zip(batch.to_pylist(), pixels.to_pylist())):
            dn = np.frombuffer(row["pixels"], "<u2").reshape(row["height"], row["width"])
            assert len(cell) == sizes[i]
            assert cell == per_tile(dn, row, dtype).tobytes(), (dtype, i)
        assert got.column("tile_row").to_pylist() == list(range(n))


def test_binary_offsets_guard_int32():
    """Offsets past the int32 range of pa.binary() raise; synthetic
    sizes, so nothing of that size is allocated."""
    from rio_toa_spark.operators import binary_offsets

    ok = binary_offsets(np.array([2**30, 2**30 - 1], dtype=np.int64))
    assert ok.dtype == np.int32 and ok.tolist() == [0, 2**30, 2**31 - 1]
    assert binary_offsets(np.zeros(0, dtype=np.int64)).tolist() == [0]
    with pytest.raises(ValueError, match="int32"):
        binary_offsets(np.array([2**30, 2**30], dtype=np.int64))
