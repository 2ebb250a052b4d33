"""mosaic_scene: tiles -> one full-scene raster row per (scene, band),
verified against an independent vstack/hstack assembly."""

import numpy as np
from pyspark.sql import functions as F

from rio_toa_spark.operators import toa


def test_mosaic_scene_reassembles_grid(spark, tiles_df):
    out = {r.scene_id: r for r in toa.mosaic_scene(tiles_df.where(F.col("band") == 5)).collect()}
    src = tiles_df.where(F.col("band") == 5).collect()
    by_scene = {}
    for t in src:
        by_scene.setdefault(t.scene_id, {})[(t.tile_row, t.tile_col)] = np.frombuffer(
            t.pixels, np.uint16
        ).reshape(t.height, t.width)
    assert set(out) == set(by_scene)
    for sid, tiles in by_scene.items():
        n = max(k[0] for k in tiles) + 1
        m = max(k[1] for k in tiles) + 1
        exp = np.vstack(
            [np.hstack([tiles[(r, c)] for c in range(m)]) for r in range(n)]
        )
        r = out[sid]
        got = np.frombuffer(r.pixels, np.uint16).reshape(r.height, r.width)
        assert np.array_equal(got, exp)
        assert r.dtype == "uint16" and r.band == 5
        # mosaic bounds are the envelope of the tile bounds
        scene_tiles = [t for t in src if t.scene_id == sid]
        assert r.bounds_n == max(t.bounds_n for t in scene_tiles)
        assert r.bounds_w == min(t.bounds_w for t in scene_tiles)


def test_mosaic_of_toa_output_keeps_dtype(spark, tiles_df, scenes_df):
    rad = toa.radiance_tiles(tiles_df, scenes_df, band=5)
    out = toa.mosaic_scene(rad).collect()
    assert out and all(r.dtype == "float32" for r in out)
    for r in out:
        arr = np.frombuffer(r.pixels, np.float32).reshape(r.height, r.width)
        assert arr.shape == (r.height, r.width)
        assert r.bounds_w is None  # TOA rows carry no bounds columns


def test_mosaic_rejects_holes(spark, tiles_df):
    import pytest

    holey = tiles_df.where(
        (F.col("band") == 5)
        & ~((F.col("tile_row") == 0) & (F.col("tile_col") == 0))
    )
    with pytest.raises(Exception, match="missing tiles"):
        toa.mosaic_scene(holey).collect()


def test_mosaic_subgrid_not_anchored_at_zero(spark, tiles_df):
    """A full sub-rectangle that doesn't start at (0,0) mosaics fine."""
    sub = tiles_df.where((F.col("band") == 5) & (F.col("tile_row") == 1))
    out = toa.mosaic_scene(sub).collect()
    assert out
    for r in out:
        assert r.height == 128 and r.width == 256  # 1x2 strip of 128px tiles


def test_mosaic_holds_the_raster_once():
    """One group's mosaic wraps the raster's own buffer: the raster is
    held once (the tiles are read-only views), not again as bytes and
    as an Arrow copy (3x). Bytes equal np.block's."""
    import tracemalloc

    import pyarrow as pa

    rng = np.random.default_rng(4)
    grid = [[rng.integers(0, 1 << 16, (128, 128), dtype=np.uint16) for _ in range(4)] for _ in range(4)]
    cells = [(r, c) for r in range(4) for c in range(4)]
    tbl = pa.table(
        {
            "scene_id": ["S"] * 16,
            "band": pa.array([5] * 16, pa.int32()),
            "tile_row": pa.array([r for r, _ in cells], pa.int32()),
            "tile_col": pa.array([c for _, c in cells], pa.int32()),
            "height": pa.array([128] * 16, pa.int32()),
            "width": pa.array([128] * 16, pa.int32()),
            "pixels": [grid[r][c].tobytes() for r, c in cells],
        }
    )
    pa_out = pa.schema(
        [("scene_id", pa.string()), ("band", pa.int32()), ("height", pa.int32()), ("width", pa.int32())]
        + [("dtype", pa.string())]
        + [(b, pa.float64()) for b in ("bounds_w", "bounds_s", "bounds_e", "bounds_n")]
        + [("pixels", pa.binary())]
    )
    raster = np.block(grid)
    key = (pa.scalar("S"), pa.scalar(5, pa.int32()))
    arrow0 = pa.total_allocated_bytes()
    tracemalloc.start()
    try:
        out = toa._mosaic(key, tbl, pa_out)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    arrow_held = pa.total_allocated_bytes() - arrow0
    row = out.to_pylist()[0]
    assert row["pixels"] == raster.tobytes()
    assert (row["height"], row["width"], row["dtype"], row["bounds_w"]) == (512, 512, "uint16", None)
    assert peak + arrow_held < 2 * raster.nbytes, (peak, arrow_held)
