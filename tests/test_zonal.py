"""Zonal statistics vs an independent numpy brute-force oracle.

The oracle iterates every (tile, zone) pair driver-side with meshgrid
center coordinates — no cell pruning, no canonical-cell trick — so it
also proves the prune generates exactly the right pair set (a missed
pair would change counts; a duplicated pair would double them).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators.spatial_join import scene_footprints
from rio_toa_spark.operators.zonal import zonal_stats


@pytest.fixture(scope="module")
def zones_df(spark, scenes_df):
    fp = scene_footprints(scenes_df)
    # inner boxes at irrational-ish fractions: avoids pixel centers
    # landing exactly on zone edges (would make tie-break fp-sensitive)
    return fp.select(
        F.col("scene_id").alias("zone_id"),
        (F.col("fw") + 0.137 * (F.col("fe") - F.col("fw"))).alias("fw"),
        (F.col("fs") + 0.211 * (F.col("fn") - F.col("fs"))).alias("fs"),
        (F.col("fw") + 0.763 * (F.col("fe") - F.col("fw"))).alias("fe"),
        (F.col("fs") + 0.829 * (F.col("fn") - F.col("fs"))).alias("fn"),
    )


def _oracle(tiles_rows, zones_rows):
    out = {}
    for z in zones_rows:
        for t in tiles_rows:
            arr = np.frombuffer(t.pixels, np.uint16).reshape(t.height, t.width)
            dx = (t.bounds_e - t.bounds_w) / t.width
            dy = (t.bounds_n - t.bounds_s) / t.height
            xs = t.bounds_w + (np.arange(t.width) + 0.5) * dx
            ys = t.bounds_n - (np.arange(t.height) + 0.5) * dy
            gx, gy = np.meshgrid(xs, ys)
            mask = (
                (gx >= z.fw) & (gx < z.fe) & (gy >= z.fs) & (gy < z.fn)
                & (arr != t.nodata)
            )
            vals = arr[mask]
            if not vals.size:
                continue
            key = (z.zone_id, t.band)
            cnt, tot, mn, mx = out.get(key, (0, 0.0, np.inf, -np.inf))
            out[key] = (
                cnt + int(vals.size),
                tot + float(vals.sum(dtype=np.float64)),
                min(mn, float(vals.min())),
                max(mx, float(vals.max())),
            )
    return out


def test_zonal_stats_matches_bruteforce(spark, tiles_df, zones_df):
    got = {
        (r.zone_id, r.band): (r.px_count, r.px_mean, r.px_min, r.px_max)
        for r in zonal_stats(tiles_df, zones_df).collect()
    }
    exp = _oracle(tiles_df.collect(), zones_df.collect())
    assert set(got) == set(exp)
    for key, (cnt, tot, mn, mx) in exp.items():
        g = got[key]
        assert g[0] == cnt, key
        assert g[1] == pytest.approx(tot / cnt, abs=0, rel=0), key
        assert (g[2], g[3]) == (mn, mx), key


def test_zonal_disjoint_zone_empty(spark, tiles_df):
    ocean = spark.createDataFrame(
        [("ocean", -150.0, -45.0, -140.0, -35.0)], "zone_id string, fw double, fs double, fe double, fn double"
    )
    assert zonal_stats(tiles_df, ocean).count() == 0


def test_zonal_full_scene_zone_counts_all_valid_pixels(spark, tiles_df, scenes_df):
    """A zone covering a whole scene footprint must count every
    non-nodata pixel of that scene exactly once per band — a duplicate
    from the cell join would break this."""
    fp = scene_footprints(scenes_df).limit(1)
    zone = fp.select(F.col("scene_id").alias("zone_id"), "fw", "fs", "fe", "fn")
    sid = zone.collect()[0].zone_id
    got = {r.band: r.px_count for r in zonal_stats(tiles_df, zone).collect()}
    tiles = [t for t in tiles_df.collect() if t.scene_id == sid]
    exp = {}
    for t in tiles:
        arr = np.frombuffer(t.pixels, np.uint16)
        exp[t.band] = exp.get(t.band, 0) + int((arr != t.nodata).sum())
    assert got == exp


def test_dn_histogram_matches_bincount(spark, tiles_df):
    from rio_toa_spark.operators.zonal import dn_histogram

    got = {
        (r.scene_id, r.band, r.bucket): r.n
        for r in dn_histogram(tiles_df, n_buckets=16).collect()
    }
    exp = {}
    for t in tiles_df.collect():
        arr = np.frombuffer(t.pixels, np.uint16)
        arr = arr[arr != t.nodata]
        for b, n in enumerate(np.bincount(arr >> 12, minlength=16)):
            if n:
                key = (t.scene_id, t.band, b)
                exp[key] = exp.get(key, 0) + int(n)
    assert got == exp


def test_dn_histogram_conserves_pixels(spark, tiles_df):
    from rio_toa_spark.operators.zonal import dn_histogram
    from pyspark.sql import functions as F2

    total = dn_histogram(tiles_df, n_buckets=4).agg(F2.sum("n")).collect()[0][0]
    nodata = sum(
        int(np.count_nonzero(np.frombuffer(t.pixels, np.uint16) == t.nodata))
        for t in tiles_df.select("pixels", "nodata").collect()
    )
    assert nodata > 0
    t0 = tiles_df.select("width", "height").collect()
    assert total + nodata == sum(r.width * r.height for r in t0)


def test_dn_histogram_rejects_non_power_of_two(spark, tiles_df):
    from rio_toa_spark.operators.zonal import dn_histogram

    with pytest.raises(ValueError):
        dn_histogram(tiles_df, n_buckets=10)


def test_zonal_over_toa_output(spark, tiles_df, scenes_df, zones_df):
    """zonal_stats composes with the TOA operators: float32 radiance
    tiles (dtype column, no nodata column) re-geolocated by joining the
    source tile bounds back on the tile key."""
    from rio_toa_spark.operators import toa

    rad = toa.radiance_tiles(tiles_df, scenes_df, band=5)
    geom = tiles_df.where(F.col("band") == 5).select(
        "scene_id", "band", "tile_row", "tile_col",
        "bounds_w", "bounds_s", "bounds_e", "bounds_n",
    )
    rad_geo = rad.join(geom, toa.TILE_KEY)
    got = {
        (r.zone_id, r.band): (r.px_count, r.px_min, r.px_max)
        for r in zonal_stats(rad_geo, zones_df).collect()
    }
    # independent mask-based accumulation over the same float32 rows
    exp = {}
    for t in rad_geo.collect():
        arr = np.frombuffer(t.pixels, np.float32).reshape(t.height, t.width)
        dx = (t.bounds_e - t.bounds_w) / t.width
        dy = (t.bounds_n - t.bounds_s) / t.height
        xs = t.bounds_w + (np.arange(t.width) + 0.5) * dx
        ys = t.bounds_n - (np.arange(t.height) + 0.5) * dy
        for z in zones_df.collect():
            gx, gy = np.meshgrid(xs, ys)
            mask = (gx >= z.fw) & (gx < z.fe) & (gy >= z.fs) & (gy < z.fn)
            vals = arr[mask]
            if not vals.size:
                continue
            key = (z.zone_id, t.band)
            cnt, mn, mx = exp.get(key, (0, np.inf, -np.inf))
            exp[key] = (cnt + int(vals.size), min(mn, float(vals.min())), max(mx, float(vals.max())))
    assert got == exp and got
