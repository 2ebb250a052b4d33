"""Direct calls from the benchmark process into the engine's public
numpy functions: per-call throughput of the TOA kernels, the sun grid,
the MTL parser and point -> cell, on seeded inputs; and pip_join's
candidate count, from the engine's own cell join.

The ``bytes_per_px`` and ``flops_per_px`` figures are computed, not
measured: they count the full-array numpy passes each kernel makes on
its plain-scalar path (bytes read + written per pixel, and arithmetic
operations per pixel with a transcendental counted as one).
"""

from __future__ import annotations

import time

import numpy as np

TILE = 512
# radiance: astype u16->f32 (2+4), *= (4+4), += (4+4), dn==0 (2+1),
# masked store (1+4)
# reflectance (per-band lists upcast to f64): astype (2+4), * (4+8),
# + (8+8), / (8+8), dn==0 (2+1), masked store (1+8)
# brightness_temp: radiance (30), dn==0 (2+1), NaN store (1+4),
# k1/L (4+4), += 1 (4+4), log (4+4), k2/ (4+4)
COMPUTED = {
    "kernels.radiance.bytes_per_px": 30.0,
    "kernels.radiance.flops_per_px": 2.0,
    "kernels.reflectance.bytes_per_px": 62.0,
    "kernels.reflectance.flops_per_px": 3.0,
    "kernels.brightness_temp.bytes_per_px": 70.0,
    "kernels.brightness_temp.flops_per_px": 6.0,
}


def _per_call_s(fn, budget_s: float = 0.3, min_calls: int = 5) -> float:
    """Median wall time of repeated calls, after one warm-up call."""
    fn()
    times = []
    t_end = time.perf_counter() + budget_s
    while len(times) < min_calls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def driver_metrics(seed: int) -> dict[str, float]:
    from rio_toa_spark.functions import kernels, sun
    from rio_toa_spark.functions.mtl import parse_mtl_txt
    from rio_toa_spark.sources import fixtures as fx
    from rio_toa_spark.spatial import cells

    rng = np.random.default_rng([seed, 17])
    dn = rng.integers(1, 60000, size=(TILE, TILE), dtype=np.uint16)
    dn[: TILE // 16] = 0
    scenes = fx.make_scenes(6)
    _, mtl = scenes[0]
    m = mtl["L1_METADATA_FILE"]
    rr, tc, pm = m["RADIOMETRIC_RESCALING"], m["TIRS_THERMAL_CONSTANTS"], m["PRODUCT_METADATA"]
    bounds = list(fx.scene_bounds(mtl))
    mpx = dn.size / 1e6

    out = dict(COMPUTED)
    out["kernels.radiance.mpix_per_s"] = mpx / _per_call_s(
        lambda: kernels.radiance(dn, rr["RADIANCE_MULT_BAND_5"], rr["RADIANCE_ADD_BAND_5"])
    )
    out["kernels.reflectance.mpix_per_s"] = mpx / _per_call_s(
        lambda: kernels.reflectance(
            dn, [rr["REFLECTANCE_MULT_BAND_4"]], [rr["REFLECTANCE_ADD_BAND_4"]],
            np.array([m["IMAGE_ATTRIBUTES"]["SUN_ELEVATION"]]),
        )
    )
    out["kernels.brightness_temp.mpix_per_s"] = mpx / _per_call_s(
        lambda: kernels.brightness_temp(
            dn, rr["RADIANCE_MULT_BAND_10"], rr["RADIANCE_ADD_BAND_10"],
            tc["K1_CONSTANT_BAND_10"], tc["K2_CONSTANT_BAND_10"],
        )
    )
    out["sun.sun_elevation.mpix_per_s"] = mpx / _per_call_s(
        lambda: sun.sun_elevation(bounds, dn.shape, pm["DATE_ACQUIRED"], pm["SCENE_CENTER_TIME"])
    )
    texts = fx.scenes_arrow(scenes).column("mtl_txt").to_pylist()
    out["mtl.parse_mtl_txt.us_per_scene"] = 1e6 * _per_call_s(
        lambda: [parse_mtl_txt(t) for t in texts]
    ) / len(texts)
    lon = rng.uniform(-180, 180, 200_000)
    lat = rng.uniform(-90, 90, 200_000)
    out["cells.cell_of_points.mpts_per_s"] = lon.size / 1e6 / _per_call_s(
        lambda: cells.cell_of_points(lon, lat, level=7)
    )
    return out


def pip_candidates(spark, pages_path: str, scenes_path: str, level: int) -> int:
    """Candidate (page, scene) pairs of pip_join's cell prune, before the
    exact refine: the engine's own broadcast cell join (``with_cell``
    against ``_explode_cover``), counted without the refine predicate,
    which Spark folds into the join so the plan never records it."""
    from pyspark.sql import functions as F

    from rio_toa_spark.operators.spatial_join import _explode_cover, scene_footprints, with_cell

    pts = with_cell(spark.read.parquet(pages_path), level=level)
    cover = _explode_cover(scene_footprints(spark.read.parquet(scenes_path)), level)
    return pts.join(F.broadcast(cover), "cell").count()
