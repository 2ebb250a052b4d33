"""GeoTIFF -> engine-tile ingest (import-gated on rasterio).

The reference opens Landsat GeoTIFFs directly and iterates windows
(rio_toa/radiance.py:103-111 via riomucho; window math in
rio_toa/toa_utils.py). This engine computes over parquet tile tables
(sources/fixtures.tiles_arrow schema), so the bridge that completes
the S1 story is: GeoTIFF files -> one DataFrame row per
``tile_size`` x ``tile_size`` window with WGS84 bounds and raw pixel
bytes, identical in shape to the synthetic fixtures.

Scale model: one task per source FILE (GeoTIFF is not byte-splittable
for parallel scan without internal-tile range reads; scene-count
parallelism is the right grain for Landsat archives — 100 TB is
~10^6 scenes = 10^6 independent tasks). Window reads inside a task
stream sequentially with bounded memory (tile_size^2 * 2 bytes).

rasterio is NOT in this container: every entry point degrades to an
informative ImportError, and tests skip. The parquet output of this
module is what the rest of the engine already consumes, so nothing
downstream changes when rasterio appears.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from rio_toa_spark.operators import map_arrow

TILE_SCHEMA = (
    "scene_id string, band int, tile_row int, tile_col int, "
    "width int, height int, nodata int, "
    "bounds_w double, bounds_s double, bounds_e double, bounds_n double, "
    "pixels binary"
)

_DEFAULT_TEMPLATE = r".*_B(?P<band>[0-9]+)\.(tif|TIF)$"
_SCENE_TEMPLATE = r"(?P<scene>L[A-Z0-9]+?)_B[0-9]+\.(tif|TIF)$"


def _require_rasterio():
    try:
        import rasterio  # noqa: F401
        from rasterio import warp, windows  # noqa: F401

        return rasterio
    except ImportError as exc:  # pragma: no cover - container has no rasterio
        raise ImportError(
            "GeoTIFF ingest needs rasterio, which is not installed in "
            "this environment. The engine's compute surface is parquet "
            "tile tables (see sources/fixtures.tiles_arrow for the "
            "schema); install rasterio to bridge .TIF archives into it."
        ) from exc


def parse_band(path: str, template: str = _DEFAULT_TEMPLATE) -> int:
    """Band index from a Landsat-style file name
    (reference _parse_bands_from_filename, rio_toa/toa_utils.py:175)."""
    m = re.search(template, os.path.basename(path))
    if not m:
        raise ValueError("cannot parse band from %r with %r" % (path, template))
    return int(m.group("band"))


def parse_scene(path: str, template: str = _SCENE_TEMPLATE) -> str:
    m = re.search(template, os.path.basename(path))
    if not m:
        raise ValueError("cannot parse scene id from %r" % path)
    return m.group("scene")


def geotiff_to_tiles(
    spark: SparkSession,
    src_paths: list[str],
    tile_size: int = 512,
    band_template: str = _DEFAULT_TEMPLATE,
    scene_template: str = _SCENE_TEMPLATE,
) -> DataFrame:
    """Distributed GeoTIFF -> tile-row ingest.

    Emits the engine tile schema; bounds are each window's bbox
    reprojected to WGS84 (matching fixtures' precomputed-at-ingest
    convention, SURVEY K8). Edge windows keep their true (smaller)
    width/height. Pixels are the raw native-dtype bytes.
    """
    _require_rasterio()  # fail fast on the driver, not inside tasks

    specs = [
        (i, p, parse_scene(p, scene_template), parse_band(p, band_template))
        for i, p in enumerate(src_paths)
    ]
    spec_df = spark.createDataFrame(specs, "idx int, path string, scene_id string, band int")
    # one file per task: files are the unsplittable unit of work. Range
    # partitioning on the sequential index gives exactly one spec per
    # task — hash partitioning on path would collide (~63% chance of a
    # 2-file straggler task at N=10).
    spec_df = spec_df.repartitionByRange(max(len(specs), 1), "idx").drop("idx")

    tile_schema = StructType.fromDDL(TILE_SCHEMA)

    def read_windows(batches):
        import rasterio
        from rasterio.warp import transform_bounds
        from rasterio.windows import Window

        for batch in batches:
            rows = {k: [] for k in tile_schema.names}
            for spec in batch.to_pylist():
                with rasterio.open(spec["path"]) as src:
                    nodata = int(src.nodata) if src.nodata is not None else 0
                    for tr, r0 in enumerate(range(0, src.height, tile_size)):
                        for tc, c0 in enumerate(range(0, src.width, tile_size)):
                            win = Window(
                                c0, r0,
                                min(tile_size, src.width - c0),
                                min(tile_size, src.height - r0),
                            )
                            arr = src.read(1, window=win)
                            wgs = transform_bounds(
                                src.crs, "EPSG:4326",
                                *rasterio.windows.bounds(win, src.transform),
                            )
                            rows["scene_id"].append(spec["scene_id"])
                            rows["band"].append(spec["band"])
                            rows["tile_row"].append(tr)
                            rows["tile_col"].append(tc)
                            rows["width"].append(int(win.width))
                            rows["height"].append(int(win.height))
                            rows["nodata"].append(nodata)
                            rows["bounds_w"].append(wgs[0])
                            rows["bounds_s"].append(wgs[1])
                            rows["bounds_e"].append(wgs[2])
                            rows["bounds_n"].append(wgs[3])
                            rows["pixels"].append(arr)
            yield rows

    return map_arrow(spec_df, read_windows, tile_schema)


def ingest_cli(spark: SparkSession, src_paths: list[str], dst: str, tile_size: int = 512) -> None:
    """Write the ingested tiles as a partitioned parquet tile table."""
    df = geotiff_to_tiles(spark, src_paths, tile_size=tile_size)
    df.write.mode("overwrite").partitionBy("scene_id", "band").parquet(dst)
