"""Zonal statistics — the raster↔vector aggregation surface of the
graft layer (BASELINE.json north_rule "raster<->vector"; no reference
counterpart — rio-toa's only whole-array reductions are the overflow
checks at rio_toa/toa_utils.py:131-136).

``zonal_stats(tiles, zones)`` computes per-(zone, band) count / mean /
min / max over the pixels whose CENTERS fall inside the zone's WGS84
box, nodata excluded.

Scale design:

* Candidate (tile, zone) pairs come from the same Morton-cell prune
  pip_join uses: zones explode to covering cells (broadcast side),
  tiles explode to THEIR covering cells, equi-join on cell. A pair
  whose boxes share k cells would appear k times; instead of a
  duplicate-elimination shuffle (which would move pixel payloads), a
  pair is kept only in the ONE cell containing the SW corner of the
  bbox intersection — that cell is in both covers by construction, so
  each pair survives exactly once, join-local.
* The pixel kernel runs over Arrow record batches (``map_arrow``,
  zero-copy pixel buffers) and emits per-(tile, zone) PARTIALS
  (count, sum, min, max) — the map-side combine. The final groupBy
  merges a few doubles per pair; the pixel binary never crosses a
  shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rio_toa_spark.operators import binary_rows, map_arrow
from rio_toa_spark.operators.spatial_join import DEFAULT_LEVEL, _cover_sql, _explode_cover, cell_expr


def _tile_cover_cells(tiles_df: DataFrame, level: int) -> DataFrame:
    """Explode each tile row to its covering cells (bounds_* bbox)."""
    return tiles_df.selectExpr("*", _cover_sql("bounds_w", "bounds_s", "bounds_e", "bounds_n", level))


_PARTIAL_FIELDS = [
    T.StructField("band", T.IntegerType()),
    T.StructField("px_count", T.LongType()),
    T.StructField("px_sum", T.DoubleType()),
    T.StructField("px_min", T.DoubleType()),
    T.StructField("px_max", T.DoubleType()),
]


def dn_histogram(
    tiles_df: DataFrame,
    n_buckets: int = 16,
) -> DataFrame:
    """Per-(scene, band) histogram of uint16 DN values over
    ``n_buckets`` equal-width buckets of [0, 65536).

    Same partial-aggregation shape as zonal_stats: the Arrow kernel
    bincounts each tile locally (one pass, O(pixels)), and only the
    (scene, band, bucket, n) partials shuffle. ``n_buckets`` must be a
    power of two so bucketing is a shift.

    Nodata filtering applies only when the input carries a ``nodata``
    column (raw DN tiles); frames without one (e.g. TOA output rows)
    histogram every pixel rather than failing mid-executor.
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two, got %d" % n_buckets)
    shift = 16 - int(np.log2(n_buckets))
    drop_nodata = "nodata" in tiles_df.columns

    schema = T.StructType(
        [
            tiles_df.schema["scene_id"],
            tiles_df.schema["band"],
            T.StructField("bucket", T.IntegerType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def run(batches):
        for batch in batches:
            sid, band, bucket, n = [], [], [], []
            for row, buf in binary_rows(batch):
                arr = np.frombuffer(buf, dtype=np.uint16)
                # a null nodata keeps every pixel (`!= None` is all-True)
                if drop_nodata:
                    arr = arr[arr != row["nodata"]]
                counts = np.bincount(arr >> shift, minlength=n_buckets)
                nz = np.nonzero(counts)[0]
                sid.extend([row["scene_id"]] * len(nz))
                band.extend([row["band"]] * len(nz))
                bucket.extend(nz.tolist())
                n.extend(counts[nz].tolist())
            yield {"scene_id": sid, "band": band, "bucket": bucket, "n": n}

    return (
        map_arrow(tiles_df, run, schema)
        .groupBy("scene_id", "band", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def zonal_stats(
    tiles_df: DataFrame,
    zones_df: DataFrame,
    zone_key: str = "zone_id",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """Per-(zone, band) pixel statistics.

    ``zones_df``: (zone_key, fw, fs, fe, fn) WGS84 boxes — dimension
    sized (broadcast). ``tiles_df``: the engine tile shape (scene_id,
    band, width, height, nodata, bounds_*, pixels uint16 LE).

    A pixel belongs to a zone iff its center lies inside the zone box
    under the half-open convention [fw, fe) x [fs, fn): a center lying
    exactly on a boundary shared by two adjacent zones is counted by
    exactly one of them. Nodata pixels are excluded when the input carries a
    ``nodata`` column (raw tiles); TOA output rows (float32/float64
    payloads with a ``dtype`` column, no ``nodata``) aggregate every
    pixel. Returns one row per (zone, band) with px_count / px_mean /
    px_min / px_max; zones intersecting no tile produce no row.
    """
    zcover = _explode_cover(zones_df, level)
    tcover = _tile_cover_cells(tiles_df, level)

    # bbox overlap, and the canonical cell of the intersection's SW
    # corner: keeps each (tile, zone) pair exactly once without a
    # dedup shuffle
    keep = "bounds_w <= fe AND bounds_e >= fw AND bounds_s <= fn AND bounds_n >= fs AND cell = %s" % cell_expr(
        "GREATEST(bounds_w, fw)", "GREATEST(bounds_s, fs)", level
    )
    joined = tcover.join(F.broadcast(zcover), "cell").where(keep)

    out_schema = T.StructType([zones_df.schema[zone_key]] + _PARTIAL_FIELDS)

    # Nodata pixels drop only when the input has a non-null ``nodata``;
    # a ``dtype`` column (TOA output rows) overrides the raw uint16
    # payload type.
    def run(batches):
        for batch in batches:
            zid, band, cnt, tot, mn, mx = [], [], [], [], [], []
            for row, buf in binary_rows(batch):
                height, width = row["height"], row["width"]
                arr = np.frombuffer(buf, dtype=row.get("dtype", "uint16")).reshape(height, width)
                bw, be = row["bounds_w"], row["bounds_e"]
                bs, bn = row["bounds_s"], row["bounds_n"]
                dx = (be - bw) / width
                dy = (bn - bs) / height
                # pixel-center coordinates; raster row 0 is the north edge
                cx = bw + (np.arange(width) + 0.5) * dx
                cy = bn - (np.arange(height) + 0.5) * dy
                # the in-zone pixels [fw, fe) x [fs, fn) form a
                # contiguous block (cx ascending, cy descending):
                # compute slice bounds and take a VIEW, not the
                # boolean-mask copy np.ix_ would make
                x0 = np.searchsorted(cx, row["fw"], side="left")
                x1 = np.searchsorted(cx, row["fe"], side="left")
                asc = -cy  # ascending; cy < fn <=> -cy > -fn
                y0 = np.searchsorted(asc, -row["fn"], side="right")
                y1 = np.searchsorted(asc, -row["fs"], side="right")
                sub = arr[y0:y1, x0:x1]
                nodata_v = row.get("nodata")
                vals = sub[sub != nodata_v] if nodata_v is not None else sub.ravel()
                zid.append(row[zone_key])
                band.append(row["band"])
                cnt.append(int(vals.size))
                tot.append(float(vals.sum(dtype=np.float64)) if vals.size else 0.0)
                mn.append(float(vals.min()) if vals.size else float("inf"))
                mx.append(float(vals.max()) if vals.size else float("-inf"))
            yield {
                zone_key: zid,
                "band": band,
                "px_count": cnt,
                "px_sum": tot,
                "px_min": mn,
                "px_max": mx,
            }

    extra_zone_cols = [
        c for c in zones_df.columns if c not in (zone_key, "fw", "fs", "fe", "fn")
    ]
    partials = map_arrow(joined.drop("cell", *extra_zone_cols), run, out_schema)
    return (
        partials.groupBy(zone_key, "band")
        .agg(
            F.expr("sum(px_count) AS px_count"),
            F.expr("sum(px_sum) AS px_sum"),
            F.expr("min(px_min) AS px_min"),
            F.expr("max(px_max) AS px_max"),
        )
        .where("px_count > 0")
        .selectExpr(zone_key, "band", "px_count", "px_sum / px_count AS px_mean", "px_min", "px_max")
    )
