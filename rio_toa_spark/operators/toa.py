"""TOA pipelines as Spark DataFrame operators.

Plan shape (the Spark equivalent of rio-toa's calculate_* drivers at
rio_toa/radiance.py:64-128, reflectance.py:131-210,
brightness_temp.py:94-172):

    tiles (scan, partition-pruned on band)
      |> broadcast hash join on scene_id against the parsed scenes dim
      |> mapInArrow kernel (zero-copy Arrow buffers -> numpy per tile)
      |> sink (parquet/iceberg, partitionBy scene_id, band)

Scene constants (M/A/E/K1/K2) travel through the broadcast join as
columns — Catalyst's version of the reference's ``global_args`` dict.
The pixel math itself is opaque to Catalyst by design: bitwise float32
parity requires numpy's exact op order (see functions/kernels.py).

Execution notes:
* Kernels run over ``mapInArrow``: the binary pixel buffers are read
  zero-copy from the Arrow batch (``scalar.as_buffer()``) instead of
  materializing per-row python bytes in pandas — measured ~1.5x on the
  radiance path.
* Strips of 64 rows keep float64 intermediates L2-resident (bitwise
  identical: every kernel op is elementwise).

Scalability notes:
* No shuffle anywhere in radiance / reflectance / brightness-temp —
  the scenes side is broadcast, tiles stream through map tasks.
* The reference's multiband stack (reflectance.py:93-96) exists only
  because its sink is one multi-band GeoTIFF; the math is
  band-elementwise, so we process band rows independently (bit-equal,
  proven in tests) and offer stack_bands() as an optional sink-side
  grouping. At 100 TB this turns a would-be k-way shuffle join into a
  pure map.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rio_toa_spark.functions import kernels, sun
from rio_toa_spark.functions.mtl import mtl_band_value, with_parsed_mtl
from rio_toa_spark.operators import (
    arrow_batch,
    binary_offsets,
    binary_rows,
    map_arrow,
    numpy_view,
    take,
)

TILE_KEY = ["scene_id", "band", "tile_row", "tile_col"]

# Cache blocking: kernels run on horizontal strips so float64
# intermediates stay L2-resident instead of streaming DRAM (the
# kernels are elementwise, so strip execution is bitwise-identical to
# whole-tile execution — asserted by the parity tests).
STRIP_ROWS = 64


def _strips(height: int):
    for r0 in range(0, height, STRIP_ROWS):
        yield r0, min(r0 + STRIP_ROWS, height)

_OUT_FIELDS = [
    T.StructField("scene_id", T.StringType()),
    T.StructField("band", T.IntegerType()),
    T.StructField("tile_row", T.IntegerType()),
    T.StructField("tile_col", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("pixels", T.BinaryType()),
]
TOA_OUT_SCHEMA = T.StructType(_OUT_FIELDS)


def prepare_scenes(scenes_df: DataFrame) -> DataFrame:
    """Parse the ODL text column into the typed ``mtl`` struct
    (distributed MTL extraction; reference loads per-file on the
    driver at rio_toa/toa_utils.py:50-55)."""
    return with_parsed_mtl(scenes_df, "mtl_txt", "mtl")


def _nodata_of(value) -> int | None:
    return None if value is None or (isinstance(value, float) and np.isnan(value)) else int(value)


def _toa_batches(batches, dst_dtype: str, compute):
    """The TOA runner over Arrow batches: per batch, ONE output buffer
    sized from each tile's ``height * width * itemsize``; ``compute``
    gets each tile's zero-copy uint16 DN array, the row's scalar
    columns and the tile's (height, width) view of that buffer to
    write into. The buffer becomes the ``pixels`` column as is: no
    per-tile bytes object, no copy into the Arrow array."""
    np_dtype = np.dtype(dst_dtype)
    for batch in batches:
        n = batch.num_rows
        heights = numpy_view(batch.column("height"))
        widths = numpy_view(batch.column("width"))
        offsets = binary_offsets(heights.astype(np.int64) * widths * np_dtype.itemsize)
        data = np.empty(int(offsets[-1]), dtype=np.uint8)
        for i, (row, buf) in enumerate(binary_rows(batch)):
            shape = (row["height"], row["width"])
            out = data[offsets[i] : offsets[i + 1]].view(np_dtype).reshape(shape)
            compute(np.frombuffer(buf, "<u2").reshape(shape), row, out)
        cols = {c: batch.column(c) for c in TILE_KEY + ["width", "height"]}
        cols["dtype"] = [dst_dtype] * n
        cols["pixels"] = pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
        )
        yield cols


def _arrow_toa_op(src: DataFrame, dst_dtype: str, compute) -> DataFrame:
    """Shared TOA operator: ``_toa_batches`` over ``src`` through
    ``map_arrow``, emitting the output pixels under the tile key."""
    return map_arrow(
        src, lambda batches: _toa_batches(batches, dst_dtype, compute), TOA_OUT_SCHEMA
    )


def radiance_tiles(
    tiles_df: DataFrame,
    scenes_df: DataFrame,
    band: int,
    dst_dtype: str = "float32",
    rescale_factor: float | None = None,
    clip: bool = True,
) -> DataFrame:
    """TOA radiance for one band: the Spark form of
    calculate_landsat_radiance (rio_toa/radiance.py:64-128); per-tile
    math matches _radiance_worker (:45-61) bit-for-bit."""
    factor = kernels.normalize_scale(rescale_factor, dst_dtype)
    scenes = prepare_scenes(scenes_df)
    dim = scenes.select(
        "scene_id",
        mtl_band_value(F.col("mtl"), "RADIOMETRIC_RESCALING", "RADIANCE_MULT_BAND_", F.lit(band)).alias("c_ml"),
        mtl_band_value(F.col("mtl"), "RADIOMETRIC_RESCALING", "RADIANCE_ADD_BAND_", F.lit(band)).alias("c_al"),
    )
    src = tiles_df.filter(F.col("band") == band).join(F.broadcast(dim), "scene_id")
    np_dtype = np.dtype(dst_dtype)

    def compute(dn, row, out):
        ml, al, nodata = row["c_ml"], row["c_al"], _nodata_of(row["nodata"])
        for r0, r1 in _strips(dn.shape[0]):
            out[r0:r1] = kernels.rescale(
                kernels.radiance(dn[r0:r1], ml, al, nodata), factor, np_dtype, clip=clip
            )

    return _arrow_toa_op(src, dst_dtype, compute)


def reflectance_tiles(
    tiles_df: DataFrame,
    scenes_df: DataFrame,
    bands: list[int],
    dst_dtype: str = "float32",
    rescale_factor: float | None = None,
    clip: bool = True,
    per_pixel_sun: bool = False,
) -> DataFrame:
    """TOA reflectance for the given bands (scene-center or per-pixel
    sun elevation): the Spark form of calculate_landsat_reflectance
    (rio_toa/reflectance.py:131-210).

    Bit parity with _reflectance_worker (:77-128): each band row is
    processed as a depth-1 stack — float32 pre-cast, length-1 M/A
    lists (which upcast intermediates to float64 exactly like the
    reference's per-band lists), E as a length-1 float64 array or the
    per-pixel grid reshaped (rows, cols, 1).
    """
    factor = kernels.normalize_scale(rescale_factor, dst_dtype)
    # Per-band constants need a (scene x band) dim; build it by
    # cross-joining the tiny scenes dim with the requested band list —
    # still broadcastable (|scenes| * |bands| rows).
    band_lit = F.explode(F.array(*[F.lit(b) for b in bands])).alias("band")
    dim = prepare_scenes(scenes_df).select("scene_id", "mtl").select(
        "scene_id", "mtl", band_lit
    ).select(
        "scene_id",
        "band",
        mtl_band_value(F.col("mtl"), "RADIOMETRIC_RESCALING", "REFLECTANCE_MULT_BAND_", F.col("band")).alias("c_ml"),
        mtl_band_value(F.col("mtl"), "RADIOMETRIC_RESCALING", "REFLECTANCE_ADD_BAND_", F.col("band")).alias("c_al"),
        F.col("mtl.L1_METADATA_FILE.IMAGE_ATTRIBUTES.SUN_ELEVATION").alias("c_e"),
        F.col("mtl.L1_METADATA_FILE.PRODUCT_METADATA.DATE_ACQUIRED").alias("c_date"),
        F.col("mtl.L1_METADATA_FILE.PRODUCT_METADATA.SCENE_CENTER_TIME").alias("c_time"),
    )
    src = tiles_df.filter(F.col("band").isin(bands)).join(
        F.broadcast(dim), ["scene_id", "band"]
    )

    np_dtype = np.dtype(dst_dtype)

    def compute(dn, row, out):
        rows_, cols_ = dn.shape
        nodata = _nodata_of(row["nodata"])
        ml, al = row["c_ml"], row["c_al"]
        arr = out[np.newaxis]  # the depth-1 band stack
        if per_pixel_sun:
            bbox = [row["bounds_w"], row["bounds_s"], row["bounds_e"], row["bounds_n"]]
            date_s, time_s = row["c_date"], row["c_time"]
        else:
            e_scene = row["c_e"]
        for r0, r1 in _strips(rows_):
            data = dn[r0:r1].astype(np.float32)[np.newaxis, :, :]
            if per_pixel_sun:
                elev = sun.sun_elevation_rows(
                    bbox, (rows_, cols_), r0, r1, date_s, time_s
                ).reshape(r1 - r0, cols_, 1)
            else:
                elev = np.array([e_scene])
            arr[:, r0:r1] = kernels.rescale(
                kernels.reflectance(data, [ml], [al], elev, nodata),
                factor,
                np_dtype,
                clip=clip,
            )

    return _arrow_toa_op(src, dst_dtype, compute)


def brightness_temp_tiles(
    tiles_df: DataFrame,
    scenes_df: DataFrame,
    band: int = 10,
    temp_scale: str = "K",
    dst_dtype: str = "float32",
    src_nodata: int = 0,
) -> DataFrame:
    """Brightness temperature for a thermal band: the Spark form of
    calculate_landsat_brightness_temperature
    (rio_toa/brightness_temp.py:94-172). Matches
    _brightness_temp_worker (:65-91): kernel -> temp_rescale -> direct
    dtype cast, no 0-1 rescale; nodata hardcoded to 0 like the
    reference's global_args (:161)."""
    scenes = prepare_scenes(scenes_df)
    dim = scenes.select(
        "scene_id",
        mtl_band_value(F.col("mtl"), "RADIOMETRIC_RESCALING", "RADIANCE_MULT_BAND_", F.lit(band)).alias("c_ml"),
        mtl_band_value(F.col("mtl"), "RADIOMETRIC_RESCALING", "RADIANCE_ADD_BAND_", F.lit(band)).alias("c_al"),
        mtl_band_value(F.col("mtl"), "TIRS_THERMAL_CONSTANTS", "K1_CONSTANT_BAND_", F.lit(band)).alias("c_k1"),
        mtl_band_value(F.col("mtl"), "TIRS_THERMAL_CONSTANTS", "K2_CONSTANT_BAND_", F.lit(band)).alias("c_k2"),
    )
    src = tiles_df.filter(F.col("band") == band).join(F.broadcast(dim), "scene_id")

    np_dtype = np.dtype(dst_dtype)

    def compute(dn, row, out):
        ml, al, k1, k2 = row["c_ml"], row["c_al"], row["c_k1"], row["c_k2"]
        for r0, r1 in _strips(dn.shape[0]):
            out[r0:r1] = kernels.temp_rescale(
                kernels.brightness_temp(dn[r0:r1], ml, al, k1, k2, src_nodata),
                temp_scale,
            ).astype(np_dtype)

    return _arrow_toa_op(src, dst_dtype, compute)


def stack_bands(toa_df: DataFrame, bands: list[int]) -> DataFrame:
    """Optional sink-side band stacking (one row per tile with the
    band planes in order) — the Spark analogue of the reference's
    multi-band GeoTIFF assembly (rio_toa/reflectance.py:198-210).
    The only shuffle in the TOA path, and only when requested.

    Groups by the tile key ONLY and raises if the collected planes
    disagree on width/height/dtype — the stack-level analogue of the
    reference's output-shape check (rio_toa/reflectance.py:67-72).
    Keying on the dims instead would silently SPLIT a mismatched tile
    into two partial rows."""
    order = F.array_position(F.array(*[F.lit(b) for b in bands]), F.col("band"))
    grouped = (
        toa_df.withColumn("_ord", order)
        .groupBy("scene_id", "tile_row", "tile_col")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_ord"),
                        F.col("band"),
                        F.col("width"),
                        F.col("height"),
                        F.col("dtype"),
                        F.col("pixels"),
                    )
                )
            ).alias("_planes")
        )
    )
    dims = F.array_distinct(
        F.transform(
            "_planes",
            lambda p: F.struct(
                p["width"].alias("width"),
                p["height"].alias("height"),
                p["dtype"].alias("dtype"),
            ),
        )
    )
    first = F.element_at(dims, 1)
    # the guard rides EVERY emitted column (not just width): a consumer
    # that selects only `planes`/`bands` lets Catalyst prune the other
    # columns, and a guard carried by one pruned column would silently
    # vanish — the exact misaligned-stack failure it exists to prevent
    err = F.raise_error(
        F.concat(
            F.lit("stack_bands: bands disagree on width/height/dtype for tile "),
            F.col("scene_id"),
            F.lit("/"),
            F.col("tile_row").cast("string"),
            F.lit("/"),
            F.col("tile_col").cast("string"),
            F.lit(" — refusing to stack misaligned planes"),
        )
    )
    ok = F.size(dims) == 1

    def checked(col: F.Column) -> F.Column:
        return F.when(ok, col).otherwise(err)

    return grouped.select(
        "scene_id",
        "tile_row",
        "tile_col",
        checked(first["width"]).alias("width"),
        checked(first["height"]).alias("height"),
        checked(first["dtype"]).alias("dtype"),
        checked(F.transform("_planes", lambda p: p["band"])).alias("bands"),
        checked(F.transform("_planes", lambda p: p["pixels"])).alias("planes"),
    )


def tile_stats(toa_df: DataFrame) -> DataFrame:
    """Per-tile min/max/mean over the decoded payload — the engine's
    form of the whole-array reductions the reference uses for overflow
    checks and tests (rio_toa/toa_utils.py:131-136)."""
    schema = T.StructType(
        [f for f in _OUT_FIELDS if f.name != "pixels"]
        + [
            T.StructField("px_min", T.DoubleType()),
            T.StructField("px_max", T.DoubleType()),
            T.StructField("px_mean", T.DoubleType()),
        ]
    )

    def run(batches):
        for batch in batches:
            mins, maxs, means = [], [], []
            for row, buf in binary_rows(batch):
                arr = np.frombuffer(buf, dtype=np.dtype(row["dtype"]))
                # isfinite works on integer and float dtypes alike for
                # masking; only a bool mask is materialized (no upcast)
                finite = (
                    arr[np.isfinite(arr)]
                    if np.issubdtype(arr.dtype, np.floating)
                    else arr
                )
                mins.append(float(finite.min()) if finite.size else float("nan"))
                maxs.append(float(finite.max()) if finite.size else float("nan"))
                means.append(float(finite.mean()) if finite.size else float("nan"))
            cols = {f.name: batch.column(f.name) for f in _OUT_FIELDS if f.name != "pixels"}
            cols.update(px_min=mins, px_max=maxs, px_mean=means)
            yield cols

    return map_arrow(toa_df, run, schema)


_HIST_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def value_histogram(toa_df: DataFrame, bucket_scale: float = 1.0 / 64) -> DataFrame:
    """Order-insensitive EXACT summary of a TOA raster: per
    (scene, band, bucket) — pixel count, distinct-value count and the
    min/max pixel value, with bucket = floor(value * bucket_scale)
    computed in float32.

    Every output is exact under any execution order (integer counts;
    f32 min/max widened losslessly to f64), which is what makes this
    the SQL-twinnable projection of a float32 pixel buffer: the DuckDB
    oracle recomputes the identical f32 values from the fixture
    generator's exploded-DN side table and must match bit-for-bit.
    Pick a power-of-two ``bucket_scale`` so the f32 multiply is exact.
    Non-finite pixels are dropped (radiance/reflectance emit none;
    brightness_temp NaN-masks nodata — count those via tile_stats).

    Plan shape: per-tile ``np.unique`` partials map-side, then a
    hash-aggregate keyed (scene, band, bucket, value) whose width is
    bounded by the value DOMAIN (<= 65536 distinct per scene/band for
    uint16-sourced rasters), independent of pixel count — so the
    shuffle stays tiny at 100 TB.
    """
    scale = float(bucket_scale)

    def run(batches):
        for batch in batches:
            # per output row: its tile's row in the batch, whose scene_id
            # and band one Arrow take repeats
            cols = {"tile": [], "bucket": [], "value": [], "n": []}
            for i, (row, buf) in enumerate(binary_rows(batch)):
                arr = np.frombuffer(buf, dtype=np.dtype(row["dtype"]))
                if np.issubdtype(arr.dtype, np.floating):
                    arr = arr[np.isfinite(arr)]
                vals, counts = np.unique(arr, return_counts=True)
                # uint8/uint16 widen exactly into f32 (< 2^24)
                f32 = vals.astype(np.float32, copy=False)
                cols["tile"].append(np.full(len(vals), i, dtype=np.int64))
                cols["bucket"].append(
                    np.floor(f32 * scale).astype(np.int32)
                )
                cols["value"].append(f32.astype(np.float64))
                cols["n"].append(counts.astype(np.int64))
            if cols["tile"]:
                out = {k: np.concatenate(v) for k, v in cols.items()}
                tiles = take(batch.select(["scene_id", "band"]), out.pop("tile"))
                yield {"scene_id": tiles.column(0), "band": tiles.column(1), **out}

    per_value = (
        map_arrow(toa_df, run, _HIST_PARTIAL_SCHEMA)
        .groupBy("scene_id", "band", "bucket", "value")
        .agg(F.sum("n").alias("n"))
    )
    return per_value.groupBy("scene_id", "band", "bucket").agg(
        F.sum("n").alias("n"),
        F.count("*").alias("ndv"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def mosaic_scene(tiles_like_df: DataFrame) -> DataFrame:
    """Assemble each (scene, band)'s tile grid back into ONE full-scene
    raster row — the engine's form of the reference's single-GeoTIFF
    sink (windows written into one dst, rio_toa/radiance.py:108-111).

    Works on raw tiles (uint16, no dtype column) and on TOA outputs
    (dtype column present). One shuffle, keyed (scene_id, band); each
    group materializes one scene-band buffer — bounded by scene size
    (the same bound the reference's single-file output has), and groups
    parallelize across (scene, band) pairs.
    """
    out_schema = T.StructType(
        [
            tiles_like_df.schema["scene_id"],
            tiles_like_df.schema["band"],
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("dtype", T.StringType()),
            T.StructField("bounds_w", T.DoubleType()),
            T.StructField("bounds_s", T.DoubleType()),
            T.StructField("bounds_e", T.DoubleType()),
            T.StructField("bounds_n", T.DoubleType()),
            T.StructField("pixels", T.BinaryType()),
        ]
    )

    from pyspark.sql.pandas.types import to_arrow_schema

    pa_out = to_arrow_schema(out_schema)

    def assemble(key, tbl):
        return _mosaic(key, tbl, pa_out)

    return tiles_like_df.groupBy("scene_id", "band").applyInArrow(assemble, out_schema)


def _mosaic(key, tbl: pa.Table, pa_out: pa.Schema) -> pa.Table:
    """One (scene, band) group of tiles as one ``mosaic_scene`` row.
    The raster's own buffer becomes the pixels cell: the scene-band is
    held once, not again as bytes and as an Arrow copy."""
    scene_id, band = (k.as_py() for k in key)
    tiles = list(binary_rows(tbl))
    dtype = tiles[0][0]["dtype"] if "dtype" in tbl.column_names else "uint16"
    np_dtype = np.dtype(dtype)
    # the grid is anchored at the group's own min indices (a
    # subsetted input need not start at tile 0,0), and a HOLE in
    # the grid is a hard error — a None cell would otherwise die
    # with an opaque executor error
    r0 = min(row["tile_row"] for row, _ in tiles)
    c0 = min(row["tile_col"] for row, _ in tiles)
    n_rows = max(row["tile_row"] for row, _ in tiles) - r0 + 1
    n_cols = max(row["tile_col"] for row, _ in tiles) - c0 + 1
    grid = [[None] * n_cols for _ in range(n_rows)]
    for row, buf in tiles:
        grid[row["tile_row"] - r0][row["tile_col"] - c0] = np.frombuffer(
            buf, dtype=np_dtype
        ).reshape(row["height"], row["width"])
    missing = [
        (r + r0, c + c0)
        for r in range(n_rows)
        for c in range(n_cols)
        if grid[r][c] is None
    ]
    if missing:
        raise ValueError(
            "mosaic_scene: scene %s band %s is missing tiles %s — "
            "cannot assemble a contiguous raster" % (scene_id, band, missing[:8])
        )
    # one preallocated raster, each tile copied into its place
    # (np.block concatenates small grids row by row: a second raster)
    ys = np.cumsum([0] + [grid[r][0].shape[0] for r in range(n_rows)])
    xs = np.cumsum([0] + [grid[0][c].shape[1] for c in range(n_cols)])
    full = np.empty((ys[-1], xs[-1]), np_dtype)
    for r in range(n_rows):
        for c in range(n_cols):
            cell = full[ys[r] : ys[r + 1], xs[c] : xs[c + 1]]
            if grid[r][c].shape != cell.shape:
                raise ValueError(
                    "mosaic_scene: scene %s band %s tile %s is %s, its grid cell %s"
                    % (scene_id, band, (r + r0, c + c0), grid[r][c].shape, cell.shape)
                )
            cell[...] = grid[r][c]

    def bound(name, agg):
        if "bounds_w" not in tbl.column_names:
            return pa.nulls(1, pa.float64())
        return [agg(row[name] for row, _ in tiles)]

    cols = {
        "scene_id": [scene_id],
        "band": [band],
        "height": [full.shape[0]],
        "width": [full.shape[1]],
        "dtype": [dtype],
        "bounds_w": bound("bounds_w", min),
        "bounds_s": bound("bounds_s", min),
        "bounds_e": bound("bounds_e", max),
        "bounds_n": bound("bounds_n", max),
        "pixels": pa.Array.from_buffers(
            pa.binary(), 1, [None, pa.py_buffer(binary_offsets([full.nbytes])), pa.py_buffer(full)]
        ),
    }
    return pa.Table.from_batches([arrow_batch(cols, pa_out)])
