"""Landsat MTL metadata parsing as a Spark-side struct extractor.

The reference parses ODL text (GROUP/END_GROUP blocks) into a nested
dict on the driver (rio_toa/toa_utils.py:58-108, loader :50-55, key
lookup :19-47, bounds :111-118). Here the same grammar is parsed by a
vectorized Arrow UDF (``arrow_udf``: Arrow arrays in and out, so the
Python worker never loads pandas) over a ``mtl_txt`` string column,
emitted as a JSON string, and lifted to a typed struct with
``from_json`` — so MTL ingestion is a distributed columnar operation,
not a driver loop.
Key lookup and corner bounds are columnar too: ``mtl_band_value``
(band-suffix map access) and ``spatial_join.scene_footprints``.

Value typing matches the reference's cast ladder int → float →
quote-stripped string (rio_toa/toa_utils.py:91-99).
"""

from __future__ import annotations

import json
import re

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from rio_toa_spark.operators import arrow_column

_GROUP_RE = re.compile(r"GROUP\s=\s(.*)")
_END_RE = re.compile(r"END_GROUP\s=\s(.*)")
_KV_RE = re.compile(r"(.*?)\s=\s(.*)")


def _typed(value: str):
    """int → float → de-quoted string, in that order."""
    try:
        return int(value)
    except ValueError:
        pass
    try:
        return float(value)
    except ValueError:
        pass
    return value.strip('"')


def parse_mtl_txt(mtl_text: str) -> dict:
    """Parse Landsat ODL text into a nested dict.

    A stack of open groups: GROUP pushes, END_GROUP pops and attaches
    the finished group to its parent; plain ``KEY = value`` lines land
    in the innermost open group. Mirrors the grammar handled at
    rio_toa/toa_utils.py:58-88.
    """
    stack: list[dict] = [{}]
    for raw_line in mtl_text.splitlines():
        line = raw_line.strip()
        if not line or line == "END":
            continue
        end_match = _END_RE.match(line)
        if end_match:
            finished = stack.pop()
            name = end_match.group(1).strip()
            stack[-1][name] = finished
            continue
        group_match = _GROUP_RE.match(line)
        if group_match:
            stack.append({})
            continue
        kv = _KV_RE.match(line)
        if kv:
            stack[-1][kv.group(1).strip()] = _typed(kv.group(2).strip())
    # Unterminated groups (malformed input) are attached to root in
    # stack order so nothing is silently dropped.
    while len(stack) > 1:
        stack[-2]["_UNTERMINATED"] = stack.pop()
    return stack[0]


@arrow_udf(T.StringType())
def parse_mtl_txt_udf(texts: pa.Array) -> pa.Array:
    """Vectorized: ODL text column → JSON string column (null stays
    null)."""
    return arrow_column(
        [json.dumps(parse_mtl_txt(t)) if t is not None else None for t in texts.to_pylist()],
        pa.string(),
    )


# Typed schema for the MTL groups the engine actually reads; everything
# else stays available through the JSON string column.
MTL_SCHEMA = T.StructType(
    [
        T.StructField(
            "L1_METADATA_FILE",
            T.StructType(
                [
                    T.StructField(
                        "RADIOMETRIC_RESCALING", T.MapType(T.StringType(), T.DoubleType())
                    ),
                    T.StructField(
                        "TIRS_THERMAL_CONSTANTS", T.MapType(T.StringType(), T.DoubleType())
                    ),
                    T.StructField(
                        "IMAGE_ATTRIBUTES",
                        T.StructType(
                            [
                                T.StructField("SUN_ELEVATION", T.DoubleType()),
                                T.StructField("SUN_AZIMUTH", T.DoubleType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "PRODUCT_METADATA",
                        T.StructType(
                            [T.StructField("DATE_ACQUIRED", T.StringType())]
                            + [T.StructField("SCENE_CENTER_TIME", T.StringType())]
                            + [
                                T.StructField(
                                    "CORNER_%s_%s_PRODUCT" % (corner, axis), T.DoubleType()
                                )
                                for corner in ("UL", "UR", "LL", "LR")
                                for axis in ("LAT", "LON")
                            ]
                        ),
                    ),
                    T.StructField("METADATA_FILE_INFO", T.MapType(T.StringType(), T.StringType())),
                ]
            ),
        )
    ]
)


def with_parsed_mtl(df, text_col: str = "mtl_txt", out_col: str = "mtl") -> "pyspark.sql.DataFrame":  # noqa: F821
    """Add ``<out_col>_json`` (full parse) and ``<out_col>`` (typed
    struct of the consumed groups) columns derived from an ODL text
    column."""
    json_col = out_col + "_json"
    df = df.withColumn(json_col, parse_mtl_txt_udf(F.col(text_col)))
    return df.withColumn(out_col, F.from_json(F.col(json_col), MTL_SCHEMA))


def mtl_band_value(mtl_col: Column, group: str, prefix: str, band_col: Column) -> Column:
    """Map-access lookup of a per-band MTL constant, the columnar form
    of the band-suffix key join at rio_toa/toa_utils.py:19-47:
    ``mtl.L1_METADATA_FILE.<group>[concat(<prefix>, band)]``."""
    return mtl_col["L1_METADATA_FILE"][group][F.concat(F.lit(prefix), band_col.cast("string"))]
