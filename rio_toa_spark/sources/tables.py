"""Table loading helpers.

* ``read_band_files`` — ingest per-band tile parquet files whose band
  number is encoded in the file name, the columnar form of the
  reference's filename-template parse (rio_toa/toa_utils.py:7-16):
  the band is extracted from ``input_file_name()`` with a regexp at
  scan time, so one glob read covers a whole scene directory and the
  band column prunes like any other.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def band_from_filename_expr(template: str = r".*_B{b}\.parquet"):
    """Column expression extracting the band number from the input
    file path using a ``{b}`` template (reference semantics: template
    with {b} replaced by a lazy integer group)."""
    pattern = template.replace("{b}", "([0-9]+?)")
    return F.regexp_extract(F.input_file_name(), pattern, 1).cast("int")


def read_band_files(
    spark: SparkSession, paths: list[str], template: str = r".*_B{b}\.parquet"
) -> DataFrame:
    """Read per-band tile files, deriving the ``band`` column from each
    file's name. Raises ValueError if any file name does not match the
    template (reference rio_toa/toa_utils.py:12-13)."""
    pattern = re.compile(template.replace("{b}", "([0-9]+?)"))
    for p in paths:
        if not pattern.match(p):
            raise ValueError(
                "%s is not a valid template for %s" % (template, ", ".join(paths))
            )
    return spark.read.parquet(*paths).withColumn("band", band_from_filename_expr(template))
