"""rio_toa_spark — a from-scratch PySpark-native TOA + spatial-join engine.

Reimplements the query/data-processing capabilities of mapbox/rio-toa
(reference at /root/reference) on Apache Spark:

* TOA kernels (radiance, reflectance, brightness temperature) as
  vectorized numpy over zero-copy Arrow record batches
  (``operators.map_arrow``, one ``mapInArrow`` per kernel) of tiles
  stored as binary raster chunks
  (reference: rio_toa/radiance.py:8-42, reflectance.py:11-74,
  brightness_temp.py:14-62).
* MTL metadata parsing as a Spark-side struct extractor
  (reference: rio_toa/toa_utils.py:58-108).
* Per-pixel solar geometry (reference: rio_toa/sun_utils.py).
* A new S2-style tiling + spatial-join layer (point-in-polygon, kNN,
  salted repartitioning) over Common-Crawl-style web-page tables.
* Training-data pipeline operators: dedup (exact/MinHash/SimHash),
  ANN similarity search, text quality analysis.

Everything is DataFrame-first: Catalyst plans the relational shape
(scans, broadcast joins, aggregations); Python touches data only
through Arrow batches.
"""

import functools
import os
import zipimport

__version__ = "0.1.0"


def _pin_spark_archives() -> None:
    """Stop every Python task from re-reading Spark's own zips and jar.

    PySpark ends each task's setup, reused workers included, with
    ``importlib.invalidate_caches()`` (``pyspark.worker_util
    .setup_spark_files``). On CPython 3.11 ``zipimporter.invalidate_caches``
    re-reads the archive's whole central directory eagerly, and a worker
    holds zip importers over ``pyspark.zip``, the py4j zip and the
    spark-core jar (5,359 entries): ~230 ms per task in a reused
    worker, 0.7 ms with this guard.

    Archives whose real path lies under the real ``$SPARK_HOME`` cannot
    change during a job, so their re-read is skipped; every other
    archive, user ``--py-files`` zips included, keeps the stock
    behaviour. A no-op when ``SPARK_HOME`` is unset; installing twice
    wraps once. Runs on import, so a worker has it from the first
    engine kernel it unpickles.
    """
    spark_home = os.environ.get("SPARK_HOME")
    stock = zipimport.zipimporter.invalidate_caches
    if not spark_home or hasattr(stock, "spark_root"):
        return
    root = os.path.join(os.path.realpath(spark_home), "")

    @functools.wraps(stock)
    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(root):
            stock(self)

    invalidate_caches.spark_root = root
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_pin_spark_archives()
