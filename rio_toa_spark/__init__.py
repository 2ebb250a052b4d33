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

__version__ = "0.1.0"
