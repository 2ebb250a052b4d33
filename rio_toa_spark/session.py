"""SparkSession factory with scale-oriented defaults.

The settings below are the ones that matter at 100 TB just as much as
on a single host:

* AQE on (runtime coalescing + skew-join splitting backstops the
  explicit salting done by the spatial layer).
* Arrow execution for every Python boundary: the ``mapInArrow``
  kernels of ``operators.map_arrow``, the MTL ``arrow_udf`` and the
  one pandas kernel left (the MinHash signature stage of
  ``dedup.ngram_jaccard_pairs``, a ``mapInPandas``). Batch size is left to Spark's own two defaults, 10,000
  records and 64 MiB (``spark.sql.execution.arrow.maxBytesPerBatch``)
  per batch: the byte
  bound binds first on half-MiB binary tile rows, the record bound on
  small page/embedding rows. This replaces the reference's riomucho
  window streaming (rio_toa/radiance.py:122-128);
  ``tests/test_plans.py`` pins both bounds.
* shuffle partition count: ``shuffle_partitions``, else
  ``$SPARK_GRAFT_SHUFFLE``, else ``DEFAULT_SHUFFLE_PARTITIONS`` (32,
  whatever the core count; AQE coalesces after a shuffle). Sizing it
  from the cores and the per-task Python cost is ROADMAP #1.
* PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every decorated DataFrame / Column call walks the Python stack,
  imports IPython (~27 MB and ~540 modules in the driver), retries a
  missing ``ipykernel`` import and makes ~6 extra JVM round trips to
  set and clear the JVM-side origin, all to attach a call site that
  would only point at this package's internals. Building an operator
  plan is hundreds of such calls.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "rio_toa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Tile/page parquet files are written small at test SF; on a
        # real cluster this bound splits 100 TB into ~128 MiB tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
