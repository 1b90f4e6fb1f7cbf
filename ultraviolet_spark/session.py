"""SparkSession factory with the engine's required configs.

Arrow transfer is mandatory (all kernels run on Arrow batches); AQE on
for runtime re-planning; shuffle partitions sized to the parallelism
(SURVEY.md §4).  On a real cluster the same configs ship via
``spark-submit --py-files``; nothing here is local-mode specific
except the default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the ultraviolet_spark package
_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE_CONFS = {
    # Arrow boundary: the engine's hot path crosses JVM→Python per batch.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",  # html blobs are big
    "spark.sql.execution.arrow.useLargeVarTypes": "true",    # >2 GiB binary cols
    # AQE: runtime coalescing + skew-join splitting for the built-in joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Don't let tiny local parquet files produce one giant partition.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    # Python DataSource connectors (sources/warc_ds.py): let predicates
    # reach pushFilters().  Planning-only; no effect on any other path.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(
    app_name: str = "ultraviolet_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` only applies in local mode; on a cluster the master comes
    from spark-submit.  ``shuffle_partitions`` defaults to the
    parallelism (local) — at 100 TB scale set it so each shuffle
    partition lands ≤ ~200 MB (SURVEY.md §4).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # glibc arena reuse for the numpy kernels: without this every
    # MB-scale temporary is a fresh mmap → kernel page-zeroing storms
    # that serialize across Python workers (measured 2× single-core
    # and large multi-core penalty).  Set before the JVM forks so
    # pyspark workers inherit it; executorEnv covers real clusters.
    _MALLOC_ENV = {
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name)
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    if not os.environ.get("SPARK_MASTER"):          # cluster sets its own
        builder = builder.master(f"local[{cores}]")
        # local workers import the package from this checkout, so a
        # script started from any working directory works
        builder = builder.config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cores)
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
