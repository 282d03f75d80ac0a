"""SparkSession factory tuned for the quality-filter workload.

Scale notes (targets a 1000-executor cluster over ~100 TB even though tests
run local[32]):

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
- Arrow on: every pandas UDF crossing is Arrow-batched, and
  ``maxRecordsPerBatch`` bounds per-batch memory for the scoring UDFs.
- Shuffle partitions sized for local test runs; on a real cluster this is
  overridden by AQE (``spark.sql.adaptive.coalescePartitions.enabled``).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2048  # bound per-batch text bytes inside scoring UDFs
# list up to this many partition directories on the driver instead of in a
# Spark job (the default of 32 sends a 64-bucket table through a 64-task
# listing job on every read); above every bucket count in use
PARTITION_DISCOVERY_THRESHOLD = 1024


def get_spark(
    app_name: str = "dqa-quality-filter",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE flip a sort-merge join to broadcast from MEASURED shuffle
        # sizes (guide §3.1): static estimates for UDF-produced sides (e.g.
        # hashed-shingle arrays) are wildly wrong, so the static threshold
        # stays at its default while the runtime one — which only fires on
        # real sizes — covers dimension-sized sides up to 64 MB (well under
        # executor memory on any sane cluster; override via extra_conf)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(PARTITION_DISCOVERY_THRESHOLD))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def forget_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and under CPython 3.11 and 3.12 each cached zipimporter then
    re-reads its archive's whole directory: 16 finders over the 1,328
    entries of ``pyspark.zip``, 0.15-0.25 s of CPU per task on a 4-core
    host. The Python UDFs call this after their last batch, so the next
    task of a reused worker has no zip finder to invalidate. The entries are
    only a cache: a later import builds a new finder from zipimport's
    in-memory directory cache, without reading the archive again."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)
