"""SparkSession factory tuned for the maintenance-engine workload.

Local sandbox runs on local[N]; the same config block is what we'd ship to a
multi-executor cluster via spark-submit --py-files (AQE + skew-join splitting
on, Arrow on for the vectorized UDF paths, modest shuffle partitions).

Settings that remove fixed per-operation costs, each paid on every small
CDC merge regardless of its size:

- ``spark.python.daemon.module`` = ``moonlink_spark.worker_daemon``: before
  Python 3.13, pyspark's per-task ``importlib.invalidate_caches()`` re-reads
  the zip directory of every cached zip importer (pyspark.zip's subpackages,
  py4j, the spark-core jar) on every Python task. The daemon re-reads an
  archive only when its (mtime, size) changed. Every writer task, Z-order
  UDF and footer-stats task pays that tax otherwise.
- ``spark.sql.sources.parallelPartitionDiscovery.threshold`` raised above
  any file list the engine plans: scans hand Spark the manifest's explicit
  file paths, and above the default threshold (32) Spark runs a listing job,
  one task per path, only to stat files the catalog already knows. Below the
  threshold the paths are stat'ed on the driver, which on a local or
  mounted filesystem costs far less than a job. Caveat: on an object store
  a serial driver-side stat of thousands of paths is slow too; there the
  right fix is to hand Spark the file statuses (size, mtime) recorded in
  the manifest instead of raising this threshold.
- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` = true: lets
  AQE coalesce the partitions of a cached plan. Without it the merge's
  cached change batch (``operators/merge.py``, the engine's only
  ``.cache()``) keeps ``spark.sql.shuffle.partitions`` partitions, so every
  stage over a 150-row batch runs that many tasks.

The driver heap defaults to half of physical RAM (``SPARK_DRIVER_MEM``
overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 >> 30)}g"


def get_spark(
    app_name: str = "moonlink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make the package importable in executor python workers regardless of
    # the driver's cwd — the local-mode equivalent of spark-submit --py-files
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pythonpath = pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Int.MaxValue: above any file list the engine hands spark.read
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary image payloads: keep Arrow batches small so executor python
        # workers never hold more than ~64MB of pixels at once
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        # concurrent compaction file-group jobs share the cluster fairly
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.python.daemon.module", "moonlink_spark.worker_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
