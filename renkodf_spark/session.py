"""Session factory with the engine's recommended configuration.

Everything here is a *default*, not a requirement — the operators work
on any SparkSession (the driver gate passes one in); the factory just
encodes the settings we tune for:

- UTC session timezone: timestamps compare bit-for-bit against
  UTC-naive engines (DuckDB oracle, parquet ms/us columns).
- AQE on: runtime coalescing + skew-join splitting cover the skewed
  symbol/bucket cases without manual salting in the common path.
- shuffle partitions ~ cores locally (the 200 default over-parallelizes
  small local runs; on a real cluster size it to 2-3x total cores).
- Arrow batches bounded by rows only (`ARROW_BATCH_BYTES`, always set,
  no option): ``maxRecordsPerBatch`` caps every JVM->Python Arrow batch
  at 65,536 rows, and ``maxBytesPerBatch`` is 2147483647, the one value
  at which Spark 4.1 skips its byte probe.  Under any other value the
  batch writers (``BatchedPythonArrowInput.writeSizedBatch``, and the
  stateful ``BaseStreamingArrowWriter.isBatchSizeLimitReached``) call
  ``ArrowWriter.sizeInBytes`` once per row; on a 1 M-tick Renko job
  that probe held 23 of 29 ``jstack`` samples of the executor task
  threads (4 cores).  Batches bounded by rows are how Spark 3.x behaved.
- Python workers forked from `renkodf_spark.worker_daemon`
  (``spark.python.daemon.module``, always set, no option): pyspark's
  worker calls ``importlib.invalidate_caches()`` on every task, and
  before Python 3.13 that re-reads the whole directory of
  ``pyspark.zip`` (1,328 entries) once per package imported from it,
  0.10 s a task (4 cores, Python 3.11).  The daemon re-reads an archive only when its
  mtime, size or inode changed, then runs ``pyspark.daemon`` as is; on
  Python >= 3.13 it patches nothing.  Workers must be able to import
  `renkodf_spark`, which every Renko UDF needs anyway.  Sessions not
  built here (the driver gate passes its own) keep pyspark's daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from renkodf_spark import worker_daemon

# every session's Python worker daemon; conf key and module in one place
WORKER_DAEMON = ("spark.python.daemon.module", worker_daemon.__name__)
# every session's Arrow batch byte bound: none, so rows alone bound a batch
ARROW_BATCH_BYTES = ("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))


def build_session(
    app: str = "renkodf-spark",
    *,
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # write-path posture (optimization guide §6): zstd beats snappy
        # on ratio at similar read speed for the persisted index/graph
        # layouts; local A/B neutral (tiny files), the win is at scale
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config(*WORKER_DAEMON)
        .config(*ARROW_BATCH_BYTES)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
