"""SparkSession factory tuned for the puffbird-spark engine.

The reference (``puffbird/frame.py``) is single-process pandas and has no
session concept; this module is the Spark-native execution envelope:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) so
  plans survive scale-up without hand-tuned partition counts.
- UTC / NTZ-friendly timezone so timestamp semantics match naive-timestamp
  oracles (DuckDB) bit-for-bit.
- Arrow enabled for the few Pandas-UDF escape hatches (variant explosion,
  embedding kernels); everything else stays JVM-side.
- Python workers fork from ``puffbird_spark._worker_daemon``, which stops
  every task from re-reading ``pyspark.zip``'s directory on CPython < 3.13
  (about a second per task); the package's parent directory goes on the
  workers' ``PYTHONPATH`` so the daemon imports from any working directory.
- The compiled-class cache holds the whole working set of generated code,
  so a query or pass that repeats an earlier plan shape reuses its classes
  instead of recompiling them with Janino.
- Streaming checkpoints go through Hadoop's ``FileSystem`` rather than
  ``FileContext``: without Hadoop's native library, ``FileContext``
  forks a ``readlink`` on both ends of every rename (and a ``chmod`` per
  created file), which dominated a small stateful stream's batch time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "puffbird-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-oriented defaults.

    In production this is a cluster session; locally ``local[N]``. All
    settings below are safe on both: AQE re-plans at runtime, so the static
    ``shuffle.partitions`` is only an upper bound for small data and a
    starting point for large data.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] runs everything in the driver JVM; the 1g Spark default
        # OOMs on wide collect_list buckets long before the host does.
        # Only effective at JVM launch — a pre-existing session wins.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # --- adaptive execution: the 100 TB story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- determinism & oracle parity ----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- generated code: compile each class once ----------------------
        # working set measured at 148-153 classes per relational_scan pass,
        # 208-220 per llm_iterative pass; static, so only effective when the
        # session is created
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # --- streaming checkpoints: no shell fork per file ----------------
        # without Hadoop's native library, FileContext's local fs forks
        # readlink on both ends of every rename and chmod per created file:
        # 496 process starts (328 readlink, 168 chmod) per llm_iterative
        # stream replay at ~4.8 ms each. FileSystem.rename is the commit,
        # and it is atomic on HDFS and on POSIX local disks.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        # --- python boundary: Arrow batches, never per-row pickling -------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.daemon.module", "puffbird_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # --- scan efficiency ----------------------------------------------
        # nanosecond parquet timestamps (events table) surface as long —
        # sources.load_table converts them to timestamp_ntz at microsecond
        # precision, matching DuckDB's ns->us truncation
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- catalog: keep table data/metadata out of the repo cwd --------
        # (in-memory catalog — no hive metastore, no derby files; bucketed
        # saveAsTable data lands under the warehouse dir)
        .config("spark.sql.warehouse.dir", "/tmp/pbs_warehouse")
        # --- quieter local runs -------------------------------------------
        .config("spark.ui.showConsoleProgress", "false")
    )
    if os.environ.get("SPARK_GRAFT_UI", "0") != "1":
        builder = builder.config("spark.ui.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
