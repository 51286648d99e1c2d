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
- The driver JVM maps a class-data-sharing (CDS) archive of the classes
  a session loads, which halves JVM start and warm-up. It lives in
  ``${XDG_CACHE_HOME:-~/.cache}/puffbird_spark/cds/``, named by a key over
  the resolved ``java`` binary and its stat, ``pyspark.__version__`` and
  every ``$SPARK_HOME/jars/*.jar`` with its size and mtime, so a JDK or
  Spark upgrade builds a new one; the first session without one writes
  it when its JVM exits, and deleting the directory forces a rebuild.
  It holds class metadata only: ``-Xshare:auto`` skips an archive the JVM
  cannot validate, and one whose size changed after it was written is
  deleted before a launch.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# CDS warnings (one per signed-JAR or pre-JDK-6 class skipped, over a
# thousand per dump) go to the JVM's stdout, which the gateway inherits
_CDS_LOG_OFF = "-Xlog:cds*=off"
# a dynamic archive's header magic (0xf00baba8, little-endian); the JVM
# writes the header after every region, so a file holding it is complete
_CDS_MAGIC = b"\xa8\xab\x0b\xf0"


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "puffbird_spark", "cds")


def _java_binary() -> str | None:
    """The ``java`` that ``spark-class`` runs, resolved."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.exists(java) else None


def _cds_key(spark_home: str) -> str | None:
    """A digest of what the archive's classes come from: the JVM,
    pyspark's version and Spark's jars."""
    java = _java_binary()
    if java is None:
        return None
    digest = hashlib.sha256()
    for path in [java, *sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))]:
        st = os.stat(path)
        digest.update(f"{path} {st.st_size} {st.st_mtime_ns}\n".encode())
    digest.update(pyspark.__version__.encode())
    return digest.hexdigest()[:20]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


def _archive(cds_dir: str, key: str) -> str | None:
    """The promoted archive ``<key>.<bytes>.jsa``, if one is whole.

    ``-Xshare:auto`` skips an archive whose header does not validate, but
    the JVM maps regions straight from the file: one cut short after it
    was written crashes the JVM (SIGBUS) at start. So the name records
    the size the dump had, and a file of any other size is deleted.
    """
    for path in glob.glob(os.path.join(cds_dir, f"{glob.escape(key)}.*.jsa")):
        try:
            if os.path.getsize(path) == int(path.rsplit(".", 2)[1]):
                return path
            os.unlink(path)
        except (FileNotFoundError, ValueError):
            pass
    return None


def _promote(cds_dir: str, key: str) -> None:
    """Turn finished per-process dumps into the archive.

    Each dump ``<key>.<token>.tmp`` has an owner file ``<key>.<token>.pid``
    naming its writer: the launching Python process, then its JVM. Dumps
    whose writer is alive are left alone; of the rest, one finished dump
    is renamed into place (atomically, so a launch maps either no archive
    or a whole one) and every other one is deleted with its owner file.
    """
    for owner in glob.glob(os.path.join(cds_dir, f"{glob.escape(key)}.*.pid")):
        try:
            with open(owner) as fh:
                pid = int(fh.read())
        except (FileNotFoundError, ValueError):
            continue  # promoted by a concurrent launch, or being written
        if _alive(pid):
            continue
        dump = owner[: -len(".pid")] + ".tmp"
        try:
            with open(dump, "rb") as fh:
                finished = fh.read(len(_CDS_MAGIC)) == _CDS_MAGIC
            if finished and _archive(cds_dir, key) is None:
                size = os.path.getsize(dump)
                os.rename(dump, os.path.join(cds_dir, f"{key}.{size}.jsa"))
            else:
                os.unlink(dump)
        except FileNotFoundError:
            pass
        try:
            os.unlink(owner)
        except FileNotFoundError:
            pass


def _cds_flags(conf_dir: str, cds_dir: str, key: str) -> list[str]:
    """The CDS flags for a driver JVM about to launch.

    The JVM refuses to dump or map an archive while a non-empty directory
    is on the classpath, and Spark puts its conf directory there. When
    that directory holds only ``*.template`` files, ``SPARK_CONF_DIR`` is
    pointed at an empty directory in the cache, which Spark reads the same
    way; when it holds a live file, or Hadoop/YARN configuration adds
    directories of its own, no flags are added and the environment is left
    as it is. With an archive on disk, the flags map it; without one, the
    JVM dumps a per-process file at exit, for a later launch to promote.
    """
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                       "SPARK_DIST_CLASSPATH")):
        return []
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return []
    empty_conf = os.path.join(cds_dir, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = empty_conf
    _promote(cds_dir, key)
    archive = _archive(cds_dir, key)
    if archive is not None:
        return [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto", _CDS_LOG_OFF]
    fd, owner = tempfile.mkstemp(prefix=f"{key}.", suffix=".pid", dir=cds_dir)
    with os.fdopen(fd, "w") as fh:
        fh.write(str(os.getpid()))
    dump = owner[: -len(".pid")] + ".tmp"
    return [f"-XX:ArchiveClassesAtExit={dump}", _CDS_LOG_OFF]


def _driver_java_options(cds_flags: list[str], caller: str) -> str:
    """The session's flags first and the caller's after them, so a
    caller's option (say ``-Xlog:cds``) overrides the session's."""
    return " ".join([*cds_flags, caller]).strip()


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
    conf = dict(extra_conf or {})
    caller_options = conf.pop(_JAVA_OPTIONS, "")
    for k, v in conf.items():
        builder = builder.config(k, v)
    cds_flags = []
    # flags reach the JVM only when this call launches it; a caller's own
    # -Xshare wins (a dump under -Xshare:off stops the JVM at start)
    if (SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
            and "-Xshare" not in caller_options):
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        try:
            key = _cds_key(spark_home)
            cds_flags = _cds_flags(conf_dir, _cds_dir(), key) if key else []
        except OSError:  # an unwritable cache: launch without CDS
            cds_flags = []
    java_options = _driver_java_options(cds_flags, caller_options)
    if java_options:
        builder = builder.config(_JAVA_OPTIONS, java_options)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for flag in cds_flags:
        if flag.startswith("-XX:ArchiveClassesAtExit="):
            # the JVM writes the dump, and it outlives this process when it
            # exits on the gateway's EOF: it becomes the owner
            owner = flag.split("=", 1)[1][: -len(".tmp")] + ".pid"
            try:
                with open(owner, "w") as fh:
                    fh.write(str(spark._jvm.java.lang.ProcessHandle.current().pid()))
            except OSError:  # the cache was deleted meanwhile
                pass
    return spark
