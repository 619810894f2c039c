"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism actually available, Arrow
enabled for the few pandas-UDF edges, UTC session timezone so
timestamp arithmetic matches the DuckDB oracle.

Two settings change what runs under the engine, not what it computes:

- ``spark.python.daemon.module`` is ``decaton_spark._worker_daemon``:
  Python workers fork from a daemon whose zip importers re-read an
  archive only when it changed. PySpark invalidates import caches at
  the start of every task, and on Python 3.11 that re-read
  ``pyspark.zip``, the py4j zip and the ``spark-core`` jar on
  ``PYTHONPATH`` in every task of every ``mapInPandas``, pandas-UDF and
  ``applyInPandasWithState`` stage (150-200 ms a task).
- ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
  ``FileSystemBasedCheckpointFileManager``. The default, FileContext-based
  manager renames through ``AbstractFileSystem.renameInternal``, which
  asks for the link status of the source, the destination and both
  ``.crc`` files, and Hadoop's local file system forks ``readlink`` for
  each, in every state-store delta, offset, commit and file-source log
  write (1,320 processes in one perfbench ``keyed_state`` run). On a
  local file system both managers check, then rename (an atomic POSIX
  rename), and both keep the no-overwrite contract and the ``.crc``
  checksum files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

MAX_DRIVER_MEM_MB = 16 * 1024
DRIVER_MEM_SHARE = 0.6  # of host memory: leaves room for Python workers

DAEMON_MODULE = "decaton_spark._worker_daemon"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_driver_memory() -> str:
    """Driver heap for local mode: 60% of the host's ``MemTotal``, never
    above 16g, so a smaller host keeps the JVM out of reach of the
    out-of-memory killer. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, int(total_kb / 1024 * DRIVER_MEM_SHARE))}m"


def _daemon_can_import_engine() -> bool:
    """Whether Spark's Python daemon can import this package.

    Spark starts the daemon with the JVM's ``PYTHONPATH``. A JVM this
    process launches inherits ours, which ``_ensure_workers_can_import``
    extended by the package root. A JVM that already runs (the one
    ``spark-submit`` started) is asked for its own: ``--py-files``
    archives reach workers per task, after the daemon started, so a
    package shipped only that way keeps PySpark's stock daemon.
    """
    from pyspark import SparkContext

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        jvm_path = os.environ.get("PYTHONPATH", "")
    else:
        SparkContext._ensure_initialized()
        jvm_path = SparkContext._jvm.java.lang.System.getenv("PYTHONPATH") or ""
    return root in jvm_path.split(os.pathsep)


def get_spark(app_name: str = "decaton_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a ``local[n]`` SparkSession with engine defaults.

    It only builds local sessions: the daemon module and the checkpoint
    manager above are chosen for a local file system and for workers
    that share the driver's ``PYTHONPATH``. On a real cluster the
    ``master`` and memory settings come from the submit environment; everything else here is cluster-size-agnostic:
    AQE handles partition-count right-sizing at any scale, and the
    static ``spark.sql.shuffle.partitions`` is only the pre-AQE upper
    bound sized to local cores.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events fixture carries TIMESTAMP(NANOS) parquet columns,
        # which Spark only reads as long via this legacy flag
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    if _daemon_can_import_engine():
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
