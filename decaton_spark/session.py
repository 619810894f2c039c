"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism actually available, Arrow
enabled for the few pandas-UDF edges, UTC session timezone so
timestamp arithmetic matches the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

MAX_DRIVER_MEM_MB = 16 * 1024
DRIVER_MEM_SHARE = 0.6  # of host memory: leaves room for Python workers


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


def get_spark(app_name: str = "decaton_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the ``master`` and memory settings come from the
    submit environment; everything else here is cluster-size-agnostic:
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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
