"""T6/S6 — per-key quota with traffic shaping.

Reference semantics (``PerKeyQuotaManager.record()``,
``processor/.../runtime/internal/PerKeyQuotaManager.java:112-135``):
estimate each key's arrival rate over two rotating windows of a
conservative-update Count-Min sketch (``KeyCounter.java:76-151``); keys
at or above ``processing.rate.quota`` are shaped — their records are
side-output to a shaping topic (``QuotaApplierImpl.java:56-114``)
instead of processed.

Spark-first form: the rate estimate is a windowed per-key count — an
aggregation Catalyst executes with map-side partial combine — joined
back to the rows on (key, window). A window function
(``count(*) over (partition by key, win)``) would compute the same
number but WindowExec sorts every row inside each shuffle partition;
the groupBy form partial-aggregates map-side, shuffles only the
(key, window) pairs for the dim side, and skips the sort — the cheaper
plan on exactly the skewed-key distribution quota exists for. The
bounded-memory sketch variant is ``functions.sketches.cm_sketch_table``
in batch and ``streaming.stateful.streaming_quota`` on a stream, which
keeps a conservative-update Count-Min sketch per partition in keyed
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHAPING_TOPIC_SUFFIX = "-shaping"


def apply_key_quota(
    df: DataFrame,
    quota_rate_per_second: float,
    *,
    key_col: str = "key",
    ts_col: str = "timestamp",
    window_duration: str = "10 seconds",
    window_seconds: float | None = None,
    verdict_col: str = "quota_verdict",
) -> DataFrame:
    """Label each row ``process`` or ``shape`` by its key's observed
    rate (count/window) in the tumbling observation window."""
    if window_seconds is None:
        qty, unit = window_duration.split()
        window_seconds = float(qty) * {
            "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
        }[unit]
    win = F.window(F.col(ts_col), window_duration)
    counted = df.withColumn("_q_win", win.start)
    rates = (
        counted.groupBy(F.col(key_col).alias("_q_key"), F.col("_q_win").alias("_q_rwin"))
        .agg((F.count(F.lit(1)) / F.lit(window_seconds)).alias("_q_rate"))
    )
    joined = counted.join(
        rates,
        (F.col(key_col).eqNullSafe(F.col("_q_key")))
        & (F.col("_q_win") == F.col("_q_rwin")),
        "left",
    )
    return joined.withColumn(
        verdict_col,
        F.when(F.col("_q_rate") >= quota_rate_per_second, F.lit("shape")).otherwise(
            F.lit("process")
        ),
    ).drop("_q_win", "_q_key", "_q_rwin", "_q_rate")


def split_shaping(
    df: DataFrame,
    quota_rate_per_second: float,
    *,
    key_col: str = "key",
    ts_col: str = "timestamp",
    window_duration: str = "10 seconds",
) -> tuple[DataFrame, DataFrame]:
    """(to_process, to_shape); shaped rows get ``<topic>-shaping``
    (``PerKeyQuotaConfig.shapingTopic`` naming,
    ``processor/.../runtime/PerKeyQuotaConfig.java:44-151``)."""
    labeled = apply_key_quota(
        df, quota_rate_per_second, key_col=key_col, ts_col=ts_col,
        window_duration=window_duration,
    )
    process = labeled.filter(F.col("quota_verdict") == "process").drop("quota_verdict")
    shape = labeled.filter(F.col("quota_verdict") == "shape").drop("quota_verdict")
    if "topic" in df.columns:
        shape = shape.withColumn(
            "topic", F.concat(F.col("topic"), F.lit(SHAPING_TOPIC_SUFFIX))
        )
    return process, shape
