"""Event-time windowed operators with watermark-based late-data policy.

The reference is processing-time only: compaction/batching linger
windows are wall-clock timers and there is no late-data story
(SURVEY §2.6 — ``CompactionProcessor.java:179-181``). Spark's
event-time watermarking is the native upgrade: windows are keyed by
the *task* timestamp, late rows beyond the watermark are dropped
deterministically, and the watermark evicts a window's state once it
passes the window end. ``event_time_compact`` is the batch
``compact_tasks`` called on the watermarked stream, so its last
emission per window equals the batch output over the non-late rows.

Scale: the batch aggregation's plan (partial agg → shuffle on
(key, window) → final agg) plus per-window state in the checkpointed
state store; state size is O(open windows × keys), and the watermark
bounds "open".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from decaton_spark.operators.compaction import compact_tasks


def event_time_compact(
    stream: DataFrame,
    *,
    linger: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "timestamp",
    key_col: str = "key",
) -> DataFrame:
    """Event-time T1 compaction: ``compact_tasks`` on the watermarked
    stream — last-wins survivor per (key, tumbling linger window), late
    rows beyond the watermark dropped.

    Output: key, window_start_ms, offset, meta_timestamp_millis, value.
    Under ``Subscription`` the plan's aggregate runs in update mode:
    each microbatch emits the (key, window) survivors it changed.

    The state holds ``ts_col`` in the survivor as well, so checkpoints
    written by the earlier form of this operator (whose survivor held
    only offset, meta_timestamp_millis and value) cannot be resumed.
    """
    rows = stream.select(
        key_col, ts_col, "offset", "meta_timestamp_millis", "value"
    ).withWatermark(ts_col, watermark)
    return compact_tasks(
        rows, key_cols=[key_col], ts_col=ts_col, linger=linger, keep_window=True
    ).select(
        key_col,
        F.unix_millis("linger_window.start").alias("window_start_ms"),
        "offset",
        "meta_timestamp_millis",
        "value",
    )


def session_windows(
    tasks: DataFrame,
    *,
    gap: str = "30 seconds",
    key_col: str = "key",
    ts_col: str = "meta_timestamp_millis",
    watermark: str = "1 minute",
) -> DataFrame:
    """Per-key session aggregation over event time — the windowed
    grouping the reference's README delegates to Kafka Streams
    (``README.md:27-29``) and Structured Streaming provides natively:
    a session extends while records arrive within ``gap`` of the last
    one; the watermark closes sessions so state is bounded and append
    output (the only mode Spark runs a session window in) is
    exact-once per closed session.

    Works identically on batch DataFrames (deterministic form for
    tests/oracles) and streams. Returns (key, session_start_ms,
    session_end_ms, n_events)."""
    out = tasks.withColumn("_event_time", F.timestamp_millis(F.col(ts_col)))
    if out.isStreaming:
        out = out.withWatermark("_event_time", watermark)
    return (
        out.groupBy(F.col(key_col), F.session_window("_event_time", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
            "n_events",
        )
    )
