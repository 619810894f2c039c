"""T1 — task compaction: windowed per-key last-wins dedup.

Reference semantics (``processor/.../processors/CompactionProcessor.java:184-227``,
``docs/task-compaction.adoc``): hold at most one task per key inside a
linger window; when another task with the same key arrives, a user
compactor picks the survivor; the loser is completed without
processing; the survivor flushes downstream when the window closes.

Spark-first form: an aggregation, not a stateful loop. Per
``(key, tumbling linger window)`` the survivor is ``max_by(row,
order_key)`` — a single shuffle with map-side partial aggregation, so
it scales linearly and never materializes more than one candidate row
per key per partition on the map side. (A ``row_number`` window
function would sort every row; ``max_by`` is the plan you want at
100 TB.)

The default ordering matches the reference's example compactor (keep
the largest task timestamp, ``docs/task-compaction.adoc`` /
``LocationEvent``), tie-broken by offset for determinism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compact_tasks(
    df: DataFrame,
    *,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "timestamp",
    linger: str | None = "1 hour",
    order_by: Sequence[str | Column] = ("meta_timestamp_millis", "offset"),
    keep_window: bool = False,
) -> DataFrame:
    """Return the survivor row per (key, linger window).

    ``order_by`` is the compactor: the row maximal under the
    lexicographic struct ordering survives (PICK_LEFT/PICK_RIGHT in the
    reference collapses to this for any total order; EITHER is made
    deterministic by the offset tie-break callers should include).
    ``linger=None`` compacts globally per key (one survivor per key).

    The survivor struct holds only the columns outside ``key_cols``;
    the key columns are read from the group, so a streaming caller's
    state does not store them twice. Output columns keep ``df.columns``
    order, plus ``linger_window`` when ``keep_window=True``.

    This is the only survivor election in the package:
    ``streaming_compact`` and ``event_time_compact`` run it on a stream.
    """
    keys = list(key_cols)
    carried = [c for c in df.columns if c not in keys]
    order_struct = F.struct(*[F.col(c) if isinstance(c, str) else c for c in order_by])
    survivor = F.max_by(F.struct(*carried), order_struct).alias("survivor")

    group: list[Column] = [F.col(c) for c in keys]
    if linger is not None:
        group.append(F.window(F.col(ts_col), linger).alias("linger_window"))

    agg = df.groupBy(*group).agg(survivor)
    cols = [
        F.col(c) if c in keys else F.col(f"survivor.{c}").alias(c)
        for c in df.columns
    ]
    if keep_window and linger is not None:
        cols.append(F.col("linger_window"))
    return agg.select(*cols)
