"""Test helpers: the oracle comparison (row count, column names, and
order-insensitive values), and the one
runner every streaming-builder test starts its query with."""

from __future__ import annotations

import math
import time

import pandas as pd

from decaton_spark.streaming.subscription import Subscription, SubscriptionConfig


def run_subscription(stream, checkpoint=None, *, process=None, trigger=None, until=None,
                     timeout_s: float = 300.0):
    """Run ``stream`` under a ``Subscription`` (its output mode read from
    the plan) and stop it; returns ``(query, batches)``.

    Unless ``process`` is given, each microbatch's rows are collected
    into ``batches`` as ``(batch_id, rows)``. The query runs until it
    ends (``availableNow``, the default ``trigger``, ends at the end of
    its input) or ``until(batches)`` holds; a query failure is raised,
    and a query still running after ``timeout_s`` fails the test."""
    batches: list = []
    sub = Subscription(
        stream.sparkSession,
        stream,
        process_fn=process or (lambda df, bid: batches.append((bid, df.collect()))),
        config=SubscriptionConfig(
            checkpoint_location=checkpoint and str(checkpoint),
            trigger=trigger or {"availableNow": True},
        ),
    )
    query = sub.start()
    deadline = time.monotonic() + timeout_s
    try:
        while not sub.await_termination(0.5):
            if until is not None and until(batches):
                break
            assert time.monotonic() < deadline, "query did not end"
    finally:
        sub.stop()
    return query, batches


def rows_of(batches) -> list:
    """Every row of ``run_subscription``'s batches, in batch order."""
    return [r for _, rows in batches for r in rows]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif pd.api.types.is_bool_dtype(out[c]):
            out[c] = out[c].astype(bool)
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(9)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = ""):
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            diffs = [
                (x, y)
                for x, y in zip(a[c], b[c])
                if not (
                    (math.isnan(x) and math.isnan(y))
                    or math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                )
            ]
            assert not diffs, f"{name}.{c}: value mismatches (first 5): {diffs[:5]}"
        else:
            mism = a[c][a[c].ne(b[c])]
            assert mism.empty, (
                f"{name}.{c}: {len(mism)} mismatches, first at idx {mism.index[0]}: "
                f"{a[c][mism.index[0]]!r} vs {b[c][mism.index[0]]!r}"
            )
