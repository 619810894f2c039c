"""Output checks, computed in pandas from the generated input.

Each check returns the number of failed tasks: expected output rows the
sink lacks, sink rows nobody expects or whose content differs from the
input, and rows duplicated beyond the one batch a restart may replay.
``failed_ratio`` is that count over the tasks offered.
"""

from __future__ import annotations

import pandas as pd

from taskgen import BLOCKED_KEYS

WINDOW_MS = 60_000  # compaction linger: compact_tasks(linger="1 minute")


def _valid(tasks: pd.DataFrame) -> pd.DataFrame:
    """ignore_keys then discard_invalid, as specified."""
    return tasks[~tasks["key"].isin(BLOCKED_KEYS) & tasks["value"].notna()]


def _last_wins(df: pd.DataFrame, group: list[str]) -> pd.DataFrame:
    """Survivor per group: the maximal (meta_timestamp_millis, offset)."""
    ordered = df.sort_values(["meta_timestamp_millis", "offset"])
    return ordered.drop_duplicates(group, keep="last")


def _duplicates(sink: pd.DataFrame, col: str, replayed: set[int]) -> int:
    dup = sink.duplicated(col, keep="first")
    return int((dup & ~sink["batch_id"].isin(replayed)).sum())


def check_per_batch(
    tasks: pd.DataFrame,
    file_batch: dict[str, int],
    sink: pd.DataFrame,
    replayed: set[int] = frozenset(),
) -> int:
    """Pipeline ignore_keys -> discard_invalid -> compact_tasks, applied
    to each microbatch: the sink's ``batch_id=N`` holds exactly the
    last-wins survivors per (key, 1-minute window) of the files batch N
    read. Tasks of a file no batch read all count as failed."""
    batch = tasks["file"].map(file_batch)
    failed = int(batch.isna().sum())
    valid = _valid(tasks.assign(batch=batch)).dropna(subset=["batch"])
    valid = valid.assign(win=valid["meta_timestamp_millis"] // WINDOW_MS)
    expected = _last_wins(valid, ["batch", "key", "win"])
    failed += _duplicates(sink, "offset", replayed)
    m = sink.drop_duplicates("offset").merge(
        expected[["offset", "batch", "key", "value"]],
        on="offset",
        how="outer",
        suffixes=("", "_exp"),
        indicator=True,
    )
    failed += int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    wrong = (
        (both["batch_id"] != both["batch"])
        | (both["key"] != both["key_exp"])
        | (both["value"] != both["value_exp"])
    )
    return failed + int(wrong.sum())


def check_keyed(tasks: pd.DataFrame, sink: pd.DataFrame) -> int:
    """streaming_compact: the last emission per (key, window) equals the
    batch compaction (last-wins per key and 1-minute window) over the
    whole backlog after ignore_keys and discard_invalid."""
    valid = _valid(tasks)
    valid = valid.assign(
        window_start_ms=valid["meta_timestamp_millis"] // WINDOW_MS * WINDOW_MS
    )
    expected = _last_wins(valid, ["key", "window_start_ms"])
    last = sink.sort_values("batch_id").drop_duplicates(
        ["key", "window_start_ms"], keep="last"
    )
    m = last.merge(
        expected[["key", "window_start_ms", "offset", "meta_timestamp_millis", "value"]],
        on=["key", "window_start_ms"],
        how="outer",
        suffixes=("", "_exp"),
        indicator=True,
    )
    failed = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    wrong = (
        (both["offset"] != both["offset_exp"])
        | (both["meta_timestamp_millis"] != both["meta_timestamp_millis_exp"])
        | (both["value"] != both["value_exp"])
    )
    return failed + int(wrong.sum())


def check_processed(processed: int, offered: int) -> int:
    """run_simulated_latency: every offered task processed exactly once;
    each task too few or too many counts as failed."""
    return abs(processed - offered)
