"""The I/O mirror's deferred-completion slot pool, without Spark.

``_drive_io_slots`` is what ``run_simulated_latency(io_mode="async")``
runs in each partition. Each call here runs in a thread joined with a
timeout, so a pool that never returns fails instead of hanging the suite.
"""

from __future__ import annotations

import math
import threading
import time

import pytest

from decaton_spark.benchmark import _drive_io_slots

# timers and this clock are both CLOCK_MONOTONIC; the margin only absorbs
# float rounding, never a timer that fired early
EPS_S = 1e-6


def drive(latencies_ms, concurrency: int, timeout_s: float = 20.0) -> tuple[int, float]:
    """(completed count, wall seconds) of one pool run."""
    box: dict = {}

    def run() -> None:
        t = time.monotonic()
        try:
            box["n"] = _drive_io_slots(latencies_ms, concurrency)
        except Exception as e:
            box["error"] = e
        box["wall"] = time.monotonic() - t

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout_s)
    assert not th.is_alive(), "slot pool did not return"
    if "error" in box:
        raise box["error"]
    return box["n"], box["wall"]


@pytest.mark.parametrize("n,concurrency", [(0, 300), (7, 1), (40, 40), (95, 10), (100, 10)])
def test_count_and_wall_bound(n, concurrency):
    """Every task is counted (an empty input returns 0 without hanging),
    and the wall is at least ``ceil(n / c)`` waves of ``L``: a pool that
    ever ran more than ``c`` timers at once could finish sooner."""
    latency_ms = 50
    done, wall = drive([latency_ms] * n, concurrency)
    assert done == n
    assert wall >= math.ceil(n / concurrency) * latency_ms / 1000.0 - EPS_S, wall


def test_each_task_waits_its_own_latency():
    """At concurrency 1 the pool reads the next latency when the previous
    timer completes, so the gap between two reads is the earlier task's
    whole wait."""
    lats = [30, 120, 10, 60, 5, 90]
    reads: list[float] = []

    def stream():
        for ms in lats:
            reads.append(time.monotonic())
            yield ms

    n, _ = drive(stream(), 1)
    ended = time.monotonic()
    assert n == len(lats)
    waits = [b - a for a, b in zip(reads, reads[1:] + [ended])]
    for ms, waited in zip(lats, waits):
        assert waited >= ms / 1000.0 - EPS_S, (ms, waits)
    # unequal latencies at full concurrency overlap: the longest one sets the wall
    n, wall = drive(lats, len(lats))
    assert n == len(lats)
    assert max(lats) / 1000.0 - EPS_S <= wall < sum(lats) / 1000.0, wall


def test_slots_stay_full_across_frames():
    """Three Arrow-batch-sized frames of 15 tasks at c=10, L=200 ms: one
    pool over the stream runs 45 tasks in 5 waves (1.0 s). Draining the
    slots at each frame boundary would take 2 waves per frame, 1.2 s."""
    frames = [[200] * 15 for _ in range(3)]
    n, wall = drive((ms for frame in frames for ms in frame), 10)
    assert n == 45
    assert 1.0 - EPS_S <= wall < 1.15, wall


def test_input_error_is_raised():
    def stream():
        yield from [10] * 5
        raise RuntimeError("arrow stream broke")

    with pytest.raises(RuntimeError, match="arrow stream broke"):
        drive(stream(), 2)


def test_concurrency_below_one_is_refused():
    with pytest.raises(ValueError):
        _drive_io_slots([10], 0)
