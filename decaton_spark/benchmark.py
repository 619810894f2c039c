"""Reference-workload mirror: I/O-bound task throughput.

The reference's benchmark (``benchmark/.../Task.java:62-66``,
``RecordsGenerator.java:60-80``, ``DecatonRunner.java:56-120``) produces
JSON tasks ``{producedTime, processLatency}`` whose processor sleeps
``processLatency`` ms to simulate I/O, and measures sustained tasks/s —
~23,000/s per 8-core instance at ``--simulate-latency=4 --latency-count=5``
with per-partition concurrency 300 (``docs/runtime.adoc:42-99``).

Spark mirror: the same task shape processed by an Arrow-batched
``mapInPandas`` stage that drives the simulated I/O through
``concurrency`` I/O slots per partition — Spark's analog of Decaton's
sub-partition concurrency (partitions × slots ≈ partition count ×
``decaton.partition.concurrency``). The engine's job, like Decaton's,
is keeping every I/O slot full; wall-clock floor is
``n_tasks × latency / (partitions × concurrency)``.

Each call is one Spark job (plus the shuffle, when it has to
repartition): an ``Observation`` counts the input rows in the job that
processes them, and the call checks that count against the rows its
workers processed.
"""

from __future__ import annotations

import asyncio
import time
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def latency_tasks(
    spark: SparkSession,
    *,
    n_tasks: int = 10_000,
    latency_ms: int = 4,
    latency_count: int = 5,
) -> DataFrame:
    """The benchmark task table: id, produced_time, process_latency_ms."""
    return spark.range(n_tasks).select(
        F.col("id").alias("task_id"),
        F.unix_millis(F.current_timestamp()).alias("produced_time"),
        F.lit(latency_ms * latency_count).alias("process_latency_ms"),
    )


def _drive_io_slots(latencies_ms: Iterable[float], concurrency: int) -> int:
    """Wait out each latency (ms) on a real timer, at most
    ``concurrency`` at a time; return how many completed.

    A deferred-completion slot pool on one event loop: ``concurrency``
    timers start with ``loop.call_later``, and each timer's completion
    callback counts its task and starts the next, so a slot refills as
    soon as it frees. ``latencies_ms`` is read lazily, one item per
    started timer, so a partition's Arrow batches stream through one
    pool and no slot empties at a batch boundary. Returns once the input
    is exhausted and nothing is in flight; an error raised while reading
    the input is raised here.
    """
    if concurrency < 1:
        raise ValueError(f"concurrency must be at least 1, got {concurrency}")
    loop = asyncio.new_event_loop()
    pending = iter(latencies_ms)
    drained = loop.create_future()
    done = in_flight = 0

    def start() -> None:
        nonlocal in_flight
        ms = next(pending, None)
        if ms is not None:
            in_flight += 1
            loop.call_later(ms / 1000.0, complete)
        elif in_flight == 0 and not drained.done():
            drained.set_result(None)

    def complete() -> None:
        nonlocal done, in_flight
        done += 1
        in_flight -= 1
        try:
            start()
        except Exception as e:  # the loop would only log it and wait forever
            if not drained.done():
                drained.set_exception(e)

    try:
        for _ in range(concurrency):
            start()
        loop.run_until_complete(drained)
    finally:
        loop.close()
    return done


def run_simulated_latency(
    tasks: DataFrame,
    *,
    partitions: int = 32,
    concurrency: int = 32,
    io_mode: str = "threads",
) -> dict:
    """Process every task with its simulated I/O latency; return
    ``{tasks, wall_sec, tasks_per_sec}``.

    Two I/O-slot models, both bounding in-flight I/Os per partition to
    ``concurrency`` (wall-clock floor ``n × latency / (partitions ×
    concurrency)`` either way):

    - ``io_mode="threads"``: a thread pool drives blocking sleeps —
      the reference benchmark's own model (THREAD_POOL runtime, 300
      threads/partition), kept as the apples-to-apples headline.
    - ``io_mode="async"``: one slot pool per partition
      (``_drive_io_slots``) — the reference's *async processor*
      pattern (``ProcessingContext.deferCompletion``,
      ``docs/async-processing.adoc``): each in-flight I/O is a timer
      whose completion callback counts the task and starts the next
      one, on one event loop fed by all of the partition's Arrow
      batches. No thread blocks per in-flight I/O, and no coroutine,
      task or semaphore waiter is made per task, so the pool keeps its
      slots full with little Python work: on 4 cores, 6,000 tasks of
      20 ms at concurrency 300 take ~1.05× their 400 ms floor, against
      ~1.18× for a pool of 300 threads.
    """
    from concurrent.futures import ThreadPoolExecutor

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=concurrency) as ex:
            done = 0
            for pdf in batches:
                list(
                    ex.map(
                        lambda ms: time.sleep(ms / 1000.0),
                        pdf["process_latency_ms"].tolist(),
                    )
                )
                done += len(pdf)
        yield pd.DataFrame({"n": [done]})

    def proc_async(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lats = (ms for pdf in batches for ms in pdf["process_latency_ms"].tolist())
        yield pd.DataFrame({"n": [_drive_io_slots(lats, concurrency)]})

    fn = {"threads": proc, "async": proc_async}[io_mode]
    # the JVM counts the input rows in the same job that processes them
    offered = Observation()
    counted = tasks.observe(offered, F.count(F.lit(1)).alias("n"))
    # spark.range already spreads over default parallelism; only pay a
    # shuffle when the caller asks for a different partition count
    if tasks.rdd.getNumPartitions() != partitions:
        counted = counted.repartition(partitions)
    t0 = time.perf_counter()
    # one row per partition, summed here: an aggregate would add an
    # exchange, which adaptive execution runs as a job of its own
    processed = sum(r["n"] for r in counted.mapInPandas(fn, "n long").collect())
    wall = time.perf_counter() - t0
    n_tasks = offered.get["n"]
    assert processed == n_tasks, (processed, n_tasks)
    return {
        "tasks": n_tasks,
        "wall_sec": round(wall, 3),
        "tasks_per_sec": round(n_tasks / wall) if wall else None,
    }
