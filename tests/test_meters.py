"""Named-meter parity: the reference's Micrometer surface on Spark.

Checks the meter inventory matches ``Metrics.java:114-352`` name for
name, and that the Spark bindings (observe → counters, progress →
timers, subscription loop → gauges) report correct values on known
data.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from decaton_spark.envelope import events_to_tasks
from decaton_spark.meters import (
    ALL_METER_NAMES,
    MeterListener,
    MeterRegistry,
    Metrics,
    RecordMetrics,
    bind_observed,
    observe_task_meters,
    scrape,
    task_meter_exprs,
)
from decaton_spark.sources import load_table
from decaton_spark.streaming.subscription import Subscription, SubscriptionConfig


def test_meter_surface_matches_reference():
    m = Metrics()
    assert m.registry.names() == ALL_METER_NAMES
    # 18 distinct meter names: the reference's 25 less the 7 that have
    # no Spark analog (COVERAGE.md names them)
    assert len(ALL_METER_NAMES) == 18


def test_meter_primitives():
    reg = MeterRegistry()
    c = reg.counter("tasks.processed", subscription="s")
    c.increment()
    c.increment(4)
    assert c.count == 5
    # same (name, tags) returns the same instance
    assert reg.counter("tasks.processed", subscription="s") is c
    g = reg.gauge("partition.paused")
    g.set(1)
    assert g.value == 1.0
    t = reg.timer("tasks.process.duration")
    for v in [0.1, 0.2, 0.3, 0.4, 1.0]:
        t.record(v)
    assert t.count == 5
    assert t.max == 1.0
    assert t.percentile(0.5) == 0.3
    assert t.percentile(0.99) == 1.0
    s = reg.summary("retry.task.retries")
    s.record(2)
    assert s.total == 2
    assert "decaton.tasks.processed{subscription=s}" in reg.snapshot()
    assert any("kind=timer" in line for line in scrape(reg))


def test_observe_binds_batch_counters(spark):
    df = spark.createDataFrame(
        [
            ("a", 0, 1000),
            ("b", 0, 2000),
            ("c", 2, 3000),
            ("d", 0, 4000),
            (None, 0, 5000),
            (None, 1, 6000),
        ],
        "key string, meta_retry_count long, meta_timestamp_millis long",
    )
    obs = Observation("decaton_task_meters")
    out = df.observe(obs, *task_meter_exprs(valid=F.col("key").isNotNull()))
    out.collect()
    m = Metrics()
    bind_observed(m, obs.get, batch_ts_ms=10_000)
    assert m.task.tasks_processed.count == 4
    assert m.task.tasks_discarded.count == 2
    assert m.task.tasks_error.count == 0
    assert m.retry.retry_queued_tasks.count == 2  # retry_count > 0 rows
    assert m.retry.retry_task_retries.max == 2
    assert m.records.records_consumed["decaton.client.v9"].count == 6
    # the engine decodes only the v9 wire format: no tag reads 0 forever
    assert RecordMetrics.FORMATS == ("decaton.client.v9",)
    assert set(m.records.records_consumed) == {"decaton.client.v9"}
    # newest task in batch is at 6000ms; batch observed at 10000ms
    assert m.task.tasks_delivery_latency.max == pytest.approx(4.0)


def test_streaming_meter_listener(spark, sf_dir, tmp_path):
    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).drop("timestamp")
    d = tmp_path / "in"
    tasks.repartition(2).write.parquet(str(d))
    listener = MeterListener()
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema(tasks.schema).parquet(str(d))
        q = (
            observe_task_meters(stream)
            .writeStream.foreachBatch(lambda df, bid: df.count())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        deadline = time.time() + 30
        while (
            time.time() < deadline
            and listener.metrics.task.tasks_processed.count == 0
        ):
            time.sleep(0.5)  # listener delivery is async
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    m = listener.metrics
    assert m.task.tasks_processed.count == tasks.count()
    assert m.task.tasks_discarded.count == 0
    # microbatch phases mapped onto the consume-loop sections
    assert m.subscription.process_durations["records"].count > 0
    assert m.subscription.process_durations["poll"].count > 0
    assert m.partition_state.offset_last_committed.value == q.lastProgress.batchId


def test_subscription_drives_state_meters(spark, sf_dir, tmp_path):
    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).drop("timestamp")
    d = tmp_path / "in"
    tasks.limit(200).repartition(1).write.parquet(str(d))
    stream = spark.readStream.schema(tasks.schema).parquet(str(d))
    m = Metrics()
    seen: list[int] = []
    sub = Subscription(
        spark,
        stream,
        process_fn=lambda df, bid: seen.append(df.count()),
        config=SubscriptionConfig(
            checkpoint_location=str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        ),
        meters=m,
    )
    q = sub.start()
    q.awaitTermination(120)
    sub.stop()
    assert sum(seen) == 200
    assert m.thread_util.tasks_queued.count == 200
    assert m.thread_util.processor_processed_time.count == len(seen)
    assert m.task.tasks_process_duration.count == len(seen)
    assert m.partition_state.partition_paused.value == 0


def test_offset_gauges_split_consumed_from_committed(spark, tmp_path):
    """``offset.latest.consumed`` is the batch being processed and
    ``offset.last.committed`` the last checkpointed one: inside the
    processor they differ; once the query ends and the listener bus
    drains, both read the last batch id."""
    d = tmp_path / "in"
    for i in range(3):
        spark.createDataFrame([(f"k{i}", i)], "key string, v long").coalesce(
            1
        ).write.parquet(str(d / f"b{i}"))
    stream = (
        spark.readStream.schema("key string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    m = Metrics()
    st = m.partition_state
    seen: list[tuple[int, float, float]] = []

    def process(df, bid):
        df.count()
        seen.append((bid, st.offset_latest_consumed.value, st.offset_last_committed.value))

    listener = MeterListener(m)
    spark.streams.addListener(listener)
    try:
        sub = Subscription(
            spark,
            stream,
            process_fn=process,
            config=SubscriptionConfig(checkpoint_location=str(tmp_path / "ckpt")),
            meters=m,
        )
        q = sub.start()
        q.awaitTermination(120)
        sub.stop()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert [b for b, _, _ in seen] == [0, 1, 2]
    for bid, consumed, committed in seen[1:]:
        assert consumed == bid
        assert committed <= bid - 1
    assert st.offset_latest_consumed.value == 2
    assert st.offset_last_committed.value == 2
