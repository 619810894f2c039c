"""Streaming-layer tests: Subscription lifecycle, stateful compaction,
and the ProcessorTestSuite-style restart invariant (SURVEY §5 layer 2:
at-least-once + per-key last-wins correctness across a query restart,
the Spark analog of Decaton's rolling-restart chaos test).
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from decaton_spark.envelope import events_to_tasks
from decaton_spark.meters import Metrics
from decaton_spark.operators import Pipeline, compact_tasks, ignore_keys
from decaton_spark.sources import load_table
from decaton_spark.streaming import (
    Subscription,
    event_time_compact,
    streaming_batch,
    streaming_compact,
    streaming_scheduled,
)
from decaton_spark.streaming.stateful import (
    streaming_dedup,
    streaming_histogram_quantiles,
    streaming_psi_monitor,
)
from decaton_spark.streaming.subscription import SubscriptionConfig, idempotent_parquet_sink

HOUR_MS = 3_600_000


@pytest.fixture(scope="module")
def task_stream_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("task-stream")
    tasks = events_to_tasks(load_table(spark, "events", sf_dir))
    tasks.drop("timestamp").repartition(4).write.mode("overwrite").parquet(str(d))
    return str(d), tasks.drop("timestamp").schema


def test_subscription_foreachbatch(spark, sf_dir, task_stream_dir):
    path, schema = task_stream_dir
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    )
    seen: list[int] = []
    pipe = Pipeline().then_process(lambda df: ignore_keys(df, ["1", "2"]), "ignore")
    sub = Subscription(
        spark,
        stream,
        pipeline=pipe,
        process_fn=lambda df, bid: seen.append(df.count()),
        config=SubscriptionConfig(trigger={"availableNow": True}),
    )
    sub.start("test-sub")
    sub.await_termination(120)
    sub.stop()

    batch = ignore_keys(
        events_to_tasks(load_table(spark, "events", sf_dir)), ["1", "2"]
    ).count()
    assert len(seen) >= 2, "expected multiple microbatches"
    assert sum(seen) == batch, "at-least-once/exactly-once row coverage"


def test_subscription_reloadable_config(spark, task_stream_dir):
    """Dynamic property reload (ProcessorProperties / DynamicProperty):
    the blocklist is re-read every microbatch."""
    path, schema = task_stream_dir
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    )
    cfgs = [SubscriptionConfig(ignore_keys=["1"]), SubscriptionConfig(ignore_keys=[])]
    calls: list[int] = []

    def supplier():
        return cfgs[min(len(calls), 1)]

    def proc(df, bid):
        calls.append(df.filter(F.col("key") == "1").count())

    sub = Subscription(
        spark, stream, process_fn=proc, config_supplier=supplier,
        config=SubscriptionConfig(trigger={"availableNow": True}),
    )
    sub.start("test-reload")
    sub.await_termination(120)
    sub.stop()
    assert calls[0] == 0, "first batch must drop blocklisted key"
    assert sum(calls[1:]) > 0, "after reload, key 1 flows again"


def test_subscription_paused_static_skips_processor(spark, task_stream_dir):
    """rate=0 is Decaton PAUSED (RateLimiter.PAUSED): with a static
    config the processor must never run."""
    path, schema = task_stream_dir
    stream = spark.readStream.schema(schema).parquet(path)
    seen: list[int] = []
    sub = Subscription(
        spark, stream,
        process_fn=lambda df, bid: seen.append(df.count()),
        config=SubscriptionConfig(
            rate_limit_per_second=0, trigger={"availableNow": True}
        ),
    )
    sub.start("test-paused")
    sub.await_termination(120)
    sub.stop()
    assert seen == [], "PAUSED subscription must not process any batch"


def test_subscription_paused_then_unpaused_resumes(spark, task_stream_dir):
    """PAUSED holds the trigger; when the dynamic property changes the
    held batch processes (nothing is lost). The pause loop records the
    time it held the trigger in ``subscription.process.durations{section=
    pause}``, as in ``partition.paused.time``."""
    path, schema = task_stream_dir
    stream = spark.readStream.schema(schema).parquet(path)
    seen: list[int] = []
    polls: list[int] = []

    def supplier():
        polls.append(1)
        # paused for the first few polls, then unpaused
        rate = 0 if len(polls) < 3 else -1
        return SubscriptionConfig(
            rate_limit_per_second=rate, trigger={"availableNow": True}
        )

    m = Metrics()
    sub = Subscription(
        spark, stream,
        process_fn=lambda df, bid: seen.append(df.count()),
        config_supplier=supplier,
        config=SubscriptionConfig(trigger={"availableNow": True}),
        meters=m,
    )
    sub.start("test-unpause")
    sub.await_termination(120)
    sub.stop()
    assert len(polls) >= 3, "pause loop must have re-read the config"
    assert sum(seen) > 0, "held batch must process after unpause"
    pause = m.subscription.process_durations["pause"]
    assert pause.count >= 1
    assert pause.total >= 0.25, "held for at least one 250 ms re-read"
    assert pause.total == pytest.approx(m.partition_state.partition_paused_time.total)



def _keyed_files(spark, path, n_files: int, rows_per_file: int):
    """``n_files`` parquet files of ``rows_per_file`` (id, key) rows,
    one write each so ``maxFilesPerTrigger=1`` gives one file a batch."""
    for i in range(n_files):
        lo = i * rows_per_file
        (
            spark.range(lo, lo + rows_per_file, numPartitions=1)
            .withColumn("key", (F.col("id") % 7).cast("string"))
            .write.mode("append").parquet(path)
        )
    return spark.read.parquet(path).schema


def _drain(spark, name, path, schema, tmp_path, rate=-1, **kwargs):
    """Run a Subscription over ``path``, one file a microbatch, to the end."""
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    sub = Subscription(
        spark,
        stream,
        config=SubscriptionConfig(
            rate_limit_per_second=rate,
            checkpoint_location=str(tmp_path / f"ckpt-{name}"),
            trigger={"availableNow": True},
        ),
        **kwargs,
    )
    sub.start(name)
    sub.await_termination(120)
    sub.stop()


def test_subscription_one_pass_per_microbatch(spark, tmp_path):
    """With Metrics() attached the pipeline runs once per microbatch:
    the processor's own write carries the tasks.queued count. A Python
    UDF filter stage bumps an accumulator once per row it evaluates (a
    filter, so an extra count() could not prune it away)."""
    n_files, per_file = 3, 100
    path = str(tmp_path / "in")
    schema = _keyed_files(spark, path, n_files, per_file)
    seen = spark.sparkContext.accumulator(0)

    def bump(key):
        seen.add(1)
        return True

    keep = F.udf(bump, "boolean")
    pipe = Pipeline().then_process(lambda df: df.filter(keep("key")), "bump")
    sink = str(tmp_path / "sink")

    m = Metrics()
    _drain(spark, "one-pass-write", path, schema, tmp_path, pipeline=pipe,
           process_fn=idempotent_parquet_sink(sink), meters=m)
    assert seen.value == n_files * per_file, "pipeline ran more than once per row"
    assert m.thread_util.tasks_queued.count == n_files * per_file
    assert spark.read.parquet(sink).count() == n_files * per_file

    # A fresh checkpoint replays every batch into the same sink, which
    # skips them all: the processor runs no action, so the count falls
    # back to one count() of the frame, still one pass per row.
    m = Metrics()
    _drain(spark, "one-pass-replay", path, schema, tmp_path, pipeline=pipe,
           process_fn=idempotent_parquet_sink(sink), meters=m)
    assert seen.value == 2 * n_files * per_file
    assert m.thread_util.tasks_queued.count == n_files * per_file
    assert spark.read.parquet(sink).count() == n_files * per_file


def test_subscription_rate_limit_paces_after_processing(spark, tmp_path):
    """A positive rate through Subscription: the token bucket is charged
    after each batch is processed and the batch sleeps off its debt, so
    draining N rows at R/s takes at least (N - R)/R seconds (the bucket
    starts with one second of burst credit)."""
    n_files, per_file, rate = 2, 300, 100
    n = n_files * per_file
    path = str(tmp_path / "in")
    schema = _keyed_files(spark, path, n_files, per_file)
    m = Metrics()
    started = time.monotonic()
    _drain(spark, "rate-limited", path, schema, tmp_path,
           process_fn=idempotent_parquet_sink(str(tmp_path / "sink")), meters=m, rate=rate)
    elapsed = time.monotonic() - started
    slack_s = 0.05  # monotonic-clock and sleep granularity
    assert elapsed >= (n - rate) / rate - slack_s, elapsed
    throttled = m.scheduler.partition_throttled_time
    assert throttled.count >= 1
    assert throttled.total > 0
    assert m.thread_util.tasks_queued.count == n


def _final_survivors(spark, table: str):
    """Survivors are monotone under (ts, offset): the final survivor per
    (key, window) is the max over all update-mode emissions."""
    return (
        spark.table(table)
        .groupBy("key", "window_start_ms")
        .agg(
            F.max_by(
                F.struct("offset", "meta_timestamp_millis", "value"),
                F.struct("meta_timestamp_millis", "offset"),
            ).alias("s")
        )
        .select("key", "window_start_ms", "s.offset", "s.meta_timestamp_millis")
    )


def test_streaming_compaction_matches_batch(spark, sf_dir, task_stream_dir, tmp_path):
    path, schema = task_stream_dir
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    out = streaming_compact(stream, window_ms=HOUR_MS)
    q = (
        out.writeStream.format("memory")
        .queryName("compact_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    got = _final_survivors(spark, "compact_stream").toPandas()

    tasks = events_to_tasks(load_table(spark, "events", sf_dir))
    expected = (
        compact_tasks(tasks, linger="1 hour")
        .withColumn(
            "window_start_ms",
            (F.col("meta_timestamp_millis") / HOUR_MS).cast("long") * HOUR_MS,
        )
        .select("key", "window_start_ms", "offset", "meta_timestamp_millis")
        .toPandas()
    )
    key = ["key", "window_start_ms"]
    got = got.sort_values(key, ignore_index=True)
    expected = expected.sort_values(key, ignore_index=True)
    assert got.equals(expected), "streaming compaction != batch compaction"


def test_streaming_compaction_survives_restart(spark, sf_dir, tmp_path):
    """Chaos analog of ProcessorTestSuite.run() (restart mid-stream):
    process half the files, stop, restart on the full set with the same
    checkpoint — state must carry over and the result equal batch."""
    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).drop("timestamp")
    schema = tasks.schema
    half1 = tasks.filter(F.col("offset") % 2 == 0)
    half2 = tasks.filter(F.col("offset") % 2 == 1)
    d = tmp_path / "stream"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.mode("append").parquet(str(d))

    emissions: list = []

    def run_once(qname):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            streaming_compact(stream, window_ms=HOUR_MS)
            .writeStream.queryName(qname)
            .foreachBatch(lambda df, bid: emissions.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    run_once("compact_r1")  # first instance: half the data, then "crash"
    half2.coalesce(1).write.mode("append").parquet(str(d))
    run_once("compact_r2")  # restarted instance resumes from checkpoint

    # union of emissions from both incarnations; survivors are monotone
    spark.createDataFrame(emissions).createOrReplaceTempView("compact_all")
    got = _final_survivors(spark, "compact_all").toPandas()

    expected = (
        compact_tasks(
            events_to_tasks(load_table(spark, "events", sf_dir)), linger="1 hour"
        )
        .withColumn(
            "window_start_ms",
            (F.col("meta_timestamp_millis") / HOUR_MS).cast("long") * HOUR_MS,
        )
        .select("key", "window_start_ms", "offset", "meta_timestamp_millis")
        .toPandas()
    )
    key = ["key", "window_start_ms"]
    got = got.sort_values(key, ignore_index=True)
    expected = expected.sort_values(key, ignore_index=True)
    assert got.equals(expected), "restart lost or corrupted compaction state"


def _task_rows(spark):
    return spark.createDataFrame(
        [
            ("k1", 1_000, 1, "a"),
            ("k1", 2_000, 2, "b"),
            ("k2", 1_500, 3, "c"),
            ("k1", HOUR_MS + 5, 4, "d"),  # second linger window
            ("k2", 1_200, 5, "e"),  # later offset, earlier ts -> loses
        ],
        "key string, meta_timestamp_millis long, offset long, value string",
    )


def _file_stream(spark, d, batches, schema):
    """One parquet file per microbatch, in order (FileStreamSource
    orders files by modification time)."""
    d.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / f"b{i}"))
        time.sleep(1.1)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )


TASK_SCHEMA = "key string, meta_timestamp_millis long, offset long, value string"
T0 = 1_000_000  # away from epoch 0, which sits on the initial watermark


def _run_compact(stream, ckpt, **kw):
    """Run ``streaming_compact`` to the end of its input; returns the
    query (still queryable) and the rows each microbatch emitted."""
    emitted: list = []
    q = (
        streaming_compact(stream, **kw)
        .writeStream.foreachBatch(
            lambda df, bid: emitted.append(sorted(tuple(r) for r in df.collect()))
        )
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q, emitted


def _assert_native_state_plan(q):
    """``q`` (ended, not stopped) ran one native state-store
    aggregation and no Python node; stops ``q``."""
    try:
        plan = q._jsq.explainInternal(True)
        ops = [op.operatorName for op in q.lastProgress.stateOperators]
    finally:
        q.stop()
    assert "StateStoreSave" in plan
    assert ops == ["stateStoreSave"]
    for node in ("Python", "InPandas", "ArrowEval"):
        assert node not in plan, node


def test_streaming_compact_plans_native_state_aggregate(spark, tmp_path):
    """The compaction is a native stateful aggregation: the executed
    plan saves to the state store and holds no Python node."""
    stream = _file_stream(spark, tmp_path / "src", [_task_rows(spark).collect()], TASK_SCHEMA)
    q, _ = _run_compact(stream, str(tmp_path / "ck"), window_ms=HOUR_MS)
    _assert_native_state_plan(q)


MONITOR_SCHEMA = "event_type string, value double, bucket long"
MONITORS = {
    "histogram": lambda s: streaming_histogram_quantiles(
        s, "value", "event_type", bounds={"a": (0, 1_000)}
    ),
    "psi": lambda s: streaming_psi_monitor(s, baselines={"a": [1] * 20}),
}


def _run_monitor(monitor, stream, ckpt):
    q = (
        MONITORS[monitor](stream)
        .writeStream.foreachBatch(lambda df, bid: df.collect())
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


@pytest.mark.parametrize("monitor", sorted(MONITORS))
def test_counting_monitor_plans_native_state_aggregate(spark, tmp_path, monitor):
    """The histogram and PSI monitors are native stateful aggregations
    too: one state-store save, no Python node."""
    rows = [("a", 1.5, 3), ("a", 7.25, 5), ("b", 2.0, 1)]
    stream = _file_stream(spark, tmp_path / "src", [rows], MONITOR_SCHEMA)
    _assert_native_state_plan(_run_monitor(monitor, stream, str(tmp_path / "ck")))


@pytest.mark.parametrize("bad", [-1, 20])
def test_streaming_psi_monitor_rejects_out_of_range_bucket(spark, tmp_path, bad):
    """A bucket outside [0, n_bins) fails the query and names the
    bucket, rather than being dropped or wrapping into a valid cell."""
    rows = [("a", 1.0, 3), ("a", 2.0, bad)]
    stream = _file_stream(spark, tmp_path / "src", [rows], MONITOR_SCHEMA)
    with pytest.raises(StreamingQueryException, match=rf"bucket {bad} outside \[0, 20\)"):
        _run_monitor("psi", stream, str(tmp_path / "ck")).stop()


STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
STATE_STORES = {
    store: f"org.apache.spark.sql.execution.streaming.state.{cls}"
    for store, cls in [
        ("hdfs", "HDFSBackedStateStoreProvider"),
        ("rocksdb", "RocksDBStateStoreProvider"),
    ]
}
# each stateful operator, over TASK_SCHEMA rows, with the sink rows a
# run of CRASH_BATCHES leaves
CRASH_OPERATORS = {
    "streaming_compact": (lambda s: streaming_compact(s, window_ms=1_000), 5),
    "streaming_dedup": (lambda s: streaming_dedup(s, within="1 hour"), 4),
    "event_time_compact": (
        lambda s: event_time_compact(
            s.withColumn("timestamp", F.timestamp_millis("meta_timestamp_millis")),
            linger="1 second",
            watermark="0 seconds",
        ),
        5,
    ),
}
CRASH_BATCHES = [
    [("k1", T0 + 100, 1, "a"), ("k2", T0 + 200, 2, "b")],
    # k4 redelivers k1's payload: streaming_dedup drops it from state
    [("k1", T0 + 300, 3, "c"), ("k3", T0 + 400, 4, "d"), ("k4", T0 + 500, 5, "a")],
]
CRASH_POINTS = ("after_write", "before_write")


def _crashing_sink(sink, crash):
    """``sink`` that fails the query in batch 1, before or after its
    write; nothing of batch 1 is checkpoint-committed and no later batch
    runs."""

    def write(df, batch_id):
        if batch_id == 1 and crash == "before_write":
            raise RuntimeError(crash)
        sink(df, batch_id)
        if batch_id == 1 and crash == "after_write":
            raise RuntimeError(crash)

    return write


@contextmanager
def _spark_conf(spark, confs):
    """Set session confs for the block (a state-store provider is read
    at query start), then restore them."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


@pytest.fixture(scope="module")
def crash_stream(spark, tmp_path_factory):
    """The CRASH_BATCHES file stream, and the sink rows of each
    (operator, store) run with no crash, filled on first use."""
    src = tmp_path_factory.mktemp("crash") / "src"
    return _file_stream(spark, src, CRASH_BATCHES, TASK_SCHEMA), {}


def _crash_restart_case(spark, crash_stream, tmp_path, operator, crash, store):
    """A stateful Subscription with no meters and no rate limit crashes
    in batch 1 at ``crash`` and restarts; its sink equals a run with no
    crash. On ``after_write`` the replayed batch, which the sink skips,
    still runs its plan once, so its state store commits; on
    ``before_write`` it is rebuilt from batch 0's state and written."""
    stream, clean = crash_stream
    build, n_rows = CRASH_OPERATORS[operator]

    def run(root, name, crash=None):
        sink = idempotent_parquet_sink(str(root / "sink"))
        sub = Subscription(
            spark,
            build(stream),
            process_fn=_crashing_sink(sink, crash) if crash else sink,
            config=SubscriptionConfig(
                checkpoint_location=str(root / "ckpt"),
                trigger={"availableNow": True},
            ),
        )
        with _spark_conf(spark, {STATE_PROVIDER: STATE_STORES[store]}):
            sub.start(name)
            try:
                sub.await_termination(120)
            finally:
                sub.stop()
        return sorted(tuple(r) for r in spark.read.parquet(str(root / "sink")).collect())

    if (operator, store) not in clean:
        clean[(operator, store)] = run(tmp_path / "clean", f"clean-{operator}-{store}")
    crashed = tmp_path / "crash"
    with pytest.raises(StreamingQueryException, match=crash):
        run(crashed, f"crash-{operator}-{store}", crash)
    ckpt = crashed / "ckpt"
    assert STATE_STORES[store] in (ckpt / "offsets" / "0").read_text()
    assert max(int(p.name) for p in (ckpt / "commits").iterdir() if p.name.isdigit()) == 0
    got = run(crashed, f"restart-{operator}-{store}")  # replays batch 1
    assert got == clean[(operator, store)]
    assert len(got) == n_rows


def test_subscription_restart_after_sink_write_without_meters(spark, crash_stream, tmp_path):
    """The first crash-point case: ``streaming_compact`` on the default
    (HDFS-backed) state store, crashed after the sink's write of batch 1
    and before its checkpoint commit."""
    _crash_restart_case(
        spark, crash_stream, tmp_path, "streaming_compact", "after_write", "hdfs"
    )


@pytest.mark.parametrize(
    "operator,crash,store",
    [
        case
        for case in itertools.product(CRASH_OPERATORS, CRASH_POINTS, STATE_STORES)
        if case != ("streaming_compact", "after_write", "hdfs")
    ],
)
def test_subscription_crash_point_matrix(spark, crash_stream, tmp_path, operator, crash, store):
    """Every other (operator, crash point, state store) case of
    ``_crash_restart_case``."""
    _crash_restart_case(spark, crash_stream, tmp_path, operator, crash, store)


def test_streaming_compact_null_payloads_and_timestamps(spark, tmp_path):
    """A null survivor value is emitted as null (as ``compact_tasks``
    gives), not as the string 'None' and not back-filled from an older
    row of the same batch; a row with a null timestamp emits nothing."""
    rows = [
        ("lone", T0 + 100, 1, None),
        ("pair", T0 + 100, 2, "old"),
        ("pair", T0 + 200, 3, None),  # newer, null payload: wins
        ("nots", None, 4, "x"),
    ]
    stream = _file_stream(spark, tmp_path / "src", [rows], TASK_SCHEMA)
    q, emitted = _run_compact(stream, str(tmp_path / "ck"), window_ms=1_000)
    q.stop()
    assert emitted == [
        [("lone", T0, 1, T0 + 100, None), ("pair", T0, 3, T0 + 200, None)]
    ]
    batch = compact_tasks(spark.createDataFrame(rows[:3], TASK_SCHEMA), linger=None)
    assert sorted((r["key"], r["value"]) for r in batch.collect()) == [
        ("lone", None),
        ("pair", None),
    ]


def test_streaming_compact_emits_only_changed_windows(spark, tmp_path):
    """Only windows whose survivor changed in a microbatch are emitted:
    a batch whose rows all lose emits nothing, and a winning row is
    emitted exactly once."""
    batches = [
        [("k", T0 + 500, 10, "a")],
        # earlier ts; same ts with a lower offset: both lose
        [("k", T0 + 400, 11, "b"), ("k", T0 + 500, 9, "c")],
        [("k", T0 + 600, 12, "d"), ("k", T0 + 100, 13, "e")],
        [("k", T0 + 550, 14, "f")],
    ]
    stream = _file_stream(spark, tmp_path / "src", batches, TASK_SCHEMA)
    q, emitted = _run_compact(stream, str(tmp_path / "ck"), window_ms=1_000)
    q.stop()
    assert emitted == [
        [("k", T0, 10, T0 + 500, "a")],
        [],
        [("k", T0, 12, T0 + 600, "d")],
        [],
    ]


def test_streaming_compact_runs_on_rocksdb(spark, tmp_path):
    """The same operator is green under the RocksDB state-store provider
    with changelog checkpointing (the production config PERFORMANCE.md
    documents): same survivors as the default HDFS-backed store."""
    src = tmp_path / "src"
    src.mkdir()
    rows = _task_rows(spark)
    rows.coalesce(1).write.parquet(str(src / "b0"))
    confs = {
        STATE_PROVIDER: STATE_STORES["rocksdb"],
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    with _spark_conf(spark, confs):  # the provider conf is read at query start
        stream = spark.readStream.schema(rows.schema).parquet(f"{src}/*")
        q = (
            streaming_compact(stream, window_ms=HOUR_MS)
            .writeStream.format("memory")
            .queryName("compact_rocks")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    got = _final_survivors(spark, "compact_rocks").toPandas()
    survivors = {
        (r["key"], r["window_start_ms"]): r["offset"] for _, r in got.iterrows()
    }
    assert survivors == {("k1", 0): 2, ("k1", HOUR_MS): 4, ("k2", 0): 3}


def test_streaming_compact_state_ttl_evicts_behind_horizon(spark, tmp_path):
    """``state_ttl_ms`` is an event-time watermark on the window start:
    once the newest window seen moves more than the TTL ahead, older
    windows are evicted AFTER their final emission — those of a key that
    receives no more rows too — and a later row for an evicted window
    is dropped, even one that would have won."""
    batches = [
        [("k", T0 + 100, 1, "a"), ("k", T0 + 1_100, 2, "b"), ("q", T0 + 500, 3, "q")],
        # window T0 changes; window T0 + 10000 puts the watermark at
        # T0 + 8000, which evicts every other window in the next batch
        [("k", T0 + 200, 4, "c"), ("k", T0 + 10_100, 5, "d")],
        [("k", T0 + 10_900, 6, "e")],
        # (T0 + 900, 7) would beat the evicted (T0 + 200, 4): dropped
        [("k", T0 + 900, 7, "f")],
    ]
    stream = _file_stream(spark, tmp_path / "src", batches, TASK_SCHEMA)
    q, emitted = _run_compact(
        stream, str(tmp_path / "ck"), window_ms=1_000, state_ttl_ms=2_000
    )
    try:
        ops = [
            p.stateOperators[0] for p in q.recentProgress if p.numInputRows > 0
        ]
    finally:
        q.stop()
    assert [e for e in emitted if e] == [
        [("k", T0, 1, T0 + 100, "a"), ("k", T0 + 1_000, 2, T0 + 1_100, "b"),
         ("q", T0, 3, T0 + 500, "q")],
        [("k", T0, 4, T0 + 200, "c"), ("k", T0 + 10_000, 5, T0 + 10_100, "d")],
        [("k", T0 + 10_000, 6, T0 + 10_900, "e")],
    ]
    assert [op.numRowsTotal for op in ops] == [3, 4, 1, 1]
    assert [op.numRowsDroppedByWatermark for op in ops] == [0, 0, 0, 1]


def test_event_time_compact_drops_late_rows(spark, tmp_path):
    """Watermark semantics (SURVEY §2.6 event-time upgrade): a row
    arriving after the watermark passed its window is dropped; the
    closed window's survivor is unaffected by it.

    Note: the aggregation operator's late filter uses the watermark
    committed one batch earlier, so the late row must arrive ≥2
    batches after the watermark-advancing event (empirically pinned
    here — this is the cross-batch contract pipelines must design for).
    """
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "stream"
    d.mkdir()
    h = 3_600_000
    base = 1_699_999_200_000  # epoch-aligned to the hour => window [base, base+h)

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "key": pa.array([r[0] for r in rows], pa.string()),
                "timestamp": pa.array(
                    [r[1] * 1000 for r in rows], pa.timestamp("us")
                ),
                "offset": pa.array([r[2] for r in rows], pa.int64()),
                "meta_timestamp_millis": pa.array(
                    [r[1] for r in rows], pa.int64()
                ),
                "value": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        path = str(d / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    now = time.time()
    # A: survivor candidate in W0=[base, base+h) + watermark-advancing row
    write("00-a.parquet", [("k1", base + 1000, 1, "first"),
                           ("k2", base + 3 * h, 2, "advance")], now - 40)
    # B: settles the advanced watermark into the operator threshold
    write("01-b.parquet", [("k2", base + 3 * h + 1, 3, "settle")], now - 30)
    # C: LATE k1 row inside W0 with larger ts (would win were it on time)
    write("02-c.parquet", [("k1", base + 2000, 4, "late-would-win")], now - 20)
    # D: far-future row flushes all remaining windows
    write("03-d.parquet", [("k2", base + 9 * h, 5, "flush")], now - 10)

    schema = (
        "key string, timestamp timestamp, offset long, "
        "meta_timestamp_millis long, value string"
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    out = event_time_compact(stream, linger="1 hour", watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("etc_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    q.stop()

    rows = spark.sql("SELECT * FROM etc_out").collect()
    by_kw = {(r["key"], r["window_start_ms"]): r for r in rows}
    assert len(rows) == len(by_kw), "append mode must emit each window once"
    w0 = by_kw[("k1", base)]
    assert w0["value"] == "first", "late row must not replace the closed survivor"
    assert w0["offset"] == 1
    assert not any(r["value"] == "late-would-win" for r in rows), "late row dropped"
    assert dropped == 1, "exactly the late row counted as watermark-dropped"


def test_streaming_batch_size_and_linger_flush(spark, tmp_path):
    """T2 streaming form (BatchingProcessor.java:126-163): a partition
    with >= capacity tasks flushes full 'size' batches immediately; the
    remainder (and any under-capacity partition) flushes via the linger
    timer. Every input row lands in exactly one flushed batch."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from decaton_spark.streaming import streaming_batch

    d = tmp_path / "stream"
    d.mkdir()
    # partition 0: 23 tasks (capacity 10 => two size flushes + linger 3)
    # partition 1: 4 tasks (=> one linger flush)
    parts = [0] * 23 + [1] * 4
    offs = list(range(23)) + list(range(4))
    tbl = pa.table(
        {
            "partition": pa.array(parts, pa.int32()),
            "offset": pa.array(offs, pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "00.parquet"))

    schema = "partition int, offset long"
    stream = spark.readStream.schema(schema).parquet(str(d))
    out = streaming_batch(stream, capacity=10, linger_ms=2_000)
    q = (
        out.writeStream.format("memory")
        .queryName("batch_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM batch_out ORDER BY partition, batch_seq"
            ).collect()
            if sum(r["batch_size"] for r in rows) == 27:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert sum(r["batch_size"] for r in rows) == 27, f"all rows flushed: {rows}"
    p0 = [r for r in rows if r["partition"] == 0]
    p1 = [r for r in rows if r["partition"] == 1]
    assert [r["reason"] for r in p0] == ["size", "size", "linger"]
    assert [r["batch_size"] for r in p0] == [10, 10, 3]
    # batches partition an ordered offset range, no overlap, no gap
    assert [(r["first_offset"], r["last_offset"]) for r in p0] == [
        (0, 9), (10, 19), (20, 22)
    ]
    assert [(r["reason"], r["batch_size"]) for r in p1] == [("linger", 4)]
    assert [r["batch_seq"] for r in p0] == [0, 1, 2]


def test_streaming_scheduled_holds_until_due(spark, tmp_path):
    """T4 streaming form: tasks with a future scheduled_time are held in
    state and released by a processing-time timer at/after their due
    time; due tasks of the same key are never blocked behind them."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from decaton_spark.streaming import streaming_scheduled

    d = tmp_path / "stream"
    d.mkdir()
    now_ms = int(time.time() * 1000)
    rows = [
        ("k1", 1, now_ms - 1000),      # already due
        ("k1", 2, now_ms + 12_000),    # due in 12 s — must wait
        ("k2", 3, now_ms - 1000),      # due, different key
    ]
    tbl = pa.table(
        {
            "key": pa.array([r[0] for r in rows], pa.string()),
            "offset": pa.array([r[1] for r in rows], pa.int64()),
            "meta_scheduled_time_millis": pa.array(
                [r[2] for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(d / "00.parquet"))

    schema = "key string, offset long, meta_scheduled_time_millis long"
    stream = spark.readStream.schema(schema).parquet(str(d))
    out = streaming_scheduled(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sched_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 45
        got = {}
        while time.time() < deadline:
            got = {
                r["offset"]: r
                for r in spark.sql("SELECT * FROM sched_out").collect()
            }
            if len(got) == 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert set(got) == {1, 2, 3}, f"all tasks eventually emitted, got {set(got)}"
    for off, r in got.items():
        assert r["emitted_at_millis"] >= r["scheduled_time_millis"], (
            f"offset {off} emitted before its scheduled time"
        )
    # the due k1 task was not blocked behind the scheduled one
    assert got[1]["emitted_at_millis"] < got[2]["scheduled_time_millis"]


HOLD_MS = 8_000  # linger / due horizon: longer than a first run's two batches
# timer fold: (schema, its two input batches given the due time, the
# fold, its sink rows in a run with no crash, emitted_at dropped)
TIMER_FOLDS = {
    "streaming_batch": (
        "partition int, offset long",
        lambda due: [[(0, 1), (0, 2)], [(0, 3)]],
        lambda s: streaming_batch(s, capacity=4, linger_ms=HOLD_MS),
        lambda due: [(0, 0, 3, 1, 3, "linger")],
    ),
    "streaming_scheduled": (
        "key string, offset long, meta_scheduled_time_millis long",
        lambda due: [[("k", 1, due), ("k", 2, due)], [("k", 3, due)]],
        streaming_scheduled,
        lambda due: [("k", 1, due), ("k", 2, due), ("k", 3, due)],
    ),
}


@pytest.mark.parametrize("fold", sorted(TIMER_FOLDS))
def test_timer_fold_replays_on_batch_clock(spark, tmp_path, fold):
    """A timer fold that crashes after its sink wrote batch 1, and
    restarts once the linger or due time has passed, delivers offsets
    1-3 as a run with no crash does. The replayed batch 1 decides on its
    own timestamp, restored from the offset log, so it flushes or
    releases nothing, as its first run did; the held tasks reach the
    sink in the next batch. On the wall clock the replay released them
    into batch 1, which the sink skips as written, and they were lost."""
    schema, batches, build, clean = TIMER_FOLDS[fold]
    due = int(time.time() * 1000) + HOLD_MS
    stream = build(_file_stream(spark, tmp_path / "src", batches(due), schema))
    written: dict[int, list] = {}

    def sink(df, batch_id):
        rows = [tuple(r) for r in df.collect()]  # runs the plan: state commits
        written.setdefault(batch_id, rows)  # a replayed batch is not rewritten

    def crash_after_batch_1(df, batch_id):
        sink(df, batch_id)
        if batch_id == 1:
            raise RuntimeError("after_write")

    def start(process):
        return (
            stream.writeStream.foreachBatch(process)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    def delivered():
        return sorted(r for rows in written.values() for r in rows)

    with pytest.raises(StreamingQueryException, match="after_write"):
        start(crash_after_batch_1).awaitTermination(120)
    time.sleep(HOLD_MS / 1000 + 1)  # the linger / due time passes while down
    q = start(sink)
    try:
        deadline = time.time() + 45
        while time.time() < deadline and len(delivered()) < len(clean(due)):
            time.sleep(0.5)
    finally:
        q.stop()

    got = delivered()
    if fold == "streaming_scheduled":
        assert all(r[3] >= r[2] for r in got), "emitted before its due time"
        got = [r[:3] for r in got]
    assert got == clean(due)


def test_streaming_batch_seq_counts_on_after_an_exact_flush(spark, tmp_path):
    """A partition whose first microbatch flushes exactly ``capacity``
    tasks keeps its batch_seq in state: its next flush is numbered 1,
    not 0 again."""
    src, out = tmp_path / "src", []
    for i in range(2):
        spark.createDataFrame(
            [(0, 4 * i + j) for j in range(4)], "partition int, offset long"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
        stream = spark.readStream.schema("partition int, offset long").parquet(f"{src}/*")
        q = (
            streaming_batch(stream, capacity=4)
            .writeStream.foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
    assert [(r["batch_seq"], r["first_offset"]) for r in out] == [(0, 0), (1, 4)]


def test_full_topology_end_to_end(spark, sf_dir, task_stream_dir, tmp_path):
    """The whole Decaton topology as one streaming Subscription
    (reference: CoreFunctionalityTest.java:55-223 shape): blocklist →
    per-key quota split (shaping side-output) → failure split (retry
    sink with mutated metadata) → compaction → main sink. Every input
    row is accounted for in exactly one sink (at-least-once, no loss),
    retry rows carry retry_count+1 and a future scheduled_time, and
    shaping rows carry the -shaping topic."""
    import json

    from decaton_spark.operators import ignore_keys, split_shaping, split_retry
    from decaton_spark.operators.compaction import compact_tasks

    path, schema = task_stream_dir
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    )

    sinks = {"main": [], "retry": [], "shaping": [], "seen": []}
    blocked_keys = ["7"]

    def process(batch_df, batch_id):
        batch_df = batch_df.withColumn(
            "timestamp", F.timestamp_millis(F.col("meta_timestamp_millis"))
        )
        sinks["seen"].append(batch_df.count())
        ok = ignore_keys(batch_df, blocked_keys)
        # quota: keys above 5 events/day in this batch get shaped
        to_process, to_shape = split_shaping(
            ok, 5 / 86_400, window_duration="1 day"
        )
        # simulated failure: rows with invalid JSON payloads retry
        failed = ~F.col("value").startswith("{")
        succeeded, to_retry = split_retry(to_process, failed, backoff_millis=60_000)
        compacted = compact_tasks(succeeded, linger="1 hour")
        sinks["main"].extend(compacted.collect())
        sinks["retry"].extend(to_retry.collect())
        sinks["shaping"].extend(to_shape.collect())

    sub = Subscription(
        spark,
        stream,
        pipeline=Pipeline(),
        process_fn=process,
        config=SubscriptionConfig(
            trigger={"availableNow": True},
            checkpoint_location=str(tmp_path / "ckpt"),
        ),
    )
    sub.start("full-topology")
    sub.await_termination(180)
    sub.stop()

    tasks = events_to_tasks(load_table(spark, "events", sf_dir))
    total = tasks.count()
    blocked = tasks.filter(F.col("key").isin(blocked_keys)).count()
    assert sum(sinks["seen"]) == total, "every input row entered the topology"

    # accounting: shaped + retried + blocked + compaction-inputs == total
    n_shaped = len(sinks["shaping"])
    n_retry = len(sinks["retry"])
    n_main = len(sinks["main"])
    assert n_shaped > 0 and n_retry >= 0 and n_main > 0
    assert n_main + n_retry + n_shaped + blocked <= total, "no duplication"

    for r in sinks["retry"]:
        assert r["topic"].endswith("-retry")
        assert r["meta_retry_count"] >= 1
        assert r["meta_scheduled_time_millis"] > r["meta_timestamp_millis"]
    for r in sinks["shaping"]:
        assert r["topic"].endswith("-shaping")
    # per-key per-window compaction: ≤1 main row per (key, hour, batch)
    for r in sinks["main"]:
        assert r["key"] not in blocked_keys


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark state survives microbatch
    boundaries: a payload re-delivered in a later file is dropped,
    fresh payloads pass (the ingest-time form of dedup_exact)."""

    src = tmp_path / "dedup_src"
    schema = "key string, value string, meta_timestamp_millis long"
    base = 1_700_000_000_000
    spark.createDataFrame(
        [("k1", "payload-A", base), ("k2", "payload-B", base + 1000)], schema
    ).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [("k1", "payload-A", base + 5000),  # re-delivery: must drop
         ("k3", "payload-C", base + 6000)], schema
    ).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_dedup(stream, within="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    got = {r["value"] for r in spark.table("dedup_stream").collect()}
    assert got == {"payload-A", "payload-B", "payload-C"}
    assert spark.table("dedup_stream").count() == 3, "duplicate must drop"


def test_streaming_session_windows(spark, tmp_path):
    """session_window over a file stream: records within the gap merge
    into one session per key; a gap larger than `gap` starts a new
    session; the watermark closes sessions for append output."""
    from decaton_spark.streaming.event_time import session_windows

    src = tmp_path / "sess_src"
    schema = "key string, meta_timestamp_millis long"
    base = 1_700_000_000_000
    spark.createDataFrame(
        [("a", base), ("a", base + 10_000), ("a", base + 120_000),
         ("b", base + 5_000),
         # watermark sentinel: advances event time far enough that every
         # real session closes before the stream ends (open sessions are
         # correctly NOT flushed by availableNow termination)
         ("zz", base + 600_000)],
        schema,
    ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    out = session_windows(stream, gap="30 seconds", watermark="10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    got = {
        (r["key"], r["session_start_ms"], r["n_events"])
        for r in spark.table("sessions").collect()
    }
    # 'a': one 2-event session + one later singleton; 'b': singleton.
    # availableNow ends the stream, so the final watermark closes all.
    assert ("a", base, 2) in got
    assert ("a", base + 120_000, 1) in got
    assert ("b", base + 5_000, 1) in got


def test_idempotent_sink_survives_replay(spark, tmp_path):
    """Replaying a batch id (what Structured Streaming does after an
    uncommitted-batch crash) must not duplicate rows in the sink."""
    from decaton_spark.streaming.subscription import idempotent_parquet_sink

    sink_dir = str(tmp_path / "sink")
    write = idempotent_parquet_sink(sink_dir)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write(df1, 0)
    write(df1, 0)  # replay of the same batch: skipped
    write(spark.createDataFrame([(3, "c")], "id long, v string"), 1)
    got = spark.read.parquet(sink_dir)
    assert got.count() == 3
    assert {r["id"] for r in got.collect()} == {1, 2, 3}


def test_stream_stream_interval_join(spark, tmp_path):
    """Retry-origin correlation as a watermarked stream-stream join:
    each retry pairs with the origin attempt within the backoff
    horizon; a retry outside the bound never matches. The streaming
    result over availableNow equals the batch join."""
    from decaton_spark.streaming.joins import interval_join

    base = 1_700_000_000_000
    origins = [(str(k), base + k * 1000) for k in range(20)]
    # retries: keys 0..9 retry 5s after origin (inside the 1m bound);
    # keys 10..14 "retry" 10 minutes later (outside); 15..19 never retry
    retries = [(str(k), base + k * 1000 + 5_000) for k in range(10)]
    retries += [(str(k), base + k * 1000 + 600_000) for k in range(10, 15)]
    od, rd = str(tmp_path / "o"), str(tmp_path / "r")
    spark.createDataFrame(
        [(k, __import__("datetime").datetime.utcfromtimestamp(t / 1000)) for k, t in origins],
        "key string, origin_ts timestamp",
    ).write.parquet(od)
    spark.createDataFrame(
        [(k, __import__("datetime").datetime.utcfromtimestamp(t / 1000)) for k, t in retries],
        "key string, retry_ts timestamp",
    ).write.parquet(rd)

    schema_o = "key string, origin_ts timestamp"
    schema_r = "key string, retry_ts timestamp"
    lo = spark.readStream.schema(schema_o).option("maxFilesPerTrigger", 2).parquet(od)
    rr = spark.readStream.schema(schema_r).option("maxFilesPerTrigger", 2).parquet(rd)
    joined = interval_join(
        lo, rr,
        left_key="key", right_key="key",
        left_ts="origin_ts", right_ts="retry_ts",
        # watermarks must cover the full event-time spread of the
        # fixture (~10 min): files arrive in arbitrary order, and an
        # early-origin row landing after a late retry advanced the
        # watermark would find its match already evicted — exactly the
        # late-data-drop contract, which the tight-watermark case of
        # test_event_time_compact_drops_late_rows already pins.
        within="1 minutes", left_watermark="20 minutes", right_watermark="20 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["key"],) for r in spark.sql("SELECT key FROM ssj_out").collect()
    }
    assert got == {(str(k),) for k in range(10)}, got

    # batch parity: the same helper on static frames
    b = interval_join(
        spark.read.parquet(od), spark.read.parquet(rd),
        left_key="key", right_key="key",
        left_ts="origin_ts", right_ts="retry_ts", within="1 minutes",
    )
    assert b.count() == 10


def test_interval_join_refuses_ambiguity(spark):
    from decaton_spark.streaming.joins import interval_join

    l = spark.createDataFrame([], "key string, ts timestamp, v long")
    r = spark.createDataFrame([], "key string, rts timestamp, v long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ambiguous"):
        interval_join(
            l, r, left_key="key", right_key="key",
            left_ts="ts", right_ts="rts",
        )


def test_streaming_curation_composition(spark, tmp_path):
    """The curation front door as ONE streaming topology: quality
    filter (narrow projections run unchanged on a stream) -> ingest
    dedup within the watermark horizon -> effectively-once parquet
    sink. Planted short docs are dropped by the filter, re-delivered
    texts are dropped by the dedup state, and the sink holds exactly
    the first-delivery curated corpus."""
    from pyspark.sql import functions as FX

    from decaton_spark.functions.quality import gopher_filter
    from decaton_spark.streaming.subscription import idempotent_parquet_sink

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = 1_700_000_000_000
    rows = [(i, f"{good} doc{i}", base + i * 1000) for i in range(20)]
    # re-deliveries of docs 0-4 (same text, later ids/timestamps)
    rows += [(100 + i, f"{good} doc{i}", base + 500_000 + i) for i in range(5)]
    # low-quality rows the filter must drop before dedup spends state
    rows += [(200 + i, "tiny doc", base + i) for i in range(5)]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "doc_id long, text string, meta_timestamp_millis long"
    ).repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, meta_timestamp_millis long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kept = (
        gopher_filter(stream)
        .filter(FX.col("quality_verdict") == "keep")
        .select("doc_id", "text", "meta_timestamp_millis")
    )
    curated = streaming_dedup(kept, identity=["text"], within="1 hour")

    out = str(tmp_path / "curated")
    q = (
        curated.writeStream.foreachBatch(idempotent_parquet_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 20
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    # every surviving row is a first delivery of a quality doc; which
    # of (i, 100+i) survives depends on microbatch arrival order, so
    # assert the text set exactly and the id set structurally
    assert all(i < 100 or 100 <= i < 105 for i in ids)
    texts = {r["text"] for r in got.select("text").collect()}
    assert texts == {f"{good} doc{i}" for i in range(20)}


def test_stream_static_enrichment_join(spark, sf_dir, task_stream_dir, tmp_path):
    """Stream-static join: the task stream enriches against a static
    dimension (broadcast per microbatch, re-resolvable per batch for
    slowly-changing dims) with no watermark or join state needed."""
    path, schema = task_stream_dir
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    )
    dim = spark.createDataFrame(
        [(str(k), f"tier-{k % 3}") for k in range(64)], "key string, tier string"
    )
    enriched = stream.join(F.broadcast(dim), "key", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.table("enrich_out").count()
    batch = spark.read.schema(schema).parquet(path).count()
    assert total == batch, "stream-static join must not drop or duplicate rows"
    assert (
        spark.table("enrich_out").filter(F.col("tier").isNull()).count()
        == spark.read.schema(schema).parquet(path)
        .join(dim, "key", "left_anti").count()
    )


def test_interval_join_state_survives_restart(spark, tmp_path):
    """Stream-stream join state must persist across a query restart:
    origins consumed before the stop still match retries that arrive
    only after the restart (same checkpoint)."""
    import datetime as dt

    from decaton_spark.streaming.joins import interval_join

    base = dt.datetime(2024, 1, 1)
    od, rd = tmp_path / "o2", tmp_path / "r2"
    od.mkdir(), rd.mkdir()
    ckpt = str(tmp_path / "ckpt2")
    schema_o = "key string, origin_ts timestamp"
    schema_r = "key string, retry_ts timestamp"

    # phase 1: only origins exist
    spark.createDataFrame(
        [(str(k), base) for k in range(10)], schema_o
    ).coalesce(1).write.mode("append").parquet(str(od))
    spark.createDataFrame([], schema_r).coalesce(1).write.mode(
        "append"
    ).parquet(str(rd))

    out = str(tmp_path / "ssj_out2")
    from decaton_spark.streaming.subscription import idempotent_parquet_sink

    def run_once():
        lo = spark.readStream.schema(schema_o).parquet(str(od))
        rr = spark.readStream.schema(schema_r).parquet(str(rd))
        j = interval_join(
            lo, rr, left_key="key", right_key="key",
            left_ts="origin_ts", right_ts="retry_ts",
            within="10 minutes", left_watermark="1 hour",
            right_watermark="1 hour",
        )
        q = (
            j.writeStream.foreachBatch(idempotent_parquet_sink(out))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def n_out():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0  # no committed batches yet

    run_once()  # consumes origins; no matches yet
    assert n_out() == 0

    # phase 2: retries arrive AFTER the restart — matches require the
    # origin rows to have been retained in checkpointed join state
    spark.createDataFrame(
        [(str(k), base + dt.timedelta(minutes=5)) for k in range(10)], schema_r
    ).coalesce(1).write.mode("append").parquet(str(rd))
    run_once()
    assert n_out() == 10, f"expected all 10 post-restart matches, got {n_out()}"


def test_streaming_corpus_merge_ingest(spark, tmp_path):
    """Streaming ingestion service: each microbatch of crawled
    documents is corpus_merge'd into the persisted corpus inside
    foreachBatch — update-by-key, content-guarded inserts — and the
    corpus table IS the cross-batch state, so a checkpointed restart
    resumes mid-stream with no extra recovery logic (the second
    incarnation below processes only the unseen file)."""
    from decaton_spark.operators.merge import corpus_merge

    corpus_dir = str(tmp_path / "corpus")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame([(0, "seed")], schema=schema).write.mode(
        "overwrite"
    ).parquet(corpus_dir)

    def ingest(batch_df, bid):
        ss = batch_df.sparkSession
        existing = ss.read.parquet(corpus_dir)
        merged = corpus_merge(existing, batch_df).drop("origin")
        # materialize before overwriting the table being read; a real
        # deployment writes a new snapshot dir / Delta commit instead
        rows = [(r["doc_id"], r["text"]) for r in merged.collect()]
        ss.createDataFrame(rows, schema=schema).write.mode("overwrite").parquet(
            corpus_dir
        )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    def corpus():
        return {
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(corpus_dir).collect()
        }

    spark.createDataFrame([(1, "a"), (2, "b")], schema=schema).coalesce(
        1
    ).write.mode("append").parquet(str(in_dir))
    run_once()
    assert corpus() == {(0, "seed"), (1, "a"), (2, "b")}

    # update 1, content-dup 3 (text 'b' already lives at doc 2), new 4
    spark.createDataFrame(
        [(1, "a2"), (3, "b"), (4, "new")], schema=schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    run_once()  # restarted incarnation resumes from the checkpoint
    assert corpus() == {(0, "seed"), (1, "a2"), (2, "b"), (4, "new")}


def test_streaming_expectations_quarantine_sink(spark, tmp_path):
    """The data-quality gate in the ingest topology: expectations
    evaluated per microbatch inside foreachBatch, clean rows to the
    main table, violators (with their violation lists) to a quarantine
    table — and per-rule counts accumulate across batches."""
    from pyspark.sql import functions as F

    from decaton_spark.operators.expectations import apply_expectations

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    good_dir = str(tmp_path / "good")
    quar_dir = str(tmp_path / "quarantine")
    schema = "id long, value double"
    rule_counts: dict[str, int] = {}

    def gate(batch_df, bid):
        passed, quarantined, stats = apply_expectations(
            batch_df, {"value_non_negative": F.col("value") >= 0}
        )
        passed.write.mode("append").parquet(good_dir)
        quarantined.withColumn(
            "violations", F.array_join("violations", ",")
        ).write.mode("append").parquet(quar_dir)
        for r in stats.collect():
            rule_counts[r["rule"]] = (
                rule_counts.get(r["rule"], 0) + r["n_violations"]
            )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            stream.writeStream.foreachBatch(gate)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    import time

    spark.createDataFrame(
        [(1, 1.0), (2, -2.0)], schema=schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    time.sleep(1.1)
    spark.createDataFrame(
        [(3, None), (4, 4.0)], schema=schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    run_once()

    good = {r["id"] for r in spark.read.parquet(good_dir).collect()}
    quar = {
        (r["id"], r["violations"])
        for r in spark.read.parquet(quar_dir).collect()
    }
    assert good == {1, 4}
    assert quar == {(2, "value_non_negative"), (3, "value_non_negative")}
    assert rule_counts == {"value_non_negative": 2}


def test_streaming_bloom_decontaminate_equals_batch(spark, tmp_path):
    """Streaming ingest decontamination: the Bloom bitmap is the
    offline artifact (built once from the eval set), and the probe is
    row-local — every window of a document comes from its single row —
    so running bloom_decontaminate inside foreachBatch is EXACTLY the
    batch answer for any row-partitioned microbatch split. The shape a
    crawler pipeline runs: screen each arriving batch against the
    frozen eval bitmap before anything enters the corpus."""
    from decaton_spark.functions.quality import (
        bloom_decontaminate,
        build_bloom_bitmap,
    )

    schema = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], schema
    )
    rows = [
        (1, "prefix the quick brown fox runs away"),
        (2, "clean document with no overlap present"),
        (3, "again the quick brown fox jumps here"),
        (4, "another fully clean row of words"),
    ]
    bitmap = build_bloom_bitmap(bench, n=3, m_bits=4096, k=3)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # two appended file sets -> two microbatches (maxFilesPerTrigger=1)
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))

    got: list[tuple] = []

    def screen(batch_df, bid):
        flagged = bloom_decontaminate(batch_df, n=3, m_bits=4096, k=3, bitmap=bitmap)
        got.extend(
            (r["doc_id"], r["n_flagged_ngrams"]) for r in flagged.collect()
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .writeStream.foreachBatch(screen)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        (r["doc_id"], r["n_flagged_ngrams"])
        for r in bloom_decontaminate(
            spark.createDataFrame(rows, schema), n=3, m_bits=4096, k=3, bitmap=bitmap
        ).collect()
    }
    assert set(got) == batch
    assert {d for d, _ in got} == {1, 3}


def test_streaming_novelty_equals_batch(spark, tmp_path):
    """Streaming-ingest novelty: scoring each microbatch against the
    persistent seen-gram store (plus earlier docs of the same batch)
    reproduces the batch novelty_stats answer exactly for an
    append-only monotone-id corpus, for ANY microbatch split."""
    from decaton_spark.functions.quality import (
        novelty_ingest_batch,
        novelty_stats,
    )

    schema = "doc_id long, text string"
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # copy of 1
        (3, "alpha beta gamma delta nu xi omicron"),  # partial overlap
        (4, "completely fresh words in this row here"),
    ]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))

    store = str(tmp_path / "gram_store")
    got: list[tuple] = []

    def score(batch_df, bid):
        out = novelty_ingest_batch(batch_df, store, bid, n=3)
        got.extend(
            (r["doc_id"], r["n_grams"], r["novel_grams"], r["novelty_pml"])
            for r in out.collect()
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .writeStream.foreachBatch(score)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        (r["doc_id"], r["n_grams"], r["novel_grams"], r["novelty_pml"])
        for r in novelty_stats(
            spark.createDataFrame(rows, schema), n=3
        ).collect()
    }
    assert set(got) == batch
    by_doc = {t[0]: t for t in got}
    assert by_doc[1][3] == 1000 and by_doc[2][3] == 0
    assert by_doc[4][3] == 1000
    assert 0 < by_doc[3][3] < 1000
