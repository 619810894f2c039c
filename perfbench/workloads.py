"""The four workloads. Each returns its end-to-end metrics and, when
traced, its per-layer metrics; it adds the tasks it offered and the
ones that failed to ``Ctx``.

Every workload builds its inputs from the seed, sets up ``SETUP_REPS``
times (the median set-up is reported), measures, then checks its
outputs against ``oracle``. With tracing on, the measured phase runs
untraced, traced and untraced again; the traced mean microbatch time
(call time on io_mirror, task latency on live_latency) over that of the
untraced phase after it is reported as tracing overhead.
"""

from __future__ import annotations

import functools
import gc
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.errors import StreamingQueryException

from decaton_spark.benchmark import run_simulated_latency
from decaton_spark.meters import MeterListener, Metrics
from decaton_spark.operators.compaction import compact_tasks
from decaton_spark.operators.filters import discard_invalid, ignore_keys
from decaton_spark.operators.pipeline import Pipeline
from decaton_spark.streaming.stateful import streaming_compact
from decaton_spark.streaming.subscription import (
    Subscription,
    SubscriptionConfig,
    idempotent_parquet_sink,
)

import oracle
import probes
from taskgen import BLOCKED_KEYS, SPARK_SCHEMA, TaskGenerator, TaskMix, write_atomic, write_backlog

SETUP_REPS = 3
REPLAY_REPS = 5
# Traced runs measure untraced, traced, untraced. The first untraced
# phase finishes the warm-up (which otherwise makes whatever runs first
# slower); the tracing overhead compares the traced phase with the
# untraced one after it, so any warm-up left counts against tracing.
TAGS = {False: ("plain",), True: ("plain", "traced", "plain2")}
T0_MS = 1_700_000_000_000
FILE_SPAN_MS = 120_000  # event time one backlog file covers: two linger windows
AVAILABLE_NOW = {"availableNow": True}

BACKLOG_MIX = TaskMix(n_keys=5_000, zipf_s=1.1, invalid_share=0.02, blocked_share=0.01, error_share=0.01)
KEYED_MIX = TaskMix(n_keys=50_000, zipf_s=0.5, invalid_share=0.02, blocked_share=0.01, error_share=0.01)
BACKLOG_ROWS = 2_500  # per file; one file per microbatch
BACKLOG_FILES_PER_S = 1.5  # a pipeline batch costs 0.7-1.2 s on 4 cores
KEYED_ROWS = 100  # per file: far fewer rows per batch than distinct keys
KEYED_FILES_PER_S = 0.8  # a stateful batch costs 1.2-1.6 s on 4 cores
LIVE_RATES = {"low": 2_000, "high": 15_000}  # offered tasks/s
LIVE_TICK_S = 0.05  # the generator writes one file per tick
LIVE_TRIGGER = {"processingTime": "100 milliseconds"}
IO_TASKS_PER_CALL = 24_000
IO_LATENCY_MS, IO_LATENCY_COUNT, IO_CONCURRENCY = 4, 5, 300

#: Per-layer metric -> unit. ``*_ms`` are means per microbatch (or per
#: listener call), except the ``spark.*`` totals and ``gen.lateness_ms``.
LAYER_METRICS = {
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms", "sources.rows_per_batch": "rows",
    "operators.apply_ms": "ms", "operators.rows_in": "rows", "operators.rows_out": "rows",
    "subscription.add_batch_ms": "ms", "subscription.overhead_ms": "ms",
    "subscription.query_planning_ms": "ms", "subscription.commit_ms": "ms",
    "subscription.jobs_per_batch": "jobs",
    "sink.write_ms": "ms", "sink.files": "count", "sink.bytes": "bytes", "sink.skipped_batches": "count",
    "state.rows_total": "rows", "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "state.update_ms": "ms", "state.rows_updated": "rows",
    "meters.listener_ms": "ms", "meters.samples_held": "count",
    "io.wall_over_floor": "ratio", "io.threads_tasks_per_s": "tasks/s",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.driver_ms": "ms",
    "gen.lateness_ms": "ms", "gen.tasks": "tasks",
    "trace.overhead_pct": "%",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    cores: int
    traced: bool
    session_s: float
    tracer: probes.Tracer = field(default_factory=probes.Tracer)
    metrics: Metrics | None = None  # the measured phase's meters
    offered: int = 0
    failed: int = 0
    skipped_batches: int = 0
    notes: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_s(self, reps: list[float]) -> float:
        """Session start plus the median set-up repetition."""
        self.notes["setup_reps_s"] = [round(r, 3) for r in reps]
        return self.session_s + statistics.median(reps)

    def mark(self, name: str) -> None:
        """Record when a part of the run ended (reported with the host line)."""
        self.notes.setdefault("timeline", {})[name] = round(time.perf_counter() - self.t0, 2)


@dataclass
class Phase:
    """One measured run: a streaming query, or a series of calls."""

    checkpoint: str = ""
    sink: str = ""
    wall_s: float = 0.0  # set by the run: start to last commit
    window_s: float = 0.0  # the whole measured window
    started: float = 0.0  # epoch seconds
    progress: list = field(default_factory=list)
    rss_bytes: int = 0
    samples_held: int = 0
    stages: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    run_id: str | None = None


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


# -- topologies ----------------------------------------------------------


def sink_fn(ctx: Ctx, sink: str):
    """idempotent_parquet_sink, counting the batches it skips."""
    write = idempotent_parquet_sink(sink)

    def process(df, batch_id: int) -> None:
        if os.path.exists(os.path.join(sink, f"batch_id={batch_id}", "_SUCCESS")):
            ctx.skipped_batches += 1
        with ctx.tracer.span("sink.write"):
            write(df, batch_id)

    return process


def subscribe(ctx: Ctx, stream, stages, meters, checkpoint, sink, trigger, traced):
    pipeline = probes.TracedPipeline(ctx.tracer) if traced else Pipeline()
    for name, fn in stages:
        pipeline.then_process(probes.traced_stage(fn, name, ctx.tracer) if traced else fn, name)
    config = SubscriptionConfig(checkpoint_location=checkpoint, trigger=trigger)
    process = sink_fn(ctx, sink)
    if traced:
        return probes.TracedSubscription(
            ctx.spark, stream, pipeline, process, config, meters=meters, tracer=ctx.tracer
        )
    return Subscription(ctx.spark, stream, pipeline, process, config, meters=meters)


def pipeline_subscription(ctx, src, checkpoint, sink, trigger, traced=False, max_files=1):
    """readStream -> ignore_keys -> discard_invalid -> compact_tasks (1-min
    linger) -> idempotent parquet sink, with Metrics() attached."""
    reader = ctx.spark.readStream.schema(SPARK_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stages = [
        ("ignore_keys", lambda df: ignore_keys(df, BLOCKED_KEYS)),
        ("discard_invalid", discard_invalid),
        ("compact_tasks", lambda df: compact_tasks(df, linger="1 minute")),
    ]
    return subscribe(ctx, reader.parquet(src), stages, ctx.metrics or Metrics(),
                     checkpoint, sink, trigger, traced)


def keyed_subscription(ctx, src, checkpoint, sink, trigger, traced=False):
    """readStream -> ignore_keys -> discard_invalid -> streaming_compact
    (api="auto", 1-min windows) -> idempotent parquet sink. No Metrics:
    its extra count() would execute the stateful plan twice per batch."""
    stream = ctx.spark.readStream.schema(SPARK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    compacted = streaming_compact(
        discard_invalid(ignore_keys(stream, BLOCKED_KEYS)), window_ms=oracle.WINDOW_MS
    )
    return subscribe(ctx, compacted, [], None, checkpoint, sink, trigger, traced)


def run_query(ctx: Ctx, sub):
    """Start a query and wait for it to end; a failed query counts."""
    t = time.perf_counter()
    q = sub.start()
    try:
        q.awaitTermination()
    except StreamingQueryException as e:
        print(f"query failed: {str(e).splitlines()[0]}", flush=True)
        ctx.failed += 1
    return q, time.perf_counter() - t


def measure(ctx: Ctx, traced: bool, run, phase: Phase | None = None) -> Phase:
    """Run ``run(phase)`` with memory sampling, stage totals, the meter
    listener and (traced) spans around it."""
    phase = phase or Phase()
    before = probes.stage_totals(ctx.spark)
    ctx.metrics = Metrics()
    listener = (
        probes.TimedMeterListener(ctx.metrics, ctx.tracer) if traced else MeterListener(ctx.metrics)
    )
    ctx.spark.streams.addListener(listener)
    ctx.tracer.enabled = traced
    # every measured phase starts from collected heaps, so its peak
    # memory does not depend on when the last collection happened
    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()
    try:
        with probes.RssSampler() as rss:
            phase.started = time.time()
            run(phase)
            end = time.time()
        phase.window_s = end - phase.started
        phase.rss_bytes = rss.peak
        probes.drain_listener_bus(ctx.spark)
    finally:
        ctx.tracer.enabled = False
        ctx.spark.streams.removeListener(listener)
    phase.samples_held = probes.samples_held(ctx.metrics)
    after = probes.stage_totals(ctx.spark)
    phase.stages = {k: after[k] - before[k] for k in after}
    phase.jobs = probes.jobs_between(ctx.spark, phase.started, end, phase.run_id)
    return phase


def read_sink(sink: str, columns: list[str]) -> pd.DataFrame:
    if not os.path.isdir(sink):
        return pd.DataFrame(columns=[*columns, "batch_id"])
    ds = pads.dataset(sink, format="parquet", partitioning="hive")
    return ds.to_table(columns=[*columns, "batch_id"]).to_pandas()


def tasks_frame(files: list[tuple[str, pa.Table]]) -> pd.DataFrame:
    return pd.concat(
        [
            t.select(["key", "value", "offset", "meta_timestamp_millis"]).to_pandas().assign(file=name)
            for name, t in files
        ],
        ignore_index=True,
    )


def verify(ctx: Ctx, check, files, phase: Phase, sink_cols, replayed: set[int]) -> None:
    """Add the check's failed tasks; trip the self-check with one output
    row dropped, which must fail at least one task."""
    ctx.offered += sum(t.num_rows for _, t in files)
    tasks = tasks_frame(files)
    fb = probes.file_batches(phase.checkpoint)
    sink = read_sink(phase.sink, sink_cols)
    ctx.failed += check(tasks, fb, sink, replayed)
    if check(tasks, fb, sink.iloc[1:], replayed) < 1:
        raise RuntimeError("self-check: dropping an output row went unnoticed")


def crash_and_replay(ctx: Ctx, build, phase: Phase, keep_output: bool) -> tuple[int, float]:
    """``REPLAY_REPS`` times, after one untimed round that warms the
    recovery path: leave the checkpoint as a crash of the last batch
    between the sink write and the checkpoint commit leaves it (its
    commit marker gone; with ``keep_output`` False also its sink output,
    as if it crashed before the write), restart, and time until the
    replayed batch commits, as its progress event records it (the
    availableNow query then ends). Returns the replayed batch id and the
    median replay time."""
    batch = max(probes.committed_batches(phase.checkpoint))
    times = []
    for rep in range(1 + REPLAY_REPS):
        for name in (str(batch), f".{batch}.crc"):
            marker = os.path.join(phase.checkpoint, "commits", name)
            if os.path.exists(marker):
                os.remove(marker)
        if not keep_output:
            shutil.rmtree(os.path.join(phase.sink, f"batch_id={batch}"))
        sub = build(phase.checkpoint, phase.sink, AVAILABLE_NOW)
        restart = time.time()
        q, _ = run_query(ctx, sub)
        ends = [probes.batch_end_s(p) for p in probes.progress_of(q) if p["batchId"] == batch]
        if rep and ends:
            times.append(ends[0] - restart)
        if not ends or batch not in probes.committed_batches(phase.checkpoint):
            ctx.failed += 1
            print(f"replay: batch {batch} is not committed after the restart", flush=True)
    ctx.notes["replay_reps_s"] = [round(t, 3) for t in times]
    return batch, statistics.median(times)


# -- per-layer metrics ---------------------------------------------------


def streaming_layers(ctx: Ctx, phases: list[Phase], overhead_pct: float) -> dict[str, float]:
    """Per-layer metrics of the traced phases. ``*_ms`` are means per
    microbatch unless named otherwise; counts are totals."""
    prog = [p for ph in phases for p in ph.progress]
    n = max(len(prog), 1)
    d = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    for ph in phases:
        for s in probes.microbatch_spans(ph.progress) + ph.jobs:
            ctx.tracer.add(s)
    windows = [(ph.started, ph.started + ph.window_s) for ph in phases]
    spans = [s for s in ctx.tracer.spans if any(a <= s.start <= b for a, b in windows)]

    def per_batch(name: str) -> float:
        return sum(s.ms for s in spans if s.name == name) / n

    ops = [p.get("stateOperators") or [] for p in prog]
    last_ops = ops[-1] if ops else []
    # only the measured batches; the replays after them write to the same sink
    sink_files = sink_bytes = rows_out = 0
    for ph in phases:
        batches = {p["batchId"] for p in ph.progress}
        for b in batches:
            out = os.path.join(ph.sink, f"batch_id={b}")
            for name in os.listdir(out):
                if name.endswith(".parquet") and not name.startswith("."):
                    sink_files += 1
                    sink_bytes += os.path.getsize(os.path.join(out, name))
        sink = read_sink(ph.sink, ["offset"])
        rows_out += int(sink["batch_id"].isin(batches).sum())
    jobs = [j for ph in phases for j in ph.jobs]
    stages = {k: sum(ph.stages[k] for ph in phases) for k in probes.STAGE_FIELDS}
    return {
        "sources.latest_offset_ms": mean(d("latestOffset")),
        "sources.get_batch_ms": mean(d("getBatch")),
        "sources.rows_per_batch": mean(p["numInputRows"] for p in prog),
        "operators.apply_ms": per_batch("operators.apply"),
        "operators.rows_in": float(sum(p["numInputRows"] for p in prog)),
        "operators.rows_out": float(rows_out),
        "subscription.add_batch_ms": mean(d("addBatch")),
        "subscription.overhead_ms": mean(d("addBatch")) - per_batch("sink.write"),
        "subscription.query_planning_ms": mean(d("queryPlanning")),
        "subscription.commit_ms": mean(a + b for a, b in zip(d("walCommit"), d("commitOffsets"))),
        "subscription.jobs_per_batch": len(jobs) / n,
        "sink.write_ms": per_batch("sink.write"),
        "sink.files": float(sink_files),
        "sink.bytes": float(sink_bytes),
        "sink.skipped_batches": float(ctx.skipped_batches),
        "state.rows_total": float(sum(o["numRowsTotal"] for o in last_ops)),
        "state.memory_bytes": float(sum(o["memoryUsedBytes"] for o in last_ops)),
        "state.commit_ms": mean(sum(o["commitTimeMs"] for o in b) for b in ops) if last_ops else 0.0,
        "state.update_ms": mean(sum(o["allUpdatesTimeMs"] for o in b) for b in ops) if last_ops else 0.0,
        "state.rows_updated": float(sum(o["numRowsUpdated"] for b in ops for o in b)),
        "meters.listener_ms": mean(s.ms for s in spans if s.name == "meters.listener"),
        "meters.samples_held": float(sum(ph.samples_held for ph in phases)),
        "io.wall_over_floor": 0.0,
        "io.threads_tasks_per_s": 0.0,
        "spark.executor_run_ms": stages["run_ms"],
        "spark.executor_cpu_ms": stages["cpu_ms"],
        "spark.shuffle_write_bytes": stages["shuffle_write_bytes"],
        "spark.spill_bytes": stages["spill_bytes"],
        "spark.driver_ms": (sum(ph.wall_s for ph in phases) - probes.union_s(jobs)) * 1000.0,
        "gen.lateness_ms": 0.0,
        "gen.tasks": 0.0,
        "trace.overhead_pct": overhead_pct,
    }


def latency_metrics(lat_ms: dict[str, np.ndarray]) -> dict[str, float]:
    out = {}
    for rate in ("low", "high"):
        out[f"latency_p50_ms.{rate}"] = pct(lat_ms[rate], 50)
        out[f"latency_p90_ms.{rate}"] = pct(lat_ms[rate], 90)
    return out


def task_latency_ms(phase: Phase, files: list[tuple[str, int, float]]) -> np.ndarray:
    """Per task: the commit time of the batch that read its file minus
    the time the task was due; ``files`` holds (name, rows, due)."""
    end = {p["batchId"]: probes.batch_end_s(p) for p in phase.progress}
    fb = probes.file_batches(phase.checkpoint)
    read = [(name, rows, due) for name, rows, due in files if fb.get(name) in end]
    return np.repeat([(end[fb[n]] - due) * 1000.0 for n, _, due in read], [r for _, r, _ in read])


# -- closed-loop subscription workloads ---------------------------------


def closed_loop(ctx: Ctx, mix: TaskMix, files: int, rows: int, build, check, sink_cols, keep_output: bool):
    src = ctx.path("src")
    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        shutil.rmtree(src, ignore_errors=True)
        gen = TaskGenerator(ctx.seed, mix)
        tables = write_backlog(gen, src, files, rows, T0_MS, FILE_SPAN_MS)
        warm = ctx.path(f"warm{rep}")
        write_backlog(TaskGenerator(ctx.seed + 1 + rep, mix), os.path.join(warm, "src"), 1, rows, T0_MS, FILE_SPAN_MS)
        run_query(ctx, build(os.path.join(warm, "src"), os.path.join(warm, "ckpt"),
                             os.path.join(warm, "sink"), AVAILABLE_NOW))
        setups.append(time.perf_counter() - t)
    offered = [(f"part-{i:05d}.parquet", t) for i, t in enumerate(tables)]
    ctx.mark("setup")

    def drain(tag: str) -> Phase:
        traced = tag == "traced"

        def run(ph: Phase) -> None:
            q, ph.wall_s = run_query(ctx, build(src, ph.checkpoint, ph.sink, AVAILABLE_NOW, traced=traced))
            ph.progress = probes.progress_of(q)
            ph.run_id = str(q.runId)

        return measure(ctx, traced, run, Phase(ctx.path(tag, "ckpt"), ctx.path(tag, "sink")))

    phases = [drain(tag) for tag in TAGS[ctx.traced]]
    measured = phases[1] if ctx.traced else phases[0]
    ctx.mark("measure")
    ctx.tracer.enabled = ctx.traced
    replayed, replay_s = crash_and_replay(
        ctx, lambda c, s, trig: build(src, c, s, trig, traced=ctx.traced), measured, keep_output
    )
    ctx.tracer.enabled = False
    ctx.mark("replay")
    for ph in phases:
        verify(ctx, check, offered, ph, sink_cols, {replayed} if ph is measured else set())

    ctx.mark("verify")
    batch_ms = [p["durationMs"]["triggerExecution"] for p in measured.progress]
    # closed loop: every task is due when the drain starts
    lat = task_latency_ms(measured, [(n, t.num_rows, measured.started) for n, t in offered])
    e2e = {
        "setup_s": ctx.setup_s(setups),
        "tasks_per_s": sum(t.num_rows for _, t in offered) / measured.wall_s,
        "batch_p50_ms": pct(batch_ms, 50),
        "batch_p90_ms": pct(batch_ms, 90),
        "replay_s": replay_s,
        **latency_metrics({"low": lat, "high": lat}),
        "peak_rss_mb": measured.rss_bytes / 2**20,
    }
    last_ops = measured.progress[-1].get("stateOperators") if measured.progress else None
    ctx.notes["state_path"] = last_ops[0]["operatorName"] if last_ops else "none"
    ctx.notes["batches"] = len(measured.progress)
    layers = {}
    if ctx.traced:
        base = mean(p["durationMs"]["triggerExecution"] for p in phases[2].progress)
        traced = mean(p["durationMs"]["triggerExecution"] for p in measured.progress)
        layers = streaming_layers(ctx, [measured], (traced / base - 1.0) * 100.0)
    return e2e, layers


def backlog_pipeline(ctx: Ctx):
    return closed_loop(ctx, BACKLOG_MIX, round(BACKLOG_FILES_PER_S * ctx.seconds), BACKLOG_ROWS,
                       functools.partial(pipeline_subscription, ctx), oracle.check_per_batch,
                       ["offset", "key", "value"], keep_output=True)


def keyed_state(ctx: Ctx):
    def check(tasks, _file_batch, sink, _replayed):
        return oracle.check_keyed(tasks, sink)

    # A crash after the sink write would make the restart fail: the
    # idempotent sink skips the replayed batch without evaluating it, so
    # the state store never commits it and Spark rejects the batch
    # (STATE_STORE_COMMIT_VALIDATION_FAILED). The crash comes before the
    # write instead, which still replays the batch against restored state.
    return closed_loop(ctx, KEYED_MIX, round(KEYED_FILES_PER_S * ctx.seconds), KEYED_ROWS,
                       functools.partial(keyed_subscription, ctx), check,
                       ["key", "window_start_ms", "offset", "meta_timestamp_millis", "value"], keep_output=False)


# -- open loop -------------------------------------------------------------


class LiveGenerator(threading.Thread):
    """Writes one file per tick on a schedule that does not slow down
    when the engine does: ``seconds`` at each offered rate in turn.
    Records each file's rate, its due time (when the schedule offers it)
    and when it was written."""

    def __init__(self, gen: TaskGenerator, directory: str, seconds: float) -> None:
        super().__init__(daemon=True)
        self.gen, self.directory = gen, directory
        ticks = int(round(seconds / LIVE_TICK_S))
        self.schedule = [(rate, int(round(r * LIVE_TICK_S))) for rate, r in LIVE_RATES.items() for _ in range(ticks)]
        self.start_at = 0.0
        self.files: list[tuple[str, str, pa.Table, float, float]] = []  # rate, name, table, due, written
        self.error: BaseException | None = None

    def run(self) -> None:
        tick_ms = int(LIVE_TICK_S * 1000)
        self.start_at = time.time()
        try:
            for i, (rate, rows) in enumerate(self.schedule):
                due = self.start_at + (i + 1) * LIVE_TICK_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                table = self.gen.table(rows, int(due * 1000) - tick_ms, tick_ms)
                name = f"tick-{i:05d}.parquet"
                write_atomic(table, self.directory, name)
                self.files.append((rate, name, table, due, time.time()))
        except Exception as e:  # re-raised by the caller after join()
            self.error = e


def wait_listening(q, timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while q.isActive and time.time() < deadline:
        if q.status["message"] in ("Waiting for data to arrive", "Waiting for next trigger"):
            return
        time.sleep(0.02)
    raise RuntimeError(f"query not listening: {q.status}")


def wait_committed(ctx: Ctx, q, checkpoint: str, names: set[str], timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while q.isActive and time.time() < deadline:
        fb = probes.file_batches(checkpoint)
        if names <= fb.keys() and max(fb[n] for n in names) in probes.committed_batches(checkpoint):
            return
        time.sleep(0.02)
    ctx.failed += 1
    print("live: not every offered file was committed", flush=True)


def live_latency(ctx: Ctx):
    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        warm = ctx.path(f"warm{rep}")
        write_backlog(TaskGenerator(ctx.seed + 1 + rep, BACKLOG_MIX), os.path.join(warm, "src"), 1,
                      BACKLOG_ROWS, T0_MS, FILE_SPAN_MS)
        run_query(ctx, pipeline_subscription(ctx, os.path.join(warm, "src"), os.path.join(warm, "ckpt"),
                                             os.path.join(warm, "sink"), AVAILABLE_NOW))
        setups.append(time.perf_counter() - t)
    gen = TaskGenerator(ctx.seed, BACKLOG_MIX)
    ctx.mark("setup")

    def offer(tag: str) -> tuple[Phase, LiveGenerator]:
        """One query; the generator offers half the time at each rate."""
        traced = tag == "traced"
        src = ctx.path(tag, "src")
        os.makedirs(src)
        g = LiveGenerator(gen, src, ctx.seconds / len(LIVE_RATES))

        def run(ph: Phase) -> None:
            q = pipeline_subscription(ctx, src, ph.checkpoint, ph.sink, LIVE_TRIGGER, traced, max_files=0).start()
            ph.run_id = str(q.runId)
            wait_listening(q)
            g.start()
            g.join()
            if g.error is not None:
                raise g.error
            wait_committed(ctx, q, ph.checkpoint, {f[1] for f in g.files})
            q.stop()
            ph.progress = probes.progress_of(q)
            ph.wall_s = max(map(probes.batch_end_s, ph.progress), default=time.time()) - g.start_at

        return measure(ctx, traced, run, Phase(ctx.path(tag, "ckpt"), ctx.path(tag, "sink"))), g

    runs = [offer(tag) for tag in TAGS[ctx.traced]]
    phase, g = runs[1] if ctx.traced else runs[0]
    ctx.mark("measure")
    src = os.path.join(os.path.dirname(phase.checkpoint), "src")
    ctx.tracer.enabled = ctx.traced
    replayed, replay_s = crash_and_replay(
        ctx, lambda c, s, trig: pipeline_subscription(ctx, src, c, s, trig, ctx.traced, max_files=0), phase, True
    )
    ctx.tracer.enabled = False
    ctx.mark("replay")
    for ph, gr in runs:
        files = [(n, t) for _, n, t, _, _ in gr.files]
        verify(ctx, oracle.check_per_batch, files, ph, ["offset", "key", "value"], {replayed} if ph is phase else set())
    ctx.mark("verify")

    def latency_ms(ph: Phase, gr: LiveGenerator, rate: str | None = None) -> np.ndarray:
        return task_latency_ms(ph, [(n, t.num_rows, due) for r, n, t, due, _ in gr.files if rate in (None, r)])

    batch_ms = [p["durationMs"]["triggerExecution"] for p in phase.progress]
    n_offered = sum(t.num_rows for _, _, t, _, _ in g.files)
    e2e = {
        "setup_s": ctx.setup_s(setups),
        "tasks_per_s": n_offered / phase.wall_s,
        "batch_p50_ms": pct(batch_ms, 50),
        "batch_p90_ms": pct(batch_ms, 90),
        "replay_s": replay_s,
        **latency_metrics({rate: latency_ms(phase, g, rate) for rate in LIVE_RATES}),
        "peak_rss_mb": phase.rss_bytes / 2**20,
    }
    ctx.notes["batches"] = len(batch_ms)
    layers = {}
    if ctx.traced:
        # open loop: batches run back to back whatever each costs, so
        # tracing overhead shows in delivery latency, not in batch time
        overhead = latency_ms(phase, g).mean() / latency_ms(*runs[2]).mean() - 1.0
        layers = streaming_layers(ctx, [phase], float(overhead) * 100.0)
        layers["gen.lateness_ms"] = pct([(w - due) * 1000.0 for _, _, _, due, w in g.files], 90)
        layers["gen.tasks"] = float(n_offered)
    return e2e, layers


# -- I/O-bound mirror of Decaton's published benchmark ---------------------


def io_mirror(ctx: Ctx):
    spark, src = ctx.spark, ctx.path("io_src")
    n, cores = IO_TASKS_PER_CALL, ctx.cores
    floor_s = n * IO_LATENCY_MS * IO_LATENCY_COUNT / 1000.0 / (cores * IO_CONCURRENCY)

    def write_table(path: str, rows: int, seed: int) -> None:
        shutil.rmtree(path, ignore_errors=True)
        rng = np.random.default_rng(seed)
        ids = rng.permutation(rows).astype(np.int64)
        produced = T0_MS + np.sort(rng.integers(0, 60_000, rows))
        for i, part in enumerate(np.array_split(np.arange(rows), cores)):
            table = pa.table({
                "task_id": ids[part],
                "produced_time": produced[part],
                "process_latency_ms": np.full(len(part), IO_LATENCY_MS * IO_LATENCY_COUNT, np.int64),
            })
            write_atomic(table, path, f"part-{i:05d}.parquet")

    def call(df, io_mode: str = "async") -> tuple[float, float]:
        """One run over ``n`` offered tasks: (wall, wall over the I/O floor).
        ``run_simulated_latency`` raises unless its workers processed as
        many tasks as its input holds, and returns that count; a raising
        call fails with all its tasks."""
        ctx.offered += n
        t = time.perf_counter()
        try:
            res = run_simulated_latency(df, partitions=cores, concurrency=IO_CONCURRENCY, io_mode=io_mode)
        except Exception as e:
            print(f"io call failed: {e!r}", flush=True)
            ctx.failed += 1 + n
            return time.perf_counter() - t, 0.0
        wall = time.perf_counter() - t
        processed = res["tasks"]
        ctx.failed += oracle.check_processed(processed, n)
        if oracle.check_processed(processed - 1, n) < 1:
            raise RuntimeError("self-check: one task fewer went unnoticed")
        return wall, res["wall_sec"] / floor_s

    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        write_table(src, n, ctx.seed)
        warm = ctx.path(f"warm{rep}")
        write_table(warm, 2_000, ctx.seed + 1 + rep)
        run_simulated_latency(spark.read.parquet(warm), partitions=cores,
                              concurrency=IO_CONCURRENCY, io_mode="async")
        setups.append(time.perf_counter() - t)
    df = spark.read.parquet(src)
    ctx.mark("setup")

    def calls(traced: bool) -> tuple[Phase, list[float], list[float]]:
        walls, ratios = [], []

        def run(ph: Phase) -> None:
            deadline = time.perf_counter() + ctx.seconds
            while time.perf_counter() < deadline or len(walls) < 3:
                with ctx.tracer.span("io.run_simulated_latency", trace=len(walls)):
                    wall, ratio = call(df)
                walls.append(wall)
                ratios.append(ratio)
            ph.wall_s = sum(walls)

        return measure(ctx, traced, run), walls, ratios

    runs = [calls(tag == "traced") for tag in TAGS[ctx.traced]]
    phase, walls, ratios = runs[1] if ctx.traced else runs[0]
    ctx.mark("measure")
    walls_ms = [w * 1000.0 for w in walls]

    replays = []
    for _ in range(REPLAY_REPS):  # recovery: re-read the table and run it again
        t = time.perf_counter()
        call(spark.read.parquet(src))
        replays.append(time.perf_counter() - t)
    ctx.mark("replay")

    e2e = {
        "setup_s": ctx.setup_s(setups),
        "tasks_per_s": n * len(walls) / sum(walls),
        "batch_p50_ms": pct(walls_ms, 50),
        "batch_p90_ms": pct(walls_ms, 90),
        "replay_s": statistics.median(replays),
        # every task of a call completes when the call returns
        **latency_metrics({"low": walls_ms, "high": walls_ms}),
        "peak_rss_mb": phase.rss_bytes / 2**20,
    }
    ctx.notes["batches"] = len(walls)
    layers = {}
    if ctx.traced:
        t = time.perf_counter()
        call(df, io_mode="threads")
        threads_tps = n / (time.perf_counter() - t)
        for s in phase.jobs:
            ctx.tracer.add(s)
        layers = dict.fromkeys(LAYER_METRICS, 0.0)
        layers.update({
            "io.wall_over_floor": statistics.median(ratios),
            "io.threads_tasks_per_s": threads_tps,
            "spark.executor_run_ms": phase.stages["run_ms"],
            "spark.executor_cpu_ms": phase.stages["cpu_ms"],
            "spark.shuffle_write_bytes": phase.stages["shuffle_write_bytes"],
            "spark.spill_bytes": phase.stages["spill_bytes"],
            "spark.driver_ms": (phase.window_s - probes.union_s(phase.jobs)) * 1000.0,
            "trace.overhead_pct": (mean(walls) / mean(runs[2][1]) - 1.0) * 100.0,
        })
    return e2e, layers


WORKLOADS = {
    "backlog_pipeline": backlog_pipeline,
    "live_latency": live_latency,
    "keyed_state": keyed_state,
    "io_mirror": io_mirror,
}
