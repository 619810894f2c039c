"""Measurement helpers: spans, resident memory, Spark's status store and
streaming progress, and the file stream source's batch log.

Spans are recorded by the benchmark's own wrappers around calls into
each layer (the engine is not modified) plus spans rebuilt from what
Spark already records: one ``microbatch`` span per progress event and
one ``spark.job`` span per job of the query's job group. The microbatch
id is the trace id. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime

from decaton_spark.meters import DistributionSummary, MeterListener, Metrics
from decaton_spark.operators.pipeline import Pipeline
from decaton_spark.streaming.subscription import Subscription


@dataclass
class Span:
    name: str
    trace: int | None
    start: float  # epoch seconds
    end: float
    parent: int | None = None  # index into Tracer.spans

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span store. Parents come from a per-thread stack while
    wrappers nest, and from interval containment for rebuilt spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, span: Span) -> int:
        with self._lock:
            self.spans.append(span)
            return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent].trace
        idx = self.add(Span(name, trace, time.time(), 0.0, parent))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def link(self) -> None:
        """Give each parentless span the shortest span of the same trace
        that contains it (a wrapper span inside its microbatch, a job
        inside the wrapper that issued it)."""
        for i, s in enumerate(self.spans):
            if s.parent is not None or s.name == "microbatch":
                continue
            best = None
            for j, p in enumerate(self.spans):
                if j == i or p.trace != s.trace or p.name in ("spark.job", s.name):
                    continue
                if p.start <= s.start + 1e-3 and s.end <= p.end + 1e-3:
                    if best is None or p.ms < self.spans[best].ms:
                        best = j
            s.parent = best

    def self_ms(self) -> list[float]:
        """Duration minus the part of it that child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append(s.ms - covered * 1000.0)
        return out

    def write(self, path: str) -> None:
        self.link()
        selfs = self.self_ms()
        summary: dict[str, dict] = {}
        for s, own in zip(self.spans, selfs):
            d = summary.setdefault(s.name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            d["count"] += 1
            d["total_ms"] += s.ms
            d["self_ms"] += own
        with open(path, "w") as f:
            json.dump(
                {
                    "summary": summary,
                    "spans": [dict(asdict(s), self_ms=o) for s, o in zip(self.spans, selfs)],
                },
                f,
            )


# -- traced wrappers around the engine's public entry points -------------


class TracedSubscription(Subscription):
    def __init__(self, *args, tracer: Tracer, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def _foreach_batch(self, batch_df, batch_id: int) -> None:
        with self.tracer.span("subscription.foreach_batch", trace=batch_id):
            super()._foreach_batch(batch_df, batch_id)


class TracedPipeline(Pipeline):
    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer

    def apply(self, df):
        with self.tracer.span("operators.apply"):
            return super().apply(df)


def traced_stage(fn, name: str, tracer: Tracer):
    def stage(df):
        with tracer.span(f"operators.{name}"):
            return fn(df)

    stage.__name__ = name
    return stage


class TimedMeterListener(MeterListener):
    """MeterListener whose ``onQueryProgress`` is timed as a span."""

    def __init__(self, metrics: Metrics, tracer: Tracer) -> None:
        super().__init__(metrics)
        self.tracer = tracer

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self.tracer.span("meters.listener", trace=event.progress.batchId):
            super().onQueryProgress(event)


def samples_held(metrics: Metrics) -> int:
    """Samples retained by every Timer and DistributionSummary."""
    return sum(
        m.count for m in metrics.registry.meters() if isinstance(m, DistributionSummary)
    )


# -- process memory ------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``, forked by any of its threads."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:  # the thread or process ended
            pass
    return out


def _tree_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants; walks
    only this tree, so the cost does not grow with other processes."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(_children(pid))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM, Spark's Python daemon and workers), sampled every 100 ms.
    Each process counts its proportional set size, so pages shared by
    forked processes (Python workers forked from the daemon, a JVM
    briefly forked to run a shell command) are counted once, not once
    per process.
    """

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- Spark status store and progress -------------------------------------


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


STAGE_FIELDS = ("run_ms", "cpu_ms", "shuffle_write_bytes", "spill_bytes")


def stage_totals(spark) -> dict[str, float]:
    """Executor time, CPU, shuffle writes and spills summed over every
    stage the status store holds."""
    drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0), None)
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    for i in range(stages.size()):
        s = stages.apply(i)
        tot["run_ms"] += s.executorRunTime()
        tot["cpu_ms"] += s.executorCpuTime() / 1e6
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot


def jobs_between(spark, start: float, end: float, group: str | None = None) -> list[Span]:
    """One ``spark.job`` span per job that finished within [start, end]
    (epoch seconds), optionally only those of ``group`` (a streaming
    query's job group is its run id; the description names the batch)."""
    drain_listener_bus(spark)
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
            continue
        if group is not None and not (j.jobGroup().isDefined() and j.jobGroup().get() == group):
            continue
        s = j.submissionTime().get().getTime() / 1000.0
        e = j.completionTime().get().getTime() / 1000.0
        if s < start or e > end:
            continue
        desc = j.description().get() if j.description().isDefined() else ""
        batch = None
        for line in desc.splitlines():
            if line.startswith("batch = "):
                batch = int(line.split("=")[1])
        out.append(Span("spark.job", batch, s, e))
    return out


def union_s(spans: list[Span]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur_e is None or s.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s.start, s.end
        else:
            cur_e = max(cur_e, s.end)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def progress_of(query) -> list[dict]:
    """Every progress event of ``query`` that read input, as dicts."""
    out = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in out if p.get("numInputRows", 0) > 0]


def batch_end_s(progress: dict) -> float:
    """When a microbatch committed: trigger start plus its execution."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + progress["durationMs"]["triggerExecution"] / 1000.0


def microbatch_spans(progress: list[dict]) -> list[Span]:
    return [
        Span("microbatch", p["batchId"], batch_end_s(p) - p["durationMs"]["triggerExecution"] / 1000.0, batch_end_s(p))
        for p in progress
    ]


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> id of the microbatch that read it, from the file
    stream source's metadata log (compacted files included)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def committed_batches(checkpoint: str) -> set[int]:
    return {
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(checkpoint, "commits", "*"))
        if os.path.basename(p).isdigit()
    }
