"""Named-meter parity with the reference's Micrometer surface.

The reference registers ~25 meters under the ``decaton.`` namespace,
grouped by scope (``processor/src/main/java/com/linecorp/decaton/
processor/metrics/Metrics.java:114-352``): subscription loop timers,
per-task counters/timers, partition state gauges, retry/shaping
counters, scheduler timers. This module reproduces the part of that
surface the engine writes — the same meter names, tags, and kinds — on
Spark primitives:

- dataflow counters are computed *inside* the job via
  ``DataFrame.observe`` (no second pass) and folded into meters with
  :func:`bind_observed`. ``Subscription`` does the same for
  ``tasks.queued``: it is the count of rows that went through the
  processor's first action over the microbatch frame, so a processor
  that reads only part of the frame (e.g. through ``limit``) counts
  only that part. The subscription observes every batch, metered or
  not; a batch the processor ran no action over (a replay its sink
  skipped) is counted with one ``count()``;
- loop-section timers come from ``StreamingQueryProgress.durationMs``
  via :class:`MeterListener` (Spark's microbatch phases mapped onto the
  reference's poll/records/reload/commit sections); the subscription's
  pause loop times the ``pause`` section;
- partition-state gauges are driven by the subscription loop
  (pause/throttle handling in ``streaming/subscription.py``).

Reference meters with no Spark analog are not registered (COVERAGE.md
lists them): a meter nothing writes would read 0 forever.

Percentile behavior mirrors ``publishPercentiles(0.5, .9, .99, .999)``
(``Metrics.java:134-137``): timers and summaries keep their samples and
report nearest-rank percentiles.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

NAMESPACE = "decaton"
PERCENTILES = (0.5, 0.9, 0.99, 0.999)


def _tag_key(tags: dict[str, str]) -> tuple[tuple[str, str], ...]:
    return tuple(sorted(tags.items()))


@dataclass
class Meter:
    name: str
    tags: dict[str, str] = field(default_factory=dict)

    @property
    def full_name(self) -> str:
        return f"{NAMESPACE}.{self.name}"

    @property
    def meter_id(self) -> str:
        if not self.tags:
            return self.full_name
        t = ",".join(f"{k}={v}" for k, v in _tag_key(self.tags))
        return f"{self.full_name}{{{t}}}"


@dataclass
class Counter(Meter):
    count: float = 0.0

    def increment(self, amount: float = 1.0) -> None:
        self.count += amount


@dataclass
class Gauge(Meter):
    value: float = 0.0

    def set(self, value: float) -> None:
        self.value = float(value)


@dataclass
class DistributionSummary(Meter):
    """Sample-keeping summary with nearest-rank percentiles."""

    _values: list[float] = field(default_factory=list)

    def record(self, value: float) -> None:
        bisect.insort(self._values, float(value))

    @property
    def count(self) -> int:
        return len(self._values)

    @property
    def total(self) -> float:
        return sum(self._values)

    @property
    def max(self) -> float:
        return self._values[-1] if self._values else 0.0

    def percentile(self, p: float) -> float:
        if not self._values:
            return 0.0
        idx = max(0, min(len(self._values) - 1, int(p * len(self._values) + 0.5) - 1))
        return self._values[idx]

    def percentiles(self) -> dict[float, float]:
        return {p: self.percentile(p) for p in PERCENTILES}


@dataclass
class Timer(DistributionSummary):
    """A DistributionSummary whose unit is seconds."""


class MeterRegistry:
    """Flat registry keyed by (name, tags) — the CompositeMeterRegistry
    analog (``Metrics.java:48-57``); the ``decaton.`` namespace prefix
    is applied on read, like the reference's MeterFilter."""

    def __init__(self) -> None:
        self._meters: dict[tuple[str, tuple[tuple[str, str], ...]], Meter] = {}

    def _get_or_create(self, cls, name: str, tags: dict[str, str]) -> Meter:
        key = (name, _tag_key(tags))
        meter = self._meters.get(key)
        if meter is None:
            meter = cls(name=name, tags=dict(tags))
            self._meters[key] = meter
        elif not isinstance(meter, cls):
            raise TypeError(f"{name} already registered as {type(meter).__name__}")
        return meter

    def counter(self, name: str, **tags: str) -> Counter:
        return self._get_or_create(Counter, name, tags)

    def gauge(self, name: str, **tags: str) -> Gauge:
        return self._get_or_create(Gauge, name, tags)

    def timer(self, name: str, **tags: str) -> Timer:
        return self._get_or_create(Timer, name, tags)

    def summary(self, name: str, **tags: str) -> DistributionSummary:
        return self._get_or_create(DistributionSummary, name, tags)

    def get(self, name: str, **tags: str) -> Meter | None:
        return self._meters.get((name, _tag_key(tags)))

    def meters(self) -> list[Meter]:
        return list(self._meters.values())

    def names(self) -> set[str]:
        return {m.full_name for m in self._meters.values()}

    def snapshot(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for m in self.meters():
            if isinstance(m, Counter):
                out[m.meter_id] = {"kind": "counter", "count": m.count}
            elif isinstance(m, Gauge):
                out[m.meter_id] = {"kind": "gauge", "value": m.value}
            else:
                out[m.meter_id] = {
                    "kind": "timer" if isinstance(m, Timer) else "summary",
                    "count": m.count,
                    "total": m.total,
                    "max": m.max,
                    "percentiles": m.percentiles(),
                }
        return out


# ---------------------------------------------------------------------------
# Meter groups — one class per reference scope, same meter names.
# ---------------------------------------------------------------------------


class SubscriptionMetrics:
    """Loop-section timers (``Metrics.java:114-147``)."""

    SECTIONS = ("poll", "records", "reload", "pause", "commit")

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.process_durations = {
            s: registry.timer("subscription.process.durations", section=s, **tags)
            for s in self.SECTIONS
        }


class TaskMetrics:
    """Per-task counters and timers (``Metrics.java:156-207``)."""

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.tasks_processed = registry.counter("tasks.processed", **tags)
        self.tasks_discarded = registry.counter("tasks.discarded", **tags)
        self.tasks_error = registry.counter("tasks.error", **tags)
        self.tasks_complete_duration = registry.timer(
            "tasks.complete.duration", **tags
        )
        self.tasks_process_duration = registry.timer(
            "tasks.process.duration", **tags
        )
        self.tasks_delivery_latency = registry.timer(
            "tasks.delivery.latency", **tags
        )


class ThreadUtilizationMetrics:
    """``Metrics.java:218-230``."""

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.processor_processed_time = registry.timer(
            "processor.processed.time", **tags
        )
        self.tasks_queued = registry.counter("tasks.queued", **tags)


class PartitionStateMetrics:
    """``Metrics.java:232-277``. In the Spark mapping, the microbatch
    epoch plays the Kafka offset: ``latest.consumed`` advances when the
    ``Subscription`` takes a batch, ``last.committed`` when
    ``MeterListener`` sees the batch's progress, which follows its
    checkpoint commit."""

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.partition_paused = registry.gauge("partition.paused", **tags)
        self.offset_last_committed = registry.gauge(
            "offset.last.committed", **tags
        )
        self.offset_latest_consumed = registry.gauge(
            "offset.latest.consumed", **tags
        )
        self.queue_starved_time = registry.timer(
            "partition.queue.starved.time", **tags
        )
        self.partition_paused_time = registry.timer(
            "partition.paused.time", **tags
        )


class RecordMetrics:
    """Per-wire-format consumption counters (``Metrics.java:279-303``).
    Every engine path decodes the v9 wire format, so it is the only tag."""

    FORMATS = ("decaton.client.v9",)

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.records_consumed = {
            fmt: registry.counter("records.consumed", format=fmt, **tags)
            for fmt in self.FORMATS
        }


class SchedulerMetrics:
    """``Metrics.java:305-319``."""

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.partition_throttled_time = registry.timer(
            "partition.throttled.time", **tags
        )


class RetryMetrics:
    """``Metrics.java:321-339``."""

    def __init__(self, registry: MeterRegistry, **tags: str) -> None:
        self.retry_queued_tasks = registry.counter("retry.queued.tasks", **tags)
        self.retry_task_retries = registry.summary("retry.task.retries", **tags)


#: Every meter name registered here (namespaced): the reference's names
#: that the engine writes — the parity checklist tests assert against.
ALL_METER_NAMES = frozenset(
    f"{NAMESPACE}.{n}"
    for n in (
        "subscription.process.durations",
        "tasks.processed",
        "tasks.discarded",
        "tasks.error",
        "tasks.complete.duration",
        "tasks.process.duration",
        "tasks.delivery.latency",
        "processor.processed.time",
        "tasks.queued",
        "partition.paused",
        "offset.last.committed",
        "offset.latest.consumed",
        "partition.queue.starved.time",
        "partition.paused.time",
        "records.consumed",
        "partition.throttled.time",
        "retry.queued.tasks",
        "retry.task.retries",
    )
)


class Metrics:
    """Facade bundling every scope, like the reference's
    ``Metrics.withTags(...).with*Metrics()`` builders."""

    def __init__(
        self,
        registry: MeterRegistry | None = None,
        subscription: str = "default",
        topic: str = "tasks",
        partition: str = "0",
    ) -> None:
        self.registry = registry or MeterRegistry()
        sub = {"subscription": subscription}
        part = {**sub, "topic": topic, "partition": partition}
        self.subscription = SubscriptionMetrics(self.registry, **sub)
        self.task = TaskMetrics(self.registry, **part)
        self.thread_util = ThreadUtilizationMetrics(self.registry, **part)
        self.partition_state = PartitionStateMetrics(self.registry, **part)
        self.records = RecordMetrics(self.registry, **part)
        self.scheduler = SchedulerMetrics(self.registry, **part)
        self.retry = RetryMetrics(self.registry, **part)


# ---------------------------------------------------------------------------
# Spark bindings
# ---------------------------------------------------------------------------

TASK_OBSERVATION = "decaton_task_meters"


def task_meter_exprs(
    *,
    valid: Column | None = None,
    error: Column | None = None,
    retry_col: str = "meta_retry_count",
    ts_col: str = "meta_timestamp_millis",
) -> list[Column]:
    """Aggregates for one ``observe`` call covering the batch-computable
    dataflow meters — computed inside the job, one pass, no extra action.

    Attach *before* any discard filter so discarded rows are counted
    (the reference counts them at the extraction stage,
    ``ProcessPipeline.java:92-101``).
    """
    one = F.lit(1).cast("long")
    valid = F.lit(True) if valid is None else valid
    error = F.lit(False) if error is None else error
    return [
        F.count(one).alias("tasks_observed"),
        F.sum(F.when(valid, one).otherwise(F.lit(0))).alias("tasks_processed"),
        F.sum(F.when(~valid, one).otherwise(F.lit(0))).alias("tasks_discarded"),
        F.sum(F.when(error, one).otherwise(F.lit(0))).alias("tasks_error"),
        F.sum(
            F.when(F.col(retry_col) > 0, one).otherwise(F.lit(0))
        ).alias("tasks_retried"),
        F.max(F.col(retry_col)).alias("max_retry_count"),
        F.max(F.col(ts_col)).alias("max_task_ts_ms"),
    ]


def observe_task_meters(df: DataFrame, name: str = TASK_OBSERVATION, **kw) -> DataFrame:
    return df.observe(name, *task_meter_exprs(**kw))


def bind_observed(metrics: Metrics, observed: dict, *, batch_ts_ms: int | None = None) -> None:
    """Fold one batch's observed row into the named meters."""
    t = metrics.task
    t.tasks_processed.increment(observed.get("tasks_processed") or 0)
    t.tasks_discarded.increment(observed.get("tasks_discarded") or 0)
    t.tasks_error.increment(observed.get("tasks_error") or 0)
    metrics.retry.retry_queued_tasks.increment(observed.get("tasks_retried") or 0)
    if observed.get("max_retry_count") is not None:
        metrics.retry.retry_task_retries.record(observed["max_retry_count"])
    metrics.records.records_consumed["decaton.client.v9"].increment(
        observed.get("tasks_observed") or 0
    )
    if batch_ts_ms is not None and observed.get("max_task_ts_ms") is not None:
        # batch-granular delivery latency: now - newest task in the batch
        lat = max(0.0, (batch_ts_ms - observed["max_task_ts_ms"]) / 1000.0)
        t.tasks_delivery_latency.record(lat)


class MeterListener(StreamingQueryListener):
    """Streams ``StreamingQueryProgress`` into the named meters.

    Spark's microbatch phase durations map onto the reference's
    consume-loop sections (``SubscriptionMetrics`` timers):
    source offset resolution → ``poll``, batch execution → ``records``,
    planning → ``reload``, offset-log/commit-log writes → ``commit``.
    The ``pause`` section is driven by the subscription's pause loop,
    not by progress events.
    """

    SECTION_SOURCES: dict[str, tuple[str, ...]] = {
        "poll": ("getBatch", "latestOffset", "getOffset", "setOffsetRange"),
        "records": ("addBatch",),
        "reload": ("queryPlanning",),
        "commit": ("walCommit", "commitOffsets"),
    }

    def __init__(self, metrics: Metrics | None = None) -> None:
        self.metrics = metrics or Metrics()

    # -- StreamingQueryListener interface --------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        durations = dict(p.durationMs or {})
        for section, keys in self.SECTION_SOURCES.items():
            ms = sum(durations[k] for k in keys if k in durations)
            if ms or any(k in durations for k in keys):
                self.metrics.subscription.process_durations[section].record(
                    ms / 1000.0
                )
        st = self.metrics.partition_state
        # progress follows the batch's commit-log write; the
        # Subscription sets offset.latest.consumed when it takes a batch
        st.offset_last_committed.set(p.batchId)
        if p.numInputRows == 0:
            # an empty batch = the queue had nothing to feed processors
            st.queue_starved_time.record(
                durations.get("triggerExecution", 0) / 1000.0
            )
        obs = p.observedMetrics or {}
        if TASK_OBSERVATION in obs:
            import datetime

            ts = p.timestamp
            batch_ms = None
            if ts:
                dt = datetime.datetime.fromisoformat(ts.replace("Z", "+00:00"))
                batch_ms = int(dt.timestamp() * 1000)
            bind_observed(
                self.metrics, obs[TASK_OBSERVATION].asDict(), batch_ts_ms=batch_ms
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def scrape(registry: MeterRegistry) -> list[str]:
    """Plain-text exposition (one line per meter) — the registry's
    equivalent of a Micrometer scrape endpoint, for logs/debugging."""
    lines = []
    for mid, stats in sorted(registry.snapshot().items()):
        kind = stats.pop("kind")
        flat = " ".join(f"{k}={v}" for k, v in stats.items())
        lines.append(f"{mid} kind={kind} {flat}")
    return lines
