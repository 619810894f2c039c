"""The Subscription: Decaton's consumer loop as a StreamingQuery.

Reference lifecycle (``ProcessorSubscription``,
``processor/.../runtime/ProcessorSubscription.java:58-255``): subscribe
topics → poll → filter/quota → route to sub-partitions → process chain →
commit offsets. Spark replaces the whole offset/rebalance machinery
(SURVEY §2.4 T7/T9-T12) with checkpointed microbatches:

    readStream → pipeline (the same batch operators) → foreachBatch
    process_fn → checkpoint commit.

Per microbatch, :class:`Subscription` re-reads its reloadable config,
holds the trigger while the rate is 0 (paused), drops ignored keys,
applies the pipeline, hands the frame to ``process_fn``, counts the
rows in that job, and paces the next batch with a token bucket. Which
topics the stream reads (origin + retry + shaping) and where failed
rows go is the caller's stream and ``process_fn``
(``sources.kafka.read_task_stream``, ``operators.retry``).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from decaton_spark.meters import Metrics
from decaton_spark.operators.pipeline import Pipeline
from decaton_spark.operators.rate_limit import TokenBucket


@dataclass
class SubscriptionConfig:
    """The reloadable subset of Decaton's ProcessorProperties
    (``processor/.../runtime/ProcessorProperties.java:56-272``).

    Reloadable values are re-read every microbatch (the Spark analog of
    dynamic property reload, ``PartitionContexts.java:260-283``);
    structural ones require query restart — same split as the
    reference.
    """

    ignore_keys: list[str] = field(default_factory=list)  # decaton.ignore.keys
    rate_limit_per_second: int = -1  # decaton.processing.rate.per.partition
    checkpoint_location: str | None = None
    trigger: dict = field(default_factory=lambda: {"availableNow": True})


class Subscription:
    """A running processing pipeline over a task stream.

    ``process_fn(batch_df, batch_id) -> None`` plays DecatonProcessor:
    the terminal, possibly side-effecting stage. Transformations before
    it come from the Pipeline (pure DataFrame ops, checked by the batch
    oracle).

    The pipeline runs once per microbatch. The frame handed to
    ``process_fn`` carries an ``Observation`` that counts rows during
    the processor's first action over it; that count feeds
    ``tasks.queued`` and the token bucket, which is paced after
    processing (its debt keeps the long-run rate). A processor that
    reads only part of the frame (e.g. ``limit``) counts only that part.
    A batch the processor runs no action over (a replay its sink
    skipped, or no processor) is counted with one ``count()``. That
    count is what runs the batch's plan, so a stateful pipeline commits
    its state store for every batch, with or without meters: a
    restart after a crash between the sink's write and the checkpoint
    commit resumes.
    """

    def __init__(
        self,
        spark: SparkSession,
        stream: DataFrame,
        pipeline: Pipeline | None = None,
        process_fn: Callable[[DataFrame, int], None] | None = None,
        config: SubscriptionConfig | None = None,
        config_supplier: Callable[[], SubscriptionConfig] | None = None,
        meters: "Metrics | None" = None,
    ) -> None:
        self.spark = spark
        self.stream = stream
        self.pipeline = pipeline or Pipeline()
        self.process_fn = process_fn
        self.config = config or SubscriptionConfig()
        self.config_supplier = config_supplier
        self.meters = meters
        self._query: StreamingQuery | None = None
        self._bucket: TokenBucket | None = None
        self._bucket_rate: int | None = None
        self._rebuild_bucket(self.config.rate_limit_per_second)

    def _rebuild_bucket(self, rate: int) -> None:
        if rate != self._bucket_rate:
            self._bucket = TokenBucket(rate) if rate >= 0 else None
            self._bucket_rate = rate

    # -- lifecycle (maps SubscriptionStateListener states) -----------------

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.meters is not None:
            self.meters.partition_state.offset_latest_consumed.set(batch_id)
        cfg = self.config_supplier() if self.config_supplier else self.config
        # rate 0 = Decaton PAUSED (ProcessorProperties rate semantics:
        # 0 "stops processing", RateLimiter.PAUSED): hold the trigger,
        # re-reading the dynamic config until unpaused — records stay
        # unprocessed, the microbatch does not complete. With a static
        # config (nothing can ever unpause) skip the processor instead
        # of wedging the query; the skip is observable in progress.
        pause_started = time.monotonic() if cfg.rate_limit_per_second == 0 else None
        if pause_started is not None and self.meters is not None:
            self.meters.partition_state.partition_paused.set(1)
        while cfg.rate_limit_per_second == 0 and self.config_supplier is not None:
            time.sleep(0.25)
            cfg = self.config_supplier()
        if pause_started is not None and self.meters is not None:
            paused_s = time.monotonic() - pause_started
            self.meters.partition_state.partition_paused_time.record(paused_s)
            self.meters.subscription.process_durations["pause"].record(paused_s)
            self.meters.partition_state.partition_paused.set(
                1 if cfg.rate_limit_per_second == 0 else 0
            )
        if cfg.rate_limit_per_second == 0:
            return  # statically paused: processor never runs
        self._rebuild_bucket(cfg.rate_limit_per_second)
        df = batch_df
        if cfg.ignore_keys:
            from decaton_spark.operators.filters import ignore_keys as _ik

            df = _ik(df, cfg.ignore_keys)
        # count the rows in-job, during the processor's own action: an
        # unobserved count() here would run the pipeline twice
        obs = Observation()
        df = self.pipeline.apply(df).observe(obs, F.count(F.lit(1)).alias("n"))
        if self.process_fn is not None:
            started = time.monotonic()
            self.process_fn(df, batch_id)
            if self.meters is not None:
                took = time.monotonic() - started
                self.meters.thread_util.processor_processed_time.record(took)
                self.meters.task.tasks_process_duration.record(took)
                self.meters.task.tasks_complete_duration.record(took)
        n = _observed_count(self.spark, obs, df)
        if self.meters is not None:
            self.meters.thread_util.tasks_queued.increment(n)
        if self._bucket is not None:
            # paced after processing: the bucket carries the batch's
            # debt, so sleeping it off here keeps the long-run rate
            wait = self._bucket.acquire(n, time.monotonic())
            if wait > 0:
                slept = min(wait, 10.0)
                time.sleep(slept)
                if self.meters is not None:
                    self.meters.scheduler.partition_throttled_time.record(slept)

    def start(self, query_name: str = "decaton-subscription") -> StreamingQuery:
        writer = (
            self.stream.writeStream.queryName(query_name)
            .foreachBatch(self._foreach_batch)
            .outputMode("update")
        )
        if self.config.checkpoint_location:
            writer = writer.option("checkpointLocation", self.config.checkpoint_location)
        trig = self.config.trigger
        writer = writer.trigger(**trig)
        self._query = writer.start()
        return self._query

    def await_termination(self, timeout: float | None = None) -> None:
        assert self._query is not None, "not started"
        self._query.awaitTermination(timeout)

    def stop(self) -> None:
        """Graceful drain analog (ProcessorSubscription.initiateShutdown):
        checkpoint makes replay-on-restart safe, so stop is just stop."""
        if self._query is not None:
            self._query.stop()

    @property
    def last_progress(self):
        return self._query.lastProgress if self._query else None


def _observed_count(spark: SparkSession, obs: Observation, df: DataFrame) -> int:
    """Rows ``obs`` saw on the first action over ``df``. The observation
    may complete through the listener bus after the action returns, so
    drain the bus if it is not complete yet; if no action ran (a
    replayed batch the sink skipped, or no processor), count ``df``
    itself. That runs the batch's plan once, which commits any state
    store in it (Spark rejects a stateful batch whose state stores did
    not commit), and completes and releases ``obs``."""
    done = obs._jo.future()
    if not done.isCompleted():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    if done.isCompleted():
        return obs.get["n"]
    return df.count()


def idempotent_parquet_sink(path: str):
    """Effectively-once file sink for ``foreachBatch``: each microbatch
    writes to ``{path}/batch_id=N`` and a batch already present is
    skipped, so the at-least-once replay after a restart (Structured
    Streaming re-runs the last uncommitted batch) cannot duplicate
    rows — the sink-side half of the delivery contract; the reference
    reaches at-least-once only and documents dedup as the consumer's
    job (``ProcessorProperties.java:117-128``), while a deterministic
    batch-id keyed write upgrades it to effectively-once.

    Returns a ``(df, batch_id) -> None`` callable for
    ``foreachBatch`` / ``Subscription(process_fn=...)``. Directory
    existence is the commit marker because parquet writes land under a
    temporary ``_temporary`` dir until committed; a half-written batch
    from a crash is overwritten (mode="overwrite" per batch dir)."""
    import os

    def write(df: DataFrame, batch_id: int) -> None:
        target = os.path.join(path, f"batch_id={batch_id}")
        marker = os.path.join(target, "_SUCCESS")
        if os.path.exists(marker):
            return  # replayed batch: already durable
        df.write.mode("overwrite").parquet(target)

    return write
