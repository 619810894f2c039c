"""T5 — per-partition rate limiting.

Reference semantics (``AveragingRateLimiter``,
``processor/.../runtime/internal/AveragingRateLimiter.java:36-124``;
``docs/rate-limiting.adoc``): a token bucket granting
``decaton.processing.rate.per.partition`` permits/second per partition;
0 pauses, -1 is unlimited.

Spark-first form: in streaming the first-order control is the source
cap (``maxOffsetsPerTrigger`` — rows per trigger across partitions).
The batch-deterministic semantics (what the oracle checks) is a
per-(partition, 1-second wall bucket) admission budget: the first
``permits_per_second`` rows by arrival order are admitted, the rest are
deferred. One shuffle on (partition, bucket), sort within groups only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNLIMITED = -1
PAUSED = 0


def rate_limit(
    df: DataFrame,
    permits_per_bucket: int,
    *,
    bucket_millis: int = 1000,
    partition_col: str = "partition",
    ts_millis_col: str = "meta_timestamp_millis",
    order_cols: Sequence[str] = ("offset",),
    admitted_col: str = "admitted",
) -> DataFrame:
    """Mark each row admitted/deferred under the per-partition budget.

    ``bucket_millis=1000`` is Decaton's permits/second; coarser buckets
    express the same mechanism at lower granularity.
    """
    if permits_per_bucket == UNLIMITED:
        return df.withColumn(admitted_col, F.lit(True))
    if permits_per_bucket == PAUSED:
        return df.withColumn(admitted_col, F.lit(False))
    bucket = F.floor(F.col(ts_millis_col) / bucket_millis).alias("_rl_bucket")
    w = Window.partitionBy(F.col(partition_col), bucket).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return df.withColumn(admitted_col, F.row_number().over(w) <= permits_per_bucket)


class TokenBucket:
    """Smooth token bucket for the streaming path (runs driver-side in
    ``foreachBatch``, charged after each microbatch is processed; a
    batch beyond the credit leaves negative tokens, a debt the caller
    sleeps off and the next acquire still owes, mirroring the
    reference's averaging limiter with burst credit,
    ``AveragingRateLimiter.java:83-103``). Plain Python by design —
    it paces batches, it is not on the per-row hot path."""

    def __init__(self, permits_per_second: int, max_burst_seconds: float = 1.0):
        self.rate = permits_per_second
        self.capacity = permits_per_second * max_burst_seconds
        self.tokens = self.capacity
        self.last = None

    def acquire(self, n: int, now: float) -> float:
        """Consume ``n`` permits at time ``now`` (seconds); returns the
        seconds the caller should sleep to pay off the debt."""
        if self.rate == UNLIMITED:
            return 0.0
        if self.rate == PAUSED:
            return float("inf")
        if self.last is not None:
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
        self.last = now
        self.tokens -= n
        return max(0.0, -self.tokens / self.rate)
