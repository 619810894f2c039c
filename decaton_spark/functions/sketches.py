"""Bounded-memory sketches — the engine's analog of Decaton's KeyCounter.

Reference: per-key quota estimation uses a conservative-update
Count-Min sketch with xx3 hashing, ε=5e-5, δ=1e-5
(``processor/.../runtime/internal/KeyCounter.java:76-151``,
``PerKeyQuotaManager.java:36-51``).

``cm_sketch_table`` is the sketch *as a DataFrame* — (depth, bucket,
count) rows built by one groupBy; estimates come from a min-over-depth
join. Fully distributed, mergeable (sketches union by summing buckets),
and oracle-checkable because bucket routing uses the cross-engine md5
hash. The streaming quota keeps its own per-partition sketch in keyed
state (``streaming.stateful.streaming_quota``), with the same md5
bucket routing and the reference's conservative update.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from decaton_spark.functions.hashing import md5_bucket, md5_long


def cm_sketch_table(
    df: DataFrame,
    key_col: str = "key",
    *,
    depth: int = 4,
    width: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """Materialize a Count-Min sketch as (depth, bucket, cnt) rows.

    One wide groupBy (map-side combinable); the sketch size is
    depth×width regardless of key cardinality — the point of CM.

    ``weight_col``: build the sketch from pre-aggregated
    (key, weight) rows — sum(weight) lands in each bucket instead of
    a row count. A sketch over partial counts is bit-identical to one
    over the raw rows (CM buckets just add), so callers that already
    hold a per-key partial aggregate (``heavy_hitters``) can sketch it
    without re-scanning the raw log.
    """
    rows = [
        F.struct(
            F.lit(d).alias("depth"),
            F.expr(md5_bucket(key_col, width, salt=f"d{d}|")).alias("bucket"),
        )
        for d in range(depth)
    ]
    weight = F.col("w") if weight_col is not None else F.lit(1)
    cols = [F.explode(F.array(*rows)).alias("db")] + (
        [F.col(weight_col).alias("w")] if weight_col is not None else []
    )
    return (
        df.select(*cols)
        .select("db.depth", "db.bucket", weight.alias("w"))
        .groupBy("depth", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    *,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-estimate each key's count: min over depth of its bucket.

    CM guarantees estimate ≥ true count; conservative update tightens
    it further in the streaming path. Join is broadcast (sketch is
    depth×width rows — tiny by construction). ``depth``/``width`` must
    match the sketch's construction (kept explicit — no driver
    round-trip to discover them).
    """
    depths = range(depth)
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        F.expr(md5_bucket(key_col, width, salt=f"d{d}|")).alias(
                            "bucket"
                        ),
                    )
                    for d in depths
                ]
            )
        ).alias("db"),
    ).select(key_col, "db.depth", "db.bucket")
    joined = probes.join(F.broadcast(sketch), ["depth", "bucket"], "left").fillna(
        {"cnt": 0}
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("estimate"))


def cm_params(epsilon: float = 5e-5, delta: float = 1e-5) -> tuple[int, int]:
    """(depth, width) from the accuracy contract, exactly the
    reference's derivation (``PerKeyQuotaManager.java:36-51``,
    ``KeyCounter.java:76-130``): width = first power of two larger
    than e/ε (power of two so bucket routing is a bitmask), depth =
    ceil(ln(1/δ)). The reference defaults (ε=5e-5, δ=1e-5) give
    (12, 65536) — a ~12 MB long[] per window, the bound that makes
    per-key counting memory-safe at any key cardinality."""
    import math

    width = 1
    while width <= math.e / epsilon:
        width <<= 1
    depth = math.ceil(math.log(1.0 / delta))
    return depth, width


def heavy_hitters(
    df: DataFrame,
    key_col: str = "key",
    *,
    threshold: int,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Exact frequency heavy hitters (keys with count >= threshold)
    via candidate generation + verification — the batch analog of the
    reference's burst-key detection (``PerKeyQuotaManager.record()``,
    ``processor/.../runtime/internal/PerKeyQuotaManager.java:112-135``:
    a key whose CM-estimated rate crosses the quota is shaped).

    Output is EXACT and partition-invariant; the sketch only prunes.

    Three stages, each with a no-false-negative guarantee:

    1. **Pigeonhole candidates** — count per (input-partition, key)
       with map-side combine (the partition id confines each group to
       one mapper, so the partial aggregate is already final and the
       shuffle carries one row per locally-distinct key). A key with
       global count >= T must have count >= ceil(T/P) in at least one
       of P partitions, so filtering local counts < ceil(T/P) cannot
       drop a true heavy hitter — under ANY partitioning.
    2. **CM prune** — estimate each candidate against a
       ``cm_sketch_table`` (depth x width rows, bounded regardless of
       key cardinality). CM never underestimates, so dropping
       estimate < T is safe.
    3. **Exact verify** — sum the per-partition partial counts of the
       keys that survive (left semi join against the broadcast
       candidate set), keep count >= T. Removes every false positive.

    At 100 TB: the raw log is scanned exactly ONCE — into a
    per-(input-partition, key) partial count (map-side combinable, one
    shuffled row per locally-distinct key, same shuffle volume as any
    exact count). Everything downstream (candidates, the CM sketch
    built with ``weight_col`` from the partials, and the exact verify
    sum) reads that partial aggregate, which is persisted once (lazy
    localCheckpoint — the persisted key-log at cluster scale) and is
    orders of magnitude smaller than the log. No stage re-reads the
    source or materializes the full key dictionary past the one
    bounded shuffle.

    P for the pigeonhole bound is the count of NON-EMPTY partitions,
    read from the partials themselves (empty partitions can't hold a
    hitter's rows, so ceil(T/P_nonempty) is a valid — and tighter —
    local threshold). It enters the plan as a broadcast scalar, not a
    driver round-trip, so the whole operator is one submitted job.
    """
    keys = df.select(key_col)
    pkc = (
        keys.groupBy(F.spark_partition_id().alias("pid"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n_parts = pkc.agg(
        F.greatest(F.lit(1), F.countDistinct("pid")).alias("np")
    )
    local = (
        pkc.join(F.broadcast(n_parts))
        .filter(F.col("c") >= F.greatest(F.lit(1), F.ceil(F.lit(threshold) / F.col("np"))))
        .select(key_col)
        .distinct()
    )
    sketch = cm_sketch_table(pkc, key_col, depth=depth, width=width, weight_col="c")
    est = cm_estimate(sketch, local, key_col, depth=depth, width=width)
    candidates = est.filter(F.col("estimate") >= threshold).select(key_col)
    return (
        pkc.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.sum("c").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    *,
    b: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """HyperLogLog distinct-count estimate built from cross-engine
    expressions — unlike ``approx_count_distinct`` (whose JVM HLL++
    registers can never match another engine's), this one is
    bit-identical in DuckDB because every step is md5 + integer/double
    arithmetic both engines share:

    - register index = 16 md5 bits mod ``m = 2^b``;
    - rho = 1 + leading zeros of the next 32 md5 bits (via
      ``instr(lpad(bin(v), 32, '0'), '1')``, 33 when v = 0);
    - E = alpha_m * m^2 / (sum over registers of 2^-max_rho + empty
      registers), with the standard linear-counting small-range
      correction E <= 2.5m -> m * ln(m / V).

    Memory/shuffle is m rows per group regardless of cardinality —
    the whole point at 100 TB key cardinalities. The register sum
    Σ 2^-max_rho is EXACT under any aggregation order: every term is a
    power of two in [2^-33, 2^-1] and the total stays < m, so all
    partial sums fit a double's 52-bit mantissa — no float-order
    nondeterminism. Standard error is
    ~1.04/sqrt(m) (~3.3% at b=10); the oracle replays the estimate
    EXACTLY, so the accuracy contract is hash-checked, not asserted
    with tolerances.

    Returns group_cols + (hll_estimate, n_registers).
    """
    group_cols = list(group_cols or [])
    regs = hll_register_table(df, key_col, group_cols, b=b)
    return hll_estimate_from_registers(
        regs, group_cols, b=b, round_digits=round_digits
    )


def hll_register_table(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    *,
    b: int = 10,
) -> DataFrame:
    """The HLL sketch AS a table: (group..., reg, max_rho) rows — the
    persisted/mergeable form (store per shard or per day, merge with
    ``hll_merge``, estimate with ``hll_estimate_from_registers``).
    m = 2^b rows per group, whatever the key cardinality."""
    group_cols = list(group_cols or [])
    m = 1 << b
    bucket = F.expr(md5_long(key_col, 4)) % m
    w = F.expr(md5_long(key_col, 8, salt="hllw|"))
    rho = F.when(w == 0, F.lit(33)).otherwise(
        F.instr(F.lpad(F.bin(w), 32, "0"), "1")
    )
    return (
        df.select(*group_cols, bucket.alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union HLL register tables: max per register — the lossless merge
    that makes HLL the right distinct-counter for sharded/incremental
    corpora (estimate(merge(A, B)) == estimate(A ∪ B), exactly)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c not in ("max_rho",)]
    return out.groupBy(*keys).agg(F.max("max_rho").alias("max_rho"))


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str] | None = None,
    *,
    b: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Estimate from a (merged) register table — same bias + linear-
    counting correction as ``hll_distinct`` (which is exactly
    ``hll_register_table`` piped through this)."""
    group_cols = list(group_cols or [])
    m = 1 << b
    alpha = 0.7213 / (1 + 1.079 / m)
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("present_sum"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    raw_e = (alpha * m * m) / (
        F.col("present_sum") + (F.lit(m) - F.col("n_regs"))
    )
    v_empty = F.lit(m) - F.col("n_regs")
    est = F.when(
        (raw_e <= 2.5 * m) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(raw_e)
    return per_group.select(
        *group_cols,
        F.round(est, round_digits).alias("hll_estimate"),
        F.col("n_regs").cast("bigint").alias("n_registers"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — deterministic bottom-k sample
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    k: int = 32,
    ndigits: int = 12,
) -> DataFrame:
    """The k smallest distinct md5-hash values of ``col`` per group —
    the KMV sketch (Bar-Yossef et al. 2002; the engine behind
    DataSketches' theta sketch). One structure yields BOTH a distinct-
    count estimator ((k-1)/u_(k)) and a uniform random sample of the
    distinct values (hash order IS a random permutation) — with zero
    RNG: the same deterministic cross-engine md5 used by the split/
    sample/shard operators, so any engine recomputes the identical
    sketch.

    Mergeable by construction: the bottom-k of a union is the
    bottom-k of the concatenated per-part bottom-k rows (see
    ``kmv_merge``) — partial-aggregation-shaped, so sketches built
    per partition/day/shard combine exactly.

    Scale shape: ``distinct`` is one partial-agg shuffle on (group,
    value); the min-k election is a per-group window over DISTINCT
    values ordered by hash — group cost O(d log d) in its own distinct
    count, never a global sort. Ties (48-bit hash collisions) break
    on the value for cross-engine determinism.
    """
    from pyspark.sql import Window

    h = F.expr(md5_long(col, ndigits))
    w = Window.partitionBy(*group_cols).orderBy("h", col)
    return (
        df.select(*group_cols, col)
        .where(F.col(col).isNotNull())  # COUNT DISTINCT semantics: NULL
        # is not a value — and a NULL hash would sort first in Spark's
        # window but last in DuckDB's, a cross-engine trap
        .distinct()
        .withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def kmv_merge(
    sketches: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    k: int = 32,
) -> DataFrame:
    """Re-elect the bottom-k from unioned sketch rows (hashes are
    already attached — no rehash, no data scan)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("h", col)
    return (
        sketches.select(*group_cols, col, "h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def kmv_distinct_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    *,
    k: int = 32,
    ndigits: int = 12,
) -> DataFrame:
    """(k-1)/u_(k) distinct estimator in exact integer arithmetic:
    est = (k-1) * 16^ndigits div h_(k) — both engines' positive
    integer division agree, so the estimate is hash-checkable, not
    just approximately right. Groups holding fewer than k distinct
    values report their EXACT count (the sketch saw everything)."""
    scale = 16**ndigits
    per = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_in_sketch"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"),
    )
    est = (
        F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch"))
        # greatest(kth, 1): a k-th hash of exactly 0 (k values whose
        # 12-hex md5 prefix is all-zero — astronomically rare but legal
        # input) would otherwise be a div-by-zero error under Spark 4
        # ANSI DIV; the streaming twins carry the same guard.
        .otherwise(
            F.expr(
                f"({k - 1} * CAST({scale} AS BIGINT))"
                " div greatest(kth, CAST(1 AS BIGINT))"
            )
        )
        .cast("long")
    )
    return per.select(
        *group_cols,
        F.col("n_in_sketch").cast("long").alias("n_in_sketch"),
        est.alias("kmv_distinct_est"),
    )


def histogram_sketch_quantiles(
    df: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    buckets: int = 64,
    quantiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Equi-width histogram sketch with quantile readout — the
    mergeable bounded-memory quantile estimator of the sketch family
    (CM = frequency, HLL/KMV = distinct, Bloom = membership,
    histogram = rank). Per group the sketch is ≤``buckets`` counters;
    two histograms merge by adding counters, so map-side partial
    aggregation IS the merge — the shuffle carries ≤``buckets`` rows
    per group per partition at any data size.

    Everything is integer-exact for the oracle: values snap to
    centi-units, bucket assignment is a floor-division of nonnegative
    ints, and the quantile readout returns the lower edge of the first
    bucket whose cumulative count reaches ``ceil(q·n/100)``. The
    estimate's error is one bucket width by construction.

    Returns (group, n, plus one ``p<q>_centi`` column per quantile).
    """
    v2 = F.round(F.col(value_col).cast("double") * 100).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"), v2.alias("v2")
    )
    bounds = base.groupBy("grp").agg(
        F.min("v2").alias("mn2"), F.max("v2").alias("mx2")
    )
    withb = base.join(F.broadcast(bounds), "grp").select(
        "grp", "mn2", "mx2", histogram_bucket(buckets).alias("b")
    )
    hist = withb.groupBy("grp", "mn2", "mx2", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    counts = hist.groupBy("grp", "mn2", "mx2").agg(
        dense_counts("b", "c", buckets).alias("cs")
    )
    return histogram_readout(counts, group_col, buckets, quantiles)


def histogram_bucket(buckets: int) -> Column:
    """Bucket of the centi value ``v2`` in the equi-width histogram over
    ``[mn2, mx2]``. Pure integer ((v2-mn2) ≥ 0, so DIV == floor): the
    batch and streaming sketches and the DuckDB oracle's ``//`` agree at
    ANY magnitude — a double floor diverged once (v2-mn2)*buckets
    exceeded 2^53 or on double-rounding at exact bucket edges."""
    return F.expr(f"CAST(((v2 - mn2) * {buckets}) DIV (mx2 - mn2 + 1) AS BIGINT)")


def dense_counts(bucket_col: str, count_col: str, size: int) -> Column:
    """Aggregate: a group's sparse (bucket, count) rows as one dense
    ``size``-cell count array, 0 where no row names the bucket. Buckets
    outside ``[0, size)`` are not in the array."""
    m = F.map_from_entries(F.collect_list(F.struct(bucket_col, count_col)))
    return F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(size - 1).cast("long")),
        lambda i: F.coalesce(F.try_element_at(m, i), F.lit(0).cast("long")),
    )


def histogram_readout(
    counts: DataFrame, group_col: str, buckets: int, quantiles: tuple[int, ...]
) -> DataFrame:
    """The quantile readout of the batch and streaming histogram sketches.

    ``counts`` holds (grp, mn2, mx2, cs) with ``cs`` the dense
    ``buckets``-cell count array. Returns (group, n, p<q>_centi...):
    each estimate is the lower edge of the first bucket whose
    cumulative count reaches ``ceil(q·n/100)`` (at least 1, so the
    bucket is never empty), NULL when no bucket does."""
    total = "aggregate({}, 0L, (a, c) -> a + c)"
    cum = counts.selectExpr(
        "grp",
        "mn2",
        "mx2",
        f"{total.format('cs')} AS n",
        f"transform(cs, (c, i) -> {total.format('slice(cs, 1, i + 1)')}) AS cum",
    )
    est = [
        f"mn2 + (nullif(array_position(transform(cum, c -> c >= greatest("
        f"(n * {q} + 99) DIV 100, 1)), true), 0) - 1)"
        f" * (mx2 - mn2 + 1) DIV {buckets} AS p{q}_centi"
        for q in quantiles
    ]
    return cum.selectExpr(f"grp AS {group_col}", "n", *est)
