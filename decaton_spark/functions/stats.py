"""Experiment-analysis statistics over event streams.

A/B measurement is the analytics counterpart of the engine's curation
gauges: assignment must be a deterministic hash (so both engines — and
any two runs — agree on who is in which arm), and the test statistics
must come out bit-identical in the DuckDB oracle. The trick is the
same one the rest of the engine uses: exact integer sufficient
statistics (centi-quantized sums, sums of squares, counts — all
order-free), then ONE canonical double-arithmetic formula evaluated on
identical inputs, which IEEE 754 makes engine-identical.

Reference parity note: beyond-reference analytics surface (the
reference engine has no statistics operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_arm(expr: str, *, salt: str = "ab") -> Column:
    """Deterministic 50/50 arm assignment: 'A' or 'B' by md5 parity of
    a key expression — the assignment rule real experiment systems use
    (sticky per key, no RNG, engine-replayable)."""
    from decaton_spark.functions.hashing import md5_bucket

    return F.when(
        F.expr(md5_bucket(expr, 2, salt=salt)) == 0, F.lit("A")
    ).otherwise(F.lit("B"))


def welch_ttest(
    df: DataFrame,
    *,
    group_cols: list[str],
    arm_col: str = "arm",
    value_col: str = "value",
    unit: int = 100,
) -> DataFrame:
    """Per-group two-sample Welch t-test between arms 'A' and 'B'.

    One partial-aggregable pass collects the sufficient statistics
    (count, Σv, Σv² per arm as conditional aggregates — no pivot, no
    second scan); values quantize to ``1/unit`` BIGINT ticks so the
    sums are exact integers, summed as DECIMAL(38,0) so corpus-scale
    totals cannot overflow. Mean/variance/t/dof then evaluate in one
    canonical double formula:

        var = (n·Σv² - (Σv)²) / (n·(n-1))          (sample variance)
        t   = (S_a/n_a - S_b/n_b) / sqrt(va/n_a + vb/n_b)
        dof = (va/n_a + vb/n_b)² /
              ((va/n_a)²/(n_a-1) + (vb/n_b)²/(n_b-1))   (Welch–Satterthwaite)

    Groups where either arm has < 2 observations, or where both arms
    have zero variance, report NULL t/dof.
    Returns (group…, n_a, n_b, sum_centi_a, sum_centi_b, t_stat,
    welch_dof) with t rounded to 6 and dof to 4 digits (sqrt-derived
    continuous values: exact rounding halves are measure-zero).
    """
    v = F.round(F.col(value_col) * unit).cast("long")
    is_a = F.col(arm_col) == "A"
    agg = df.groupBy(*group_cols).agg(
        F.count(F.when(is_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, v).cast("decimal(38,0)")).alias("_sa"),
        F.sum(F.when(~is_a, v).cast("decimal(38,0)")).alias("_sb"),
        F.sum(F.when(is_a, v * v).cast("decimal(38,0)")).alias("_qa"),
        F.sum(F.when(~is_a, v * v).cast("decimal(38,0)")).alias("_qb"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var = lambda n, s, q: (  # noqa: E731
        (d(n) * d(q) - d(s) * d(s)) / (d(n) * (d(n) - 1))
    )
    va, vb = var("n_a", "_sa", "_qa"), var("n_b", "_sb", "_qb")
    se2 = va / d("n_a") + vb / d("n_b")
    t = (d("_sa") / d("n_a") - d("_sb") / d("n_b")) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / d("n_a")) * (va / d("n_a")) / (d("n_a") - 1)
        + (vb / d("n_b")) * (vb / d("n_b")) / (d("n_b") - 1)
    )
    # And short-circuits, so se2 (a division by n·(n-1)) is evaluated
    # only once both arms have n >= 2; se2 = 0 would divide by zero
    # under ANSI mode instead of yielding NULL.
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0)
    return agg.select(
        *group_cols,
        "n_a",
        "n_b",
        F.coalesce(F.col("_sa"), F.lit(0)).cast("long").alias("sum_centi_a"),
        F.coalesce(F.col("_sb"), F.lit(0)).cast("long").alias("sum_centi_b"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dof, 4)).alias("welch_dof"),
    )


def exact_global_ntile(
    df: DataFrame,
    *,
    n_tiles: int,
    order_cols: list[Column],
    out_col: str,
) -> DataFrame:
    """Distributed exact ``ntile(n) OVER (ORDER BY …)`` with NO
    single-partition WindowExec — the scale-safe replacement for a
    global ntile over an unbounded frame (at 10⁹ users a global sort
    window is one task sorting the whole population).

    Construction (the classic two-phase global rank):

    1. range-exchange on the full ordering + local sort (parallel;
       every partition's rows precede the next's);
    2. ``monotonically_increasing_id`` reads off (physical partition,
       ordinal-within-partition) with ZERO additional exchanges —
       the upper 31 bits are the partition id, the lower 33 the
       0-based row ordinal in physical (= sorted) order. A WindowExec
       partitioned by the partition id would instead re-exchange the
       whole frame on hash(pid) (Spark cannot see that the range
       exchange already clusters it);
    3. per-partition counts (one row per shuffle partition — a
       bounded frame) get cumulative offsets and the global N via a
       tiny window, then broadcast-join back;
    4. the tile is the closed-form ntile assignment from the exact
       0-based global rank k: with q, r = divmod(N, n), the first r
       tiles hold q+1 rows — ``k DIV (q+1)`` below the split,
       ``r + (k − r·(q+1)) DIV q`` above (1-based).

    The ranked frame feeds two consumers (counts + join-back), so it
    stages through ONE lazy localCheckpoint — chained calls (RFM runs
    three) otherwise double the upstream plan per call. The stage is
    also what makes the answer correct: it pins the nondeterministic
    mono-id column to ONE evaluation shared by both consumers. The
    ordering must be total (include a unique tiebreak column) so the global
    rank — and therefore the tile — is deterministic and
    partitioning-invariant; range boundary placement cannot change
    any rank (equal full keys never straddle a boundary because the
    ordering is total). Bit-identical to the oracle's ntile at every
    scale.
    """
    from pyspark.sql import Window

    # two consumers (counts + join-back) and chained calls (RFM runs
    # three): one lazy checkpoint bounds the plan to a single
    # materialization per call instead of 2^depth subtree copies
    ranked = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_ntile_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftrightunsigned(F.col("_ntile_mid"), 33).alias("_ntile_pid")
    counts = ranked.groupBy(pid).agg(
        F.count(F.lit(1)).cast("long").alias("_ntile_cnt")
    )
    # bounded frame: ≤ spark.sql.shuffle.partitions rows
    w_off = Window.orderBy("_ntile_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_ntile_pid",
        F.coalesce(F.sum("_ntile_cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("_ntile_off"),
        F.sum("_ntile_cnt").over(w_all).cast("long").alias("_ntile_n"),
    )
    # exact 0-based global rank: partition offset + ordinal-in-partition
    k = "(_ntile_off + (_ntile_mid & 8589934591))"
    q = f"(_ntile_n DIV {n_tiles})"
    r = f"(_ntile_n % {n_tiles})"
    tile = (
        f"CASE WHEN {k} < {r} * ({q} + 1) THEN {k} DIV ({q} + 1) "
        f"ELSE {r} + ({k} - {r} * ({q} + 1)) DIV greatest({q}, 1) END + 1"
    )
    return (
        ranked.withColumn("_ntile_pid", pid)
        .join(F.broadcast(offsets), "_ntile_pid")
        .withColumn(out_col, F.expr(tile).cast("int"))
        .drop("_ntile_pid", "_ntile_mid", "_ntile_off", "_ntile_n")
    )


def global_running_sum(
    df: DataFrame,
    *,
    order_cols: list[Column],
    value_col: str,
    out_col: str,
    sum_type: str = "decimal(38,0)",
) -> DataFrame:
    """Distributed exact cumulative sum over a total global ordering
    with NO single-partition WindowExec — the companion of
    ``exact_global_ntile`` for Lorenz/Pareto cumulative-share shapes
    (ABC classes, concentration curves), where a global
    ``sum() OVER (ORDER BY …)`` would put the whole frame through one
    task.

    Construction: range-exchange on the ordering; per-partition
    running sums (a WindowExec partitioned by the physical partition
    id — every frame bounded by the range exchange's balance, all
    parallel; this partitioned window costs a SECOND full exchange on
    hash(pid), a near-no-op permutation, so the frame crosses the
    wire twice — both exchanges fully parallel, which is the point:
    the single-window form it replaces moves the frame ONCE but into
    ONE task); per-partition totals get exclusive prefix offsets via
    a tiny window (one row per shuffle partition) and broadcast-join
    back. Bit-identical to the single-window form for any total
    ordering (include a unique tiebreak column), INCLUDING null
    semantics: sum-over-window skips NULLs and returns NULL only
    when the whole preceding frame is NULL, so the combine keeps
    NULL offsets (all-NULL preceding partitions) distinct from zero.

    The ranged frame is checkpointed once for its two consumers, which
    pins the nondeterministic ``spark_partition_id`` column to ONE
    evaluation shared by both.
    """
    from pyspark.sql import Window

    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("_grs_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    v = F.col(value_col).cast(sum_type)
    w_in = (
        Window.partitionBy("_grs_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("_grs_local", F.sum(v).over(w_in))
    totals = ranged.groupBy("_grs_pid").agg(F.sum(v).alias("_grs_part"))
    # bounded frame: ≤ spark.sql.shuffle.partitions rows. No coalesce:
    # a NULL offset means every preceding partition summed to NULL
    # (held only NULLs), which the combine below must preserve.
    w_off = Window.orderBy("_grs_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_grs_pid",
        F.sum("_grs_part").over(w_off).alias("_grs_off"),
    )
    zero = F.lit(0).cast(sum_type)
    combined = F.when(
        F.col("_grs_local").isNull() & F.col("_grs_off").isNull(),
        F.lit(None).cast(sum_type),
    ).otherwise(
        F.coalesce(F.col("_grs_local"), zero)
        + F.coalesce(F.col("_grs_off"), zero)
    )
    return (
        local.join(F.broadcast(offsets), "_grs_pid")
        .withColumn(out_col, combined.cast(sum_type))
        .drop("_grs_pid", "_grs_local", "_grs_off")
    )


def rfm_scores(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_ms_col: str = "ms",
    value_centi_col: str = "v",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM segmentation: per-user Recency (days since last event vs the
    corpus's latest event), Frequency (event count), Monetary (exact
    centi sum), each scored into ``n_tiles`` quartiles by ntile — score
    1 is best (most recent / most frequent / highest spend), ties break
    on user id so the cut is deterministic and oracle-replayable.

    The tile assignment is ``exact_global_ntile`` — three range-
    exchanged two-phase global ranks over the per-user AGGREGATE (the
    fact table reduces first in one partial-agg pass), bit-identical
    to the oracle's ntile with NO single-partition sort anywhere:
    at 10⁹ users each scoring pass is still fully parallel.

    Returns (user, recency_days, freq, monetary_centi, r_score,
    f_score, m_score, segment) with segment = r·100 + f·10 + m.
    """
    per_user = df.groupBy(F.col(user_col).alias("user_id")).agg(
        F.max(ts_ms_col).alias("last_ms"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(value_centi_col).cast("long").alias("monetary_centi"),
    )
    anchor = per_user.agg(F.max("last_ms").alias("amax"))
    scored = per_user.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.expr("(amax - last_ms) DIV 86400000").cast("long")
    )
    scored = exact_global_ntile(
        scored,
        n_tiles=n_tiles,
        order_cols=[F.col("recency_days").asc(), F.col("user_id")],
        out_col="r_score",
    )
    scored = exact_global_ntile(
        scored,
        n_tiles=n_tiles,
        order_cols=[F.col("freq").desc(), F.col("user_id")],
        out_col="f_score",
    )
    scored = exact_global_ntile(
        scored,
        n_tiles=n_tiles,
        order_cols=[F.col("monetary_centi").desc(), F.col("user_id")],
        out_col="m_score",
    )
    return (
        scored.withColumn(
            "segment",
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).cast("long"),
        )
        .select(
            "user_id", "recency_days", "freq", "monetary_centi",
            "r_score", "f_score", "m_score", "segment",
        )
    )


def cuped_adjustment(
    df: DataFrame,
    *,
    group_col: str = "event_type",
    user_col: str = "user_id",
    ms_col: str = "ms",
    value_centi_col: str = "v",
    arm_col: str = "arm",
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): regress each user's
    experiment-period outcome on their PRE-period covariate and report
    the adjusted treatment effect plus the variance a dashboard gets
    back — the standard trick that cuts A/B run time by the squared
    pre/post correlation.

    Construction is exact end-to-end:

    - the pre/post split point is the global ts midpoint (1-row
      broadcast);
    - per (group, user): conditional integer sums for both periods in
      one partial-agg pass; users lacking either period drop;
    - per-user covariate/outcome quantize to BIGINT 1e-4 units
      (scale-0 round of identical IEEE quotients);
    - per group: the moment sums (Σx, Σy, Σx², Σy², Σxy as
      DECIMAL(38,0) — overflow-proof at corpus scale) plus per-arm
      sums, again one partial-agg pass;
    - θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), the variance-reduction ratio
      is corr² = cov²/(varX·varY) — CUPED's reduction needs NO second
      pass over adjusted values, the algebra gives it from the same
      moments — and the adjusted effect subtracts θ·(covariate arm
      imbalance) from the raw effect. All ratios are one canonical
      double formula over exact integers: engine-identical.

    Returns (group, n_users, theta, variance_reduction_ppm,
    effect_raw, effect_cuped) — effects in centi units, NULL-guarded
    for degenerate groups.
    """
    bounds = df.agg(
        F.min(ms_col).alias("_mn"), F.max(ms_col).alias("_mx")
    ).select(F.expr("(_mn + _mx) DIV 2").alias("_mid"))
    pre = F.col(ms_col) < F.col("_mid")
    per_user = (
        df.crossJoin(F.broadcast(bounds))
        .groupBy(group_col, user_col, arm_col)
        .agg(
            F.count(F.when(pre, 1)).alias("n1"),
            F.sum(F.when(pre, F.col(value_centi_col))).alias("s1"),
            F.count(F.when(~pre, 1)).alias("n2"),
            F.sum(F.when(~pre, F.col(value_centi_col))).alias("s2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            group_col,
            arm_col,
            F.round(
                F.col("s1").cast("double") / F.col("n1").cast("double") * 100
            ).cast("long").alias("x4"),
            F.round(
                F.col("s2").cast("double") / F.col("n2").cast("double") * 100
            ).cast("long").alias("y4"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is_a = F.col(arm_col) == "A"
    m = per_user.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x4"))).alias("sx"),
        F.sum(dec(F.col("y4"))).alias("sy"),
        F.sum(dec(F.col("x4") * F.col("x4"))).alias("sxx"),
        F.sum(dec(F.col("y4") * F.col("y4"))).alias("syy"),
        F.sum(dec(F.col("x4") * F.col("y4"))).alias("sxy"),
        F.count(F.when(is_a, 1)).cast("long").alias("na"),
        F.count(F.when(~is_a, 1)).cast("long").alias("nb"),
        F.sum(F.when(is_a, dec(F.col("x4")))).alias("sxa"),
        F.sum(F.when(~is_a, dec(F.col("x4")))).alias("sxb"),
        F.sum(F.when(is_a, dec(F.col("y4")))).alias("sya"),
        F.sum(F.when(~is_a, dec(F.col("y4")))).alias("syb"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    covn = d(dec(F.col("n")) * F.col("sxy") - F.col("sx") * F.col("sy"))
    vxn = d(dec(F.col("n")) * F.col("sxx") - F.col("sx") * F.col("sx"))
    vyn = d(dec(F.col("n")) * F.col("syy") - F.col("sy") * F.col("sy"))
    theta = covn / vxn
    raw = d(F.col("sya")) / d(F.col("na")) - d(F.col("syb")) / d(F.col("nb"))
    ximb = d(F.col("sxa")) / d(F.col("na")) - d(F.col("sxb")) / d(F.col("nb"))
    ok = (F.col("na") > 0) & (F.col("nb") > 0) & (vxn > 0) & (vyn > 0)
    return m.select(
        group_col,
        F.col("n").alias("n_users"),
        F.when(ok, F.round(theta, 6)).alias("theta"),
        F.when(ok, F.round(covn * covn / (vxn * vyn) * 1_000_000))
        .cast("long")
        .alias("variance_reduction_ppm"),
        # effects reported in centi units: the per-user values are 1e-4
        # (centi·1e-2), so scale the means back by 1e-2
        F.when(ok, F.round(raw / 100, 4)).alias("effect_raw"),
        F.when(ok, F.round((raw - theta * ximb) / 100, 4)).alias("effect_cuped"),
    )


def conversion_ztest(
    per_user: DataFrame,
    *,
    arm_col: str = "arm",
    convert_col: str = "converted",
) -> DataFrame:
    """Two-proportion z-test on a per-user conversion frame — the
    binary-outcome sibling of ``welch_ttest`` (signup/purchase rates
    rather than revenue). One conditional-aggregate pass collects the
    four exact counts; the pooled-variance z statistic evaluates in one
    canonical double formula:

        z = (c_a/n_a − c_b/n_b) /
            sqrt(p̂(1−p̂)(1/n_a + 1/n_b)),  p̂ = (c_a+c_b)/(n_a+n_b)

    Returns one row (n_a, n_b, conv_a, conv_b, rate_a_pml, rate_b_pml,
    z_stat) — rates as exact per-mille integers, z rounded to 6 digits
    and NULL when either arm is empty or the pooled rate is degenerate
    (0 or 1, where the variance vanishes).
    """
    is_a = F.col(arm_col) == "A"
    conv = F.col(convert_col).cast("long")
    agg = per_user.agg(
        F.count(F.when(is_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(is_a, conv)), F.lit(0)).cast("long").alias("conv_a"),
        F.coalesce(F.sum(F.when(~is_a, conv)), F.lit(0)).cast("long").alias("conv_b"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = (d("conv_a") + d("conv_b")) / (d("n_a") + d("n_b"))
    z = (d("conv_a") / d("n_a") - d("conv_b") / d("n_b")) / F.sqrt(
        p * (1 - p) * (1 / d("n_a") + 1 / d("n_b"))
    )
    ok = (
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("conv_a") + F.col("conv_b") > 0)
        & (F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("(1000 * conv_a) DIV n_a").cast("long").alias("rate_a_pml"),
        F.expr("(1000 * conv_b) DIV n_b").cast("long").alias("rate_b_pml"),
        F.when(ok, F.round(z, 6)).alias("z_stat"),
    )


def mannwhitney_u(
    df: DataFrame,
    *,
    group_cols: list[str],
    arm_col: str = "arm",
    value_col: str = "v",
) -> DataFrame:
    """Per-group Mann–Whitney U test between arms 'A' and 'B' — the
    rank-based (outlier-robust) sibling of ``welch_ttest`` for metrics
    whose distributions are skewed enough that a mean comparison lies.

    Exact end-to-end on integers: the rank pass runs over DISTINCT
    VALUES, not rows — one partial-agg groupBy (group, value) collects
    per-arm counts, a window over the (bounded) distinct-value list
    accumulates counts-below, and doubled average ranks
    (2·rank = 2·below + t + 1) stay integers through every tie. The
    statistic keeps the doubled form (2U = ΣA 2rank − n_a(n_a+1)) and
    the normal approximation applies the standard tie correction:

        z = (2U − n_a·n_b) / (2·sqrt(var)),
        var = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1)))

    — one canonical double formula over exact integer moments.

    Returns (group…, n_a, n_b, u2_a, z_stat): ``u2_a`` is 2·U_A
    (integer-exact; U_A = u2_a/2), z NULL when an arm is empty or all
    values tie (variance 0).
    """
    from pyspark.sql import Window

    is_a = F.col(arm_col) == "A"
    per_val = df.groupBy(*group_cols, value_col).agg(
        F.count(F.when(is_a, 1)).cast("long").alias("ca"),
        F.count(F.when(~is_a, 1)).cast("long").alias("cb"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_val.withColumn("t", F.col("ca") + F.col("cb")).withColumn(
        "below", F.coalesce(F.sum("t").over(w), F.lit(0))
    )
    rank2 = 2 * F.col("below") + F.col("t") + 1
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum((F.col("ca") * rank2).cast("decimal(38,0)")).alias("_r2a"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("decimal(38,0)")
        ).alias("_tie"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    u2a = d(F.col("_r2a")) - d(F.col("n_a")) * (d(F.col("n_a")) + 1)
    n = d(F.col("n_a")) + d(F.col("n_b"))
    var = (
        d(F.col("n_a"))
        * d(F.col("n_b"))
        / 12
        * ((n + 1) - d(F.col("_tie")) / (n * (n - 1)))
    )
    z = (u2a - d(F.col("n_a")) * d(F.col("n_b"))) / (2 * F.sqrt(var))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0)
    return agg.select(
        *group_cols,
        "n_a",
        "n_b",
        (F.col("_r2a").cast("long") - F.col("n_a") * (F.col("n_a") + 1)).alias(
            "u2_a"
        ),
        F.when(ok, F.round(z, 6)).alias("z_stat"),
    )


def theilsen_trend(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group Theil–Sen trend estimate: the median of all pairwise
    slopes — the robust regression line (up to ~29% outliers cannot
    move it) a monitoring pipeline fits to bucketed series instead of
    least squares, which one bad hour drags arbitrarily.

    Input is the (bounded) BUCKETED series — pair cost is buckets² per
    group by construction, never rows². Slopes are doubles of exact
    integer differences (identical IEEE both engines) rounded to 6;
    the median is the deterministic LOWER median — the row at position
    ⌈n/2⌉ of the (slope, x1, x2) order — so tie-breaking is exact and
    oracle-replayable.

    Returns (group…, n_points, n_pairs, median_slope).

    Contract: ``df`` must be the BOUNDED bucketed series (buckets per
    group, not raw rows) — it is materialized executor-local via
    ``localCheckpoint``, which assumes it fits comfortably (it does
    whenever the buckets² pair bound that makes this operator viable
    holds).
    """
    from pyspark.sql import Window

    # the bucketed series feeds THREE consumers (both self-join sides
    # and the n_points count) — stage it once so the upstream
    # aggregation isn't re-run per consumer (it is bounded by
    # construction: buckets, not rows)
    df = df.localCheckpoint(eager=False)
    a = df.select(
        *group_cols, F.col(x_col).alias("x1"), F.col(y_col).alias("y1")
    )
    b = df.select(
        *group_cols, F.col(x_col).alias("x2"), F.col(y_col).alias("y2")
    )
    pairs = a.join(b, group_cols).filter(F.col("x1") < F.col("x2"))
    slope = F.round(
        (F.col("y2").cast("double") - F.col("y1").cast("double"))
        / (F.col("x2").cast("double") - F.col("x1").cast("double")),
        6,
    )
    scored = pairs.select(*group_cols, slope.alias("slope"), "x1", "x2")
    w_all = Window.partitionBy(*group_cols)
    w_ord = Window.partitionBy(*group_cols).orderBy("slope", "x1", "x2")
    ranked = scored.withColumn("n_pairs", F.count(F.lit(1)).over(w_all)).withColumn(
        "rn", F.row_number().over(w_ord)
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) DIV 2")
    ).select(*group_cols, "n_pairs", F.col("slope").alias("median_slope"))
    n_points = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    return n_points.join(med, group_cols).select(
        *group_cols,
        "n_points",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "median_slope",
    )


def gini_concentration(
    df: DataFrame,
    *,
    group_cols: list[str],
    id_col: str = "member_id",
    value_col: str = "v",
) -> DataFrame:
    """Per-group Gini coefficient of a nonnegative integer measure —
    the inequality gauge (revenue concentration, token-budget skew)
    in its exact rank form:

        G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)

    with x_(i) ascending and ranks tie-broken by the member id, so the
    estimate is deterministic. The rank window runs over the per-member
    AGGREGATE the caller provides (members ≪ rows); Σ i·x accumulates
    as DECIMAL(38,0) (rank·value products at corpus scale), and the
    final ratio is one canonical double formula, reported in exact
    micro-units.

    Returns (group…, n_members, total_value, gini_micro).
    """
    from pyspark.sql import Window

    ranked = df.select(
        *group_cols, F.col(id_col).alias("_m"), F.col(value_col).alias("_v")
    ).withColumn(
        "_i",
        F.row_number().over(Window.partitionBy(*group_cols).orderBy("_v", "_m")),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.col("_v").cast("decimal(38,0)")).alias("_sx"),
        F.sum((F.col("_i").cast("decimal(38,0)") * F.col("_v"))).alias("_six"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    g = (2 * d("_six") - (d("n_members") + 1) * d("_sx")) / (
        d("n_members") * d("_sx")
    )
    ok = (F.col("n_members") > 0) & (F.col("_sx") > 0)
    return agg.select(
        *group_cols,
        "n_members",
        F.col("_sx").cast("long").alias("total_value"),
        F.when(ok, F.round(g * 1_000_000)).cast("long").alias("gini_micro"),
    )


def psi_from_counts(pre: Column, post: Column) -> list[Column]:
    """Population Stability Index between two equal-length bucket-count
    arrays, as the (n_buckets, psi_upm) columns of the batch
    ``events_psi_drift`` gauge and its streaming monitor.

    A cell that is zero on both sides is not a bucket. Shares are
    Laplace-smoothed, ``(1e6·c + 1) / (total + cells)`` — a double
    ``1e6`` (in SQL text the literal would be a DECIMAL). Each bucket's
    contribution ``(p − q)·ln(p/q)`` rounds to 6 decimals and the
    contributions sum as DECIMAL, so the total is order-free; it is
    reported rounded, in micro-PSI.
    """
    total = lambda a: F.aggregate(a, F.lit(0).cast("long"), lambda s, c: s + c)  # noqa: E731
    cells = F.filter(
        F.zip_with(pre, post, lambda a, b: F.struct(a.alias("a"), b.alias("b"))),
        lambda c: (c["a"] != 0) | (c["b"] != 0),
    )
    tp, tq, k = total(pre), total(post), F.size(pre)

    def contrib(c: Column) -> Column:
        p = (F.lit(1000000.0) * c["a"] + 1.0) / (tp + k)
        q = (F.lit(1000000.0) * c["b"] + 1.0) / (tq + k)
        return F.round((p - q) * F.log(p / q), 6).cast("decimal(24,6)")

    psi = F.aggregate(
        F.transform(cells, contrib),
        F.lit(0).cast("decimal(38,6)"),
        lambda s, c: (s + c).cast("decimal(38,6)"),
    )
    return [
        F.size(cells).cast("long").alias("n_buckets"),
        F.round(psi).cast("long").alias("psi_upm"),
    ]
