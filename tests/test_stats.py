"""Experiment statistics (functions/stats.py)."""

from __future__ import annotations

import math


def _welch_reference(a: list[float], b: list[float]):
    """Textbook Welch on centi-quantized values, mirroring the
    documented formula (sample variance, Welch–Satterthwaite dof)."""
    ca = [round(x * 100) for x in a]
    cb = [round(x * 100) for x in b]
    na, nb = len(ca), len(cb)
    sa, sb = sum(ca), sum(cb)
    qa, qb = sum(x * x for x in ca), sum(x * x for x in cb)
    va = (na * qa - sa * sa) / (na * (na - 1))
    vb = (nb * qb - sb * sb) / (nb * (nb - 1))
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / math.sqrt(se2)
    dof = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    return round(t, 6), round(dof, 4)


def test_welch_ttest_matches_reference_formula(spark):
    from decaton_spark.functions import stats as st
    from pyspark.sql import functions as F

    a = [10.0, 12.5, 11.2, 9.8, 13.1]
    b = [8.1, 8.9, 9.4, 7.6]
    rows = [("x", "A", v) for v in a] + [("x", "B", v) for v in b]
    df = spark.createDataFrame(rows, schema="g string, arm string, value double")
    out = st.welch_ttest(df, group_cols=["g"], unit=100).collect()[0]
    t, dof = _welch_reference(a, b)
    assert out["n_a"] == 5 and out["n_b"] == 4
    assert out["sum_centi_a"] == sum(round(v * 100) for v in a)
    assert out["t_stat"] == t
    assert out["welch_dof"] == dof
    assert out["t_stat"] > 2  # the planted lift is real


def test_welch_ttest_degenerate_arm_yields_null(spark):
    from decaton_spark.functions import stats as st

    rows = [("g1", "A", 1.0), ("g1", "B", 2.0), ("g1", "B", 3.0)]
    df = spark.createDataFrame(rows, schema="g string, arm string, value double")
    out = st.welch_ttest(df, group_cols=["g"]).collect()[0]
    assert out["n_a"] == 1
    assert out["t_stat"] is None and out["welch_dof"] is None
    assert out["sum_centi_a"] == 100  # sums still reported


def test_hash_arm_is_sticky_and_balanced(spark):
    from pyspark.sql import functions as F

    from decaton_spark.functions import stats as st

    df = spark.range(2000).select(F.col("id"))
    armed = df.withColumn("arm", st.hash_arm("CAST(id AS STRING)"))
    counts = {r["arm"]: r["c"] for r in armed.groupBy("arm").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"A", "B"}
    assert abs(counts["A"] - counts["B"]) < 300  # ~50/50 split
    # sticky: same key always lands in the same arm
    again = {r["id"]: r["arm"] for r in armed.collect()}
    assert again == {r["id"]: r["arm"] for r in armed.collect()}


def test_rfm_scores_planted_quartiles(spark):
    """8 users with strictly ordered recency/frequency/monetary produce
    the full 1..4 ntile ladder on each axis; segment composes digits."""
    from decaton_spark.functions import stats as st

    day = 86_400_000
    rows = []
    for u in range(8):
        # user u: last event u days before anchor, u+1 events, spend 100*(8-u)
        for k in range(u + 1):
            rows.append((u, (30 - u) * day - k, 100 * (8 - u)))
    df = spark.createDataFrame(rows, schema="user_id long, ms long, v long")
    out = {r["user_id"]: r for r in st.rfm_scores(df).collect()}
    assert [out[u]["recency_days"] for u in range(8)] == list(range(8))
    # recency: user 0 most recent -> r_score 1; user 7 oldest -> 4
    assert out[0]["r_score"] == 1 and out[7]["r_score"] == 4
    # frequency: user 7 has most events -> f_score 1
    assert out[7]["f_score"] == 1 and out[0]["f_score"] == 4
    # monetary: user 0 highest total? user u spends 100*(8-u)*(u+1) total
    # -> totals: u=0:800, u=3:2000, u=7:800 -> peak mid; just check ladder valid
    assert all(1 <= out[u]["m_score"] <= 4 for u in range(8))
    assert all(
        out[u]["segment"]
        == out[u]["r_score"] * 100 + out[u]["f_score"] * 10 + out[u]["m_score"]
        for u in range(8)
    )
    # each axis distributes 8 users as 2/2/2/2
    from collections import Counter

    for axis in ("r_score", "f_score", "m_score"):
        assert Counter(out[u][axis] for u in range(8)) == {1: 2, 2: 2, 3: 2, 4: 2}


def test_cuped_reduces_variance_on_correlated_fixture(spark):
    """Users with a stable personal level (pre mean ≈ post mean +
    arm lift): CUPED should find theta ≈ 1, a large variance
    reduction, and an adjusted effect closer to the true +2.0 lift
    than the raw effect."""
    from decaton_spark.functions import stats as st

    rows = []
    # 20 users, half per arm; user u's personal level is 10 + u (big
    # between-user spread); arm A gets +2.0 in the post period
    for u in range(20):
        arm = "A" if u % 2 == 0 else "B"
        level = 1000 + 100 * u  # centi
        lift = 200 if arm == "A" else 0
        for t in (0, 1):          # pre period (ms < mid)
            rows.append(("m", u, arm, t, level))
        for t in (100, 101):      # post period
            rows.append(("m", u, arm, t, level + lift))
    df = spark.createDataFrame(
        rows, schema="event_type string, user_id long, arm string, ms long, v long"
    )
    out = st.cuped_adjustment(df).collect()[0]
    assert out["n_users"] == 20
    # personal level dominates -> near-perfect pre/post correlation
    assert out["theta"] is not None and 0.9 < out["theta"] < 1.1
    assert out["variance_reduction_ppm"] > 900_000  # >90% variance removed
    # raw effect carries the arm-level imbalance (A users are even ->
    # slightly lower mean level); CUPED should land near the true +200
    # centi lift (effects are reported in centi units)
    assert abs(out["effect_cuped"] - 200.0) < 20
    assert abs(out["effect_cuped"] - 200.0) <= abs(out["effect_raw"] - 200.0)


def test_conversion_ztest_reference_formula_and_guards(spark):
    import math

    from decaton_spark.functions import stats as st

    rows = [("A", 1)] * 30 + [("A", 0)] * 70 + [("B", 1)] * 20 + [("B", 0)] * 80
    df = spark.createDataFrame(rows, "arm string, converted long")
    out = st.conversion_ztest(df).collect()[0]
    assert (out["n_a"], out["n_b"], out["conv_a"], out["conv_b"]) == (100, 100, 30, 20)
    assert out["rate_a_pml"] == 300 and out["rate_b_pml"] == 200
    p = 50 / 200
    z = (0.3 - 0.2) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert out["z_stat"] == round(z, 6)

    # degenerate: nobody converts -> variance 0 -> NULL z, rates still exact
    d0 = spark.createDataFrame([("A", 0), ("B", 0)], "arm string, converted long")
    r0 = st.conversion_ztest(d0).collect()[0]
    assert r0["z_stat"] is None and r0["rate_a_pml"] == 0


def test_mannwhitney_matches_scipy_style_reference(spark):
    """U and tie-corrected z on a small tied fixture equal the
    textbook computation (average ranks, tie-corrected variance)."""
    import math

    from decaton_spark.functions import stats as st

    a = [1, 2, 2, 5, 7]
    b = [2, 3, 3, 6]
    rows = [("g", "A", v) for v in a] + [("g", "B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, arm string, v long")
    out = st.mannwhitney_u(df, group_cols=["g"]).collect()[0]

    allv = sorted(a + b)
    # average rank per value (1-based)
    def avg_rank(v):
        below = sum(1 for x in allv if x < v)
        t = sum(1 for x in allv if x == v)
        return below + (t + 1) / 2

    ra = sum(avg_rank(v) for v in a)
    na, nb = len(a), len(b)
    u_a = ra - na * (na + 1) / 2
    assert out["u2_a"] == int(2 * u_a)
    n = na + nb
    from collections import Counter

    tie = sum(t**3 - t for t in Counter(allv).values())
    var = na * nb / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (2 * u_a - na * nb) / (2 * math.sqrt(var))
    assert out["z_stat"] == round(z, 6)

    # all-tied group: variance 0 -> NULL z
    d0 = spark.createDataFrame(
        [("g", "A", 5), ("g", "A", 5), ("g", "B", 5)], "g string, arm string, v long"
    )
    assert st.mannwhitney_u(d0, group_cols=["g"]).collect()[0]["z_stat"] is None


def test_theilsen_ignores_outlier_least_squares_cannot(spark):
    """A clean slope-2 series with one wild outlier: Theil-Sen recovers
    2.0 exactly (median pairwise slope), and the deterministic lower
    median matches the Python reference on the same tie-break order."""
    from decaton_spark.functions import stats as st

    pts = [(h, 2 * h) for h in range(10)]
    pts[5] = (5, 1000)  # outlier
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x long, y long"
    )
    out = st.theilsen_trend(df, group_cols=["g"]).collect()[0]
    assert out["n_points"] == 10 and out["n_pairs"] == 45
    assert out["median_slope"] == 2.0

    slopes = sorted(
        (
            round((y2 - y1) / (x2 - x1), 6),
            x1,
            x2,
        )
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    )
    assert out["median_slope"] == slopes[(45 + 1) // 2 - 1][0]

    # the staging checkpoint is correctness-neutral: the bucketed
    # series is a deterministic aggregation, so the three consumers
    # recomputing it give the same answer
    from tests.test_window_audit import checkpoint_passthrough

    with checkpoint_passthrough():
        unstaged = st.theilsen_trend(df, group_cols=["g"])
    assert unstaged.collect()[0] == out


def test_gini_boundaries_equal_and_concentrated(spark):
    """Equal shares -> Gini ~ 0 (exactly (n-1)/n·0 = 0 in rank form);
    one member holding everything -> (n-1)/n."""
    from decaton_spark.functions import stats as st

    eq = spark.createDataFrame(
        [("g", i, 100) for i in range(10)], "g string, member_id long, v long"
    )
    out = st.gini_concentration(eq, group_cols=["g"]).collect()[0]
    assert out["n_members"] == 10 and out["total_value"] == 1000
    assert out["gini_micro"] == 0

    conc = spark.createDataFrame(
        [("g", i, 0) for i in range(9)] + [("g", 9, 1000)],
        "g string, member_id long, v long",
    )
    out2 = st.gini_concentration(conc, group_cols=["g"]).collect()[0]
    assert out2["gini_micro"] == 900_000  # (n-1)/n with n=10
