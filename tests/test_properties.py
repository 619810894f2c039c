"""Property-style invariant tests (hypothesis) — the engine analog of
the reference's ProcessorTestSuite semantics properties (SURVEY §5
layer 2): for arbitrary generated task sets, each operator must equal
an independently-written reference implementation.

Sizes are kept small (Spark job per example is the cost); hypothesis
still explores ties, duplicates, empty groups, and boundary times far
better than fixed fixtures.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

KEYS = st.sampled_from(["a", "b", "c"])
TS = st.integers(min_value=0, max_value=10_000)

tasks_strategy = st.lists(
    st.tuples(KEYS, TS, st.integers(0, 10_000)), min_size=1, max_size=40
).map(
    # unique offsets: zip with index (offset is the Kafka total order)
    lambda rows: [
        (k, ts, i, v) for i, (k, ts, v) in enumerate(rows)
    ]
)


@given(rows=tasks_strategy)
@SET
def test_compaction_matches_pandas_reference(spark, rows):
    """T1 global compaction == pandas idxmax over (ts, offset)."""
    from decaton_spark.operators import compact_tasks

    pdf = pd.DataFrame(
        rows, columns=["key", "meta_timestamp_millis", "offset", "v"]
    )
    df = spark.createDataFrame(pdf).withColumn(
        "timestamp", F.timestamp_millis(F.col("meta_timestamp_millis"))
    )
    got = (
        compact_tasks(df, linger=None)
        .select("key", "offset")
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    ref = (
        pdf.sort_values(["meta_timestamp_millis", "offset"])
        .groupby("key", as_index=False)
        .last()[["key", "offset"]]
        .sort_values("key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, ref)


@given(rows=tasks_strategy)
@SET
def test_salted_agg_equals_plain_groupby(spark, rows):
    """Two-phase salted aggregation ≡ single-phase groupBy, always."""
    from decaton_spark.operators import salted_agg

    pdf = pd.DataFrame(rows, columns=["key", "ts", "offset", "v"])
    df = spark.createDataFrame(pdf)
    got = (
        salted_agg(
            df,
            key_cols=["key"],
            aggs=[
                ("count", F.lit(1), "n"),
                ("sum", "v", "sum_v"),
                ("min", "ts", "min_ts"),
                ("max", "ts", "max_ts"),
            ],
            salt_col="offset",
            n_salts=4,
        )
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    ref = (
        pdf.groupby("key")
        .agg(n=("v", "size"), sum_v=("v", "sum"), min_ts=("ts", "min"), max_ts=("ts", "max"))
        .reset_index()
        .sort_values("key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"n": "int64", "sum_v": "int64"}), ref.astype({"n": "int64"})
    )


@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=20),
    right=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=20),
)
@SET
def test_range_join_equals_bruteforce(spark, left, right):
    """Bucketed range join ≡ brute-force inequality filter."""
    from decaton_spark.operators.asof import range_join

    lower_ms, upper_ms = -2000, 1000
    lp = pd.DataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)],
        columns=["key", "l_ms", "l_id"],
    )
    rp = pd.DataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(right)],
        columns=["key", "r_ms", "r_id"],
    )
    ldf = spark.createDataFrame(lp).withColumn(
        "l_ts", F.timestamp_millis("l_ms")
    )
    rdf = spark.createDataFrame(rp).withColumn(
        "r_ts", F.timestamp_millis("r_ms")
    )
    got = (
        range_join(
            ldf, rdf, on="key", left_ts="l_ts", right_ts="r_ts",
            lower_ms=lower_ms, upper_ms=upper_ms,
        )
        .select("l_id", "r_id")
        .toPandas()
        .sort_values(["l_id", "r_id"])
        .reset_index(drop=True)
    )
    merged = lp.merge(rp, on="key")
    mask = (merged.r_ms >= merged.l_ms + lower_ms) & (
        merged.r_ms < merged.l_ms + upper_ms
    )
    ref = (
        merged[mask][["l_id", "r_id"]]
        .sort_values(["l_id", "r_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, ref)


@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=15),
    right=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=15),
)
@SET
def test_asof_join_equals_pandas_merge_asof(spark, left, right):
    """Union-sort as-of join ≡ pandas merge_asof (backward)."""
    from decaton_spark.operators.asof import asof_join

    lp = pd.DataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)],
        columns=["key", "ms", "l_id"],
    )
    rp = (
        pd.DataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(right)],
            columns=["key", "r_ms", "r_id"],
        )
        # merge_asof picks the LAST right row at equal ts; make the
        # right side unique per (key, ts) so both definitions agree
        .sort_values("r_id")
        .drop_duplicates(["key", "r_ms"], keep="last")
    )
    ldf = spark.createDataFrame(lp).withColumn("l_ts", F.timestamp_millis("ms"))
    rdf = spark.createDataFrame(rp).withColumn("r_ts", F.timestamp_millis("r_ms"))
    got = (
        asof_join(
            ldf, rdf, on="key", left_ts="l_ts", right_ts="r_ts",
            right_cols=["r_id"], how="left",
        )
        .select("l_id", "r_id")
        .toPandas()
        .sort_values("l_id")
        .reset_index(drop=True)
    )
    ref = (
        pd.merge_asof(
            lp.sort_values("ms", kind="stable"),
            rp.sort_values("r_ms", kind="stable").rename(columns={"r_ms": "ms"}),
            on="ms",
            by="key",
            direction="backward",
        )[["l_id", "r_id"]]
        .sort_values("l_id")
        .reset_index(drop=True)
    )
    got["r_id"] = got["r_id"].astype("float64")
    ref["r_id"] = ref["r_id"].astype("float64")
    pd.testing.assert_frame_equal(got, ref)


META_STR = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF
    ),
    max_size=24,
)


@given(
    rows=st.lists(
        st.tuples(
            META_STR,  # key, incl. unicode / quotes / empty
            st.integers(0, 2**62),  # timestamp
            st.integers(0, 100),  # retry count
            META_STR,  # source app id
        ),
        min_size=1,
        max_size=12,
    )
)
@SET
def test_envelope_header_roundtrip_property(spark, rows):
    """Header metadata survives JSON envelope encode->parse for
    arbitrary unicode keys and boundary values — the fuzz analog of
    the reference's ProtocolMigrationTest."""
    from decaton_spark.envelope import extract_task, metadata_to_header_json

    df = spark.createDataFrame(
        [
            (k, i, ts, rc, src, i * 7, ts + 1, f"v{i}",
             __import__("datetime").datetime(2024, 1, 1))
            for i, (k, ts, rc, src) in enumerate(rows)
        ],
        "key string, offset long, meta_timestamp_millis long,"
        " meta_retry_count long, meta_source_application_id string,"
        " meta_source_instance_id long, meta_scheduled_time_millis long,"
        " value string, timestamp timestamp",
    )
    hdr = metadata_to_header_json(df)
    stripped = hdr.drop(*[c for c in hdr.columns if c.startswith("meta_")])
    back = extract_task(stripped)
    want = {
        (r["offset"], r["meta_timestamp_millis"], r["meta_retry_count"],
         r["meta_source_application_id"])
        for r in df.collect()
    }
    got = {
        (r["offset"], r["meta_timestamp_millis"], r["meta_retry_count"],
         r["meta_source_application_id"])
        for r in back.collect()
    }
    assert got == want


@given(rows=tasks_strategy, quota=st.integers(1, 6))
@SET
def test_quota_split_conservation_property(spark, rows, quota):
    """T6 shaping invariants for arbitrary task sets: every row lands
    in exactly one side, per-(key, window) the processed side never
    exceeds the quota, and a key's processed rows are the earliest
    (ts, offset) arrivals of its window."""
    from decaton_spark.operators.quota import split_shaping

    df = spark.createDataFrame(
        [
            (k, ts, off, str(v), 0, "t")
            for (k, ts, off, v) in rows
        ],
        "key string, meta_timestamp_millis long, offset long,"
        " value string, partition int, topic string",
    ).withColumn("timestamp", F.timestamp_millis(F.col("meta_timestamp_millis")))
    window_ms = 5_000
    process, shape = split_shaping(
        df, quota / (window_ms / 1000.0), window_duration="5 seconds"
    )
    n, n_p, n_s = df.count(), process.count(), shape.count()
    assert n_p + n_s == n
    per_win = (
        process.groupBy(
            "key", F.floor(F.col("meta_timestamp_millis") / window_ms)
        ).count()
    )
    assert per_win.filter(F.col("count") > quota).count() == 0


@given(
    v=st.integers(0, 2**64 - 1),
    flips=st.lists(st.integers(0, 63), min_size=0, max_size=3, unique=True),
)
@settings(max_examples=200)
def test_dhash_banding_pigeonhole_complete(v, flips):
    """Pure-math property behind image_near_dup_pairs: any two 64-bit
    hashes within Hamming distance 3 share at least one of the four
    16-bit bands exactly (4 bands, <=3 differing bits => some band is
    untouched), so banded candidate generation cannot miss a pair at
    max_hamming=3."""
    w = v
    for b in flips:
        w ^= 1 << b
    bands_v = [(v >> (16 * i)) & 0xFFFF for i in range(4)]
    bands_w = [(w >> (16 * i)) & 0xFFFF for i in range(4)]
    assert any(a == b for a, b in zip(bands_v, bands_w))


@given(
    counts=st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=2),
        st.integers(1, 30),
        min_size=1,
        max_size=12,
    ),
    threshold=st.integers(1, 25),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_heavy_hitters_equals_exact_filter(spark, counts, threshold):
    """heavy_hitters == the exact GROUP BY/HAVING result for ANY key
    multiset and threshold, including collision-heavy narrow sketches
    (the sketch prunes, never decides)."""
    from decaton_spark.functions.sketches import heavy_hitters

    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "key string").repartition(3)
    got = {
        (r["key"], r["cnt"])
        for r in heavy_hitters(
            df, "key", threshold=threshold, depth=2, width=4
        ).collect()
    }
    want = {(k, n) for k, n in counts.items() if n >= threshold}
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["A", "B"]), st.integers(-10_000, 10_000)),
        min_size=4,
        max_size=40,
    ).filter(
        lambda rows: sum(1 for a, _ in rows if a == "A") >= 2
        and sum(1 for a, _ in rows if a == "B") >= 2
    )
)
@SET
def test_welch_matches_python_reference(spark, vals):
    """Welch t/dof over arbitrary centi-integer samples equals the
    plain-Python sufficient-statistics fold (same canonical formula) —
    including negative values and tied samples; zero-variance pairs
    produce consistent NULL/inf handling."""
    import math

    from decaton_spark.functions import stats as stt

    df = spark.createDataFrame(
        [("g", a, v) for a, v in vals], "g string, arm string, v long"
    )
    out = stt.welch_ttest(
        df.withColumn("value", F.col("v").cast("double")),
        group_cols=["g"],
        unit=1,
    ).collect()[0]
    a = [v for arm, v in vals if arm == "A"]
    b = [v for arm, v in vals if arm == "B"]
    na, nb, sa, sb = len(a), len(b), sum(a), sum(b)
    qa, qb = sum(x * x for x in a), sum(x * x for x in b)
    va = (na * qa - sa * sa) / (na * (na - 1))
    vb = (nb * qb - sb * sb) / (nb * (nb - 1))
    se2 = va / na + vb / nb
    assert (out["n_a"], out["n_b"]) == (na, nb)
    assert (out["sum_centi_a"], out["sum_centi_b"]) == (sa, sb)
    if se2 > 0:
        t = (sa / na - sb / nb) / math.sqrt(se2)
        assert out["t_stat"] == round(t, 6)
    else:
        # both arms constant: t degenerates (NULL/NaN/inf) — just must
        # not produce a finite wrong number
        assert out["t_stat"] is None or not math.isfinite(out["t_stat"])


@given(
    src=st.lists(
        st.lists(st.integers(-5, 5), min_size=3, max_size=3),
        min_size=1,
        max_size=5,
    ),
    tgt=st.lists(
        st.lists(st.integers(-5, 5), min_size=3, max_size=3),
        min_size=1,
        max_size=5,
    ),
)
@SET
def test_margin_mining_matches_python_reference(spark, src, tgt):
    """Mined (src, tgt, margin) set over arbitrary small integer
    vectors equals the plain-Python implementation of the documented
    integer-margin algorithm (k=2, threshold 0)."""
    import math

    from decaton_spark.functions import similarity as sim

    # drop zero vectors (cosine undefined) before both implementations
    src = [v for v in src if any(v)] or [[1, 0, 0]]
    tgt = [v for v in tgt if any(v)] or [[0, 1, 0]]
    mk = lambda rows, base: spark.createDataFrame(  # noqa: E731
        [(base + i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["src_id"], r["tgt_id"], r["margin_milli"])
        for r in sim.margin_mining(
            mk(src, 0), mk(tgt, 100), k=2, threshold_milli=0
        ).collect()
    }

    def c4(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb) * 10_000)

    cos = {(s, 100 + t): c4(sv, tv) for s, sv in enumerate(src) for t, tv in enumerate(tgt)}
    a_sum = {
        s: sum(sorted((cos[(s, 100 + t)] for t in range(len(tgt))), reverse=True)[:2])
        for s in range(len(src))
    }
    b_sum = {
        100 + t: sum(sorted((cos[(s, 100 + t)] for s in range(len(src))), reverse=True)[:2])
        for t in range(len(tgt))
    }
    want = set()
    for s in range(len(src)):
        best = None
        for t in range(len(tgt)):
            cc, tid = cos[(s, 100 + t)], 100 + t
            if cc <= 0 or a_sum[s] + b_sum[tid] <= 0:
                continue
            m = (8000 * cc) // (a_sum[s] + b_sum[tid])
            if best is None or m > best[1] or (m == best[1] and tid < best[0]):
                best = (tid, m)
        if best is not None and best[1] >= 0:
            want.add((s, best[0], best[1]))
    assert got == want
