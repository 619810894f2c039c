"""Port of the reference's ProcessingGuarantee suite (SURVEY §5 layer 2:
``testing/.../processor/ProcessingGuarantee.java:42-77``):

- AT_LEAST_ONCE_DELIVERY: produced offset set == processed offset set
- PROCESS_ORDERING: per-key processed sequence follows offset order
- SERIAL_PROCESSING: by construction (one state partition per key);
  asserted here as no interleaved regression marks

plus the streaming CM-sketch quota (T6) overestimate guarantee.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from decaton_spark.envelope import events_to_tasks
from decaton_spark.sources import load_table
from decaton_spark.streaming import ordered_process, streaming_quota
from tests.utils import rows_of, run_subscription


@pytest.fixture(scope="module")
def stream_parts(spark, sf_dir, tmp_path_factory):
    """Task-stream fixture honoring the source contract: like a Kafka
    partition, offsets arrive in increasing order — each appended file
    (= microbatch) carries a later offset range."""
    import time

    d = tmp_path_factory.mktemp("inv-stream")
    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).drop("timestamp")
    n = tasks.count()
    step = (n + 3) // 4
    for i in range(4):
        lo, hi = i * step, (i + 1) * step
        (
            tasks.filter((F.col("offset") >= lo) & (F.col("offset") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(str(d))
        )
        time.sleep(1.1)  # FileStreamSource orders by modification time
    return str(d), tasks.schema, tasks


def _run(stream_df, tmp_path, name):
    return rows_of(run_subscription(stream_df, tmp_path / f"ckpt-{name}")[1])


def test_at_least_once_and_ordering(spark, stream_parts, tmp_path):
    path, schema, tasks = stream_parts
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    rows = _run(ordered_process(stream), tmp_path, "ordered")

    produced = {r["offset"] for r in tasks.select("offset").collect()}
    processed = [r["offset"] for r in rows]
    # AT_LEAST_ONCE: every produced offset processed (exactly once here —
    # no crash in this run, so no duplicates either)
    assert set(processed) == produced
    assert len(processed) == len(produced)
    # PROCESS_ORDERING: no offset regression within any key
    assert not any(r["regressed"] for r in rows)
    # per-key sequence strictly follows offset order via prev_offset chain
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r)
    for key, rs in by_key.items():
        offs = [r["offset"] for r in rs]
        assert offs == sorted(offs), f"key {key} out of order"


def test_streaming_quota_cm_guarantees(spark, stream_parts, tmp_path):
    path, schema, tasks = stream_parts
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    )
    window_ms = 86_400_000  # 1-day windows: matches the batch T6 fixture
    rows = _run(
        streaming_quota(stream, quota_per_window=5, window_ms=window_ms),
        tmp_path,
        "quota",
    )
    assert len(rows) == tasks.count(), "every task gets a verdict"

    # CM guarantee: estimate >= true running count at that point; with
    # per-partition sketches and these key cardinalities collisions are
    # rare but legal — the invariant is one-sided
    true_counts = {
        (r["key"], r["w"]): r["n"]
        for r in (
            tasks.groupBy(
                "key",
                (F.floor(F.col("meta_timestamp_millis") / window_ms)).alias("w"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    final_est: dict[tuple, int] = {}
    for r in rows:
        final_est[r["key"]] = max(final_est.get(r["key"], 0), r["estimate"])
    # keys whose max true in-window count clears the quota must be shaped
    # at least once (estimate can only overshoot)
    max_true = {}
    for (k, _w), n in true_counts.items():
        max_true[k] = max(max_true.get(k, 0), n)
    shaped_keys = {r["key"] for r in rows if r["quota_verdict"] == "shape"}
    for k, n in max_true.items():
        if n >= 5:
            assert k in shaped_keys, f"key {k} with count {n} escaped shaping"


def test_quota_two_window_catches_boundary_straddling_burst(spark, tmp_path):
    """WindowedKeyStat.java:74-111 semantics: the rate estimate spans
    TWO rotating windows, so a burst of 2×(quota-1) events straddling a
    window boundary is shaped even though each tumbling window alone
    stays under quota. Also: a late row from the previous window must
    update the previous sketch, never wipe the active one."""
    import pandas as pd

    window_ms = 10_000
    quota = 8
    rows_spec = []
    off = 0
    # burst key: 7 events at the end of window 0, 7 at the start of
    # window 1 (7 < quota per window; 14 >= quota across the boundary)
    for i in range(7):
        rows_spec.append(("burst", off, 9_000 + i))
        off += 1
    for i in range(7):
        rows_spec.append(("burst", off, 10_100 + i))
        off += 1
    # a late row (window 0 timestamp) arriving after window 1 opened:
    # must not reset window 1's counts
    rows_spec.append(("burst", off, 9_999))
    off += 1
    # quiet key: 2 events per window, never shaped
    for ts in (1_000, 11_000):
        rows_spec.append(("quiet", off, ts))
        off += 1

    pdf = pd.DataFrame(
        [(0, k, o, ts) for k, o, ts in rows_spec],
        columns=["partition", "key", "offset", "meta_timestamp_millis"],
    )
    src = tmp_path / "burst-src"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = _run(
        streaming_quota(stream, quota_per_window=quota, window_ms=window_ms),
        tmp_path,
        "quota-straddle",
    )
    by_offset = {r["offset"]: r for r in out}
    # tumbling check would pass every event (7 < 8 per window); the
    # 2-window estimate reaches quota inside window 1
    burst_verdicts = [by_offset[o]["quota_verdict"] for o in range(14)]
    assert "shape" in burst_verdicts[7:], "straddling burst escaped shaping"
    assert all(v == "process" for v in burst_verdicts[:7]), "window 0 under quota"
    # the late row adds to the *previous* window: estimate accounts for
    # all 15 burst events (8 prev + 7 cur), and window 1's sketch
    # survives (no backwards rotation)
    late = by_offset[14]
    assert late["estimate"] == 15
    assert late["quota_verdict"] == "shape"
    # quiet key never shaped
    assert all(
        r["quota_verdict"] == "process" for r in out if r["key"] == "quiet"
    )


def test_quota_extremes(spark, stream_parts, tmp_path):
    path, schema, tasks = stream_parts
    stream = spark.readStream.schema(schema).parquet(path)
    rows = _run(
        streaming_quota(stream, quota_per_window=1, window_ms=86_400_000),
        tmp_path,
        "quota-all",
    )
    assert all(r["quota_verdict"] == "shape" for r in rows), "quota=1 shapes all"
    rows = _run(
        streaming_quota(stream, quota_per_window=10**9, window_ms=86_400_000),
        tmp_path,
        "quota-none",
    )
    assert all(r["quota_verdict"] == "process" for r in rows), "huge quota shapes none"


def test_streaming_heavy_hitters_alert_once_no_misses(spark, stream_parts, tmp_path):
    """Streaming heavy-hitter alerts: every key whose true stream
    count reaches the threshold must alert (CM never underestimates
    ⇒ no false negatives), each key alerts AT MOST ONCE across all
    microbatches (the alerted-set state), the tripping offset is the
    earliest possible (estimate at trip < threshold + slack), and
    with a wide sketch there are no collision false positives."""
    from decaton_spark.streaming import streaming_heavy_hitters

    path, schema, tasks = stream_parts
    threshold = 50
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    rows = _run(
        streaming_heavy_hitters(stream, threshold, width=4096),
        tmp_path,
        "hh",
    )
    true_counts = {
        r["key"]: r["cnt"]
        for r in tasks.groupBy("key").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    truly_heavy = {k for k, c in true_counts.items() if c >= threshold}
    alerted = [r["key"] for r in rows]
    # at-most-once per key
    assert len(alerted) == len(set(alerted))
    # no false negatives; wide sketch => no collision false positives
    assert set(alerted) == truly_heavy and truly_heavy
    # the estimate at trip time is exactly the threshold (conservative
    # update with no collisions counts exactly)
    for r in rows:
        assert r["estimate"] == threshold


def test_streaming_heavy_hitters_state_survives_restart(spark, sf_dir, tmp_path):
    """Chaos analog for the heavy-hitter alerts: stop mid-stream and
    restart on the same checkpoint. The sketch AND the alerted set
    must carry over — total counts keep accumulating (keys that only
    cross the threshold across the restart boundary still alert) and
    no key alerts twice."""
    from decaton_spark.envelope import events_to_tasks
    from decaton_spark.sources import load_table
    from decaton_spark.streaming import streaming_heavy_hitters

    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).drop("timestamp")
    schema = tasks.schema
    d = tmp_path / "hh-stream"
    d.mkdir()
    ckpt = str(tmp_path / "hh-ckpt")
    threshold = 40
    alerts: list = []

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        alerts.extend(rows_of(run_subscription(
            streaming_heavy_hitters(stream, threshold, width=4096), ckpt
        )[1]))

    # half the offsets, then "crash"; the halves interleave offsets so
    # most keys only become heavy with BOTH halves counted
    tasks.filter(F.col("offset") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run_once()
    n_before = len(alerts)
    tasks.filter(F.col("offset") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run_once()

    truly_heavy = {
        r["key"]
        for r in tasks.groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= threshold)
        .collect()
    }
    alerted = [r["key"] for r in alerts]
    assert len(alerted) == len(set(alerted)), "a key alerted twice across restart"
    assert set(alerted) == truly_heavy and truly_heavy
    # the restart boundary matters: some keys must have crossed only
    # in the second incarnation (counts accumulated across restart)
    assert 0 < n_before < len(alerts), (
        "fixture must exercise crossings in both incarnations"
    )


def test_streaming_lsh_candidates_equal_batch_pairs(spark, sf_dir, tmp_path):
    """The accumulating streaming LSH index must discover exactly the
    batch pipeline's candidate pair set, regardless of how the corpus
    is split into microbatches (here: 3 parquet files → 3 batches)."""
    import time

    from decaton_spark.functions.dedup import minhash_candidate_pairs
    from decaton_spark.sources import load_table
    from decaton_spark.streaming import streaming_lsh_candidates

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    d = tmp_path / "docs-stream"
    d.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
        time.sleep(1.1)  # FileStreamSource orders by modification time

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rows = _run(streaming_lsh_candidates(stream), tmp_path, "lsh-cand")
    got = {(r["id_a"], r["id_b"]) for r in rows}
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert got == want and want, (
        f"streaming index diverged: missing={want - got} extra={got - want}"
    )


def test_streaming_lsh_index_survives_restart(spark, sf_dir, tmp_path):
    """Restart chaos for the streaming LSH index: bucket membership
    must persist across a checkpoint restart — pairs spanning the
    restart boundary are still found, nothing is re-emitted for
    already-indexed docs, and the union equals the batch pair set."""
    import time

    from decaton_spark.functions.dedup import minhash_candidate_pairs
    from decaton_spark.sources import load_table
    from decaton_spark.streaming import streaming_lsh_candidates

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    d = tmp_path / "lsh-restart"
    d.mkdir()
    ckpt = str(tmp_path / "lsh-ckpt")
    pairs: list = []

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        pairs.extend(rows_of(run_subscription(streaming_lsh_candidates(stream), ckpt)[1]))

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run_once()
    n_before = len(pairs)
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run_once()

    got = {(r["id_a"], r["id_b"]) for r in pairs}
    want = {
        (r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(docs).collect()
    }
    assert got == want and want
    # cross-boundary pairs exist: the second incarnation must emit
    # pairs against members indexed before the restart
    cross = {
        (a, b) for a, b in got if (a % 2 == 0) != (b % 2 == 0)
    }
    assert cross, "no pair spans the restart boundary — fixture too weak"
    assert 0 < n_before < len(pairs)


def test_streaming_zscore_alerts_equal_batch(spark, sf_dir, tmp_path):
    """The streaming z-score monitor fires on EXACTLY the batch
    query's anomaly rows with bit-matched scores (integer S/Q state →
    the same one-sqrt-one-division the Catalyst expression performs),
    provided rows stream in event-time order — asserted over four
    time-ordered microbatch files."""
    import time

    from pyspark.sql import Window

    from decaton_spark.queries import _ALL_QUERIES
    from decaton_spark.streaming import streaming_zscore_alerts

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    d = tmp_path / "zstream"
    d.mkdir()
    w = Window.orderBy("ts", "event_id")
    seq = ev.withColumn("rn", F.row_number().over(w))
    n = seq.count()
    step = (n + 3) // 4
    for i in range(4):
        (
            seq.filter((F.col("rn") > i * step) & (F.col("rn") <= (i + 1) * step))
            .drop("rn")
            .coalesce(1)
            .write.mode("append")
            .parquet(str(d))
        )
        time.sleep(1.1)  # FileStreamSource orders by modification time

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rows = _run(
        streaming_zscore_alerts(stream, threshold=2.0, n=10),
        tmp_path,
        "zscore_alerts",
    )
    got = {(r["event_id"], r["user_id"]): r["zscore"] for r in rows}

    batch = _ALL_QUERIES["events_rolling_zscore"].fn(spark, sf_dir).collect()
    exp = {(r["event_id"], r["user_id"]): r["zscore"] for r in batch}
    assert set(got) == set(exp), (
        f"alert sets differ: extra={set(got) - set(exp)}, "
        f"missing={set(exp) - set(got)}"
    )
    for k, v in exp.items():
        assert abs(got[k] - v) < 1e-6  # batch value is round(z, 6)


def test_streaming_zscore_state_survives_restart(spark, sf_dir, tmp_path):
    """Chaos analog for the z-score monitor: stop mid-stream, restart
    on the same checkpoint. The per-user trailing windows must carry
    over — alerts whose 10-row window STRADDLES the restart boundary
    still fire, and the union of both incarnations' alerts equals the
    batch query's rows exactly."""
    import time

    from pyspark.sql import Window

    from decaton_spark.queries import _ALL_QUERIES
    from decaton_spark.streaming import streaming_zscore_alerts

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    w = Window.orderBy("ts", "event_id")
    seq = ev.withColumn("rn", F.row_number().over(w))
    n = seq.count()
    d = tmp_path / "z-stream"
    d.mkdir()
    ckpt = str(tmp_path / "z-ckpt")
    alerts: list = []

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        alerts.extend(rows_of(run_subscription(
            streaming_zscore_alerts(stream, threshold=2.0, n=10), ckpt
        )[1]))

    seq.filter(F.col("rn") <= n // 2).drop("rn").coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run_once()
    n_before = len(alerts)
    time.sleep(1.1)
    seq.filter(F.col("rn") > n // 2).drop("rn").coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run_once()

    got = {(r["event_id"], r["user_id"]) for r in alerts}
    exp = {
        (r["event_id"], r["user_id"])
        for r in _ALL_QUERIES["events_rolling_zscore"].fn(spark, sf_dir).collect()
    }
    assert got == exp and exp
    assert 0 < n_before < len(alerts), (
        "fixture must alert in both incarnations (windows straddle the restart)"
    )


def test_streaming_kmv_equals_batch(spark, sf_dir, tmp_path):
    """The LAST emitted estimate per group is bit-identical to the
    batch KMV estimator over the same rows, for an arbitrary 4-way
    microbatch split — the sketch-state equivalence contract
    (bottom-k of a stream == bottom-k of the whole)."""
    import time

    from decaton_spark.functions import sketches as sk
    from decaton_spark.streaming import streaming_kmv

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id"), "event_id"
    )
    d = tmp_path / "kmvstream"
    d.mkdir()
    n = ev.count()
    step = (n + 3) // 4
    for i in range(4):
        (
            ev.filter(
                (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
            )
            .drop("event_id")
            .coalesce(1)
            .write.mode("append")
            .parquet(str(d))
        )
        time.sleep(1.1)  # FileStreamSource orders by modification time

    stream = (
        spark.readStream.schema("event_type string, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _, batches = run_subscription(
        streaming_kmv(stream, "user_id", "event_type", k=8), tmp_path / "ckpt-kmv"
    )
    last = {}
    for _, rs in batches:
        for r in rs:
            last[r["event_type"]] = (r["n_in_sketch"], r["kmv_distinct_est"])

    batch = sk.kmv_distinct_estimate(
        sk.kmv_sketch(ev.drop("event_id"), "user_id", ["event_type"], k=8),
        ["event_type"],
        k=8,
    ).collect()
    exp = {r["event_type"]: (r["n_in_sketch"], r["kmv_distinct_est"]) for r in batch}
    assert last == exp


def test_streaming_histogram_equals_batch(spark, sf_dir, tmp_path):
    """The LAST emitted histogram readout per group equals the batch
    sketch over the same rows with the same bounds, for an arbitrary
    3-way microbatch split — the counter-merge equivalence contract."""
    import time

    from decaton_spark.functions import sketches as sk
    from decaton_spark.streaming.stateful import streaming_histogram_quantiles

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull()
    ).select("event_type", "value", "event_id")
    # calibrate per-group bounds to the data's true extremes so the
    # batch op (which learns them per group) computes the identical
    # quantizer
    bounds = {
        r["event_type"]: (int(r["mn"]), int(r["mx"]))
        for r in ev.groupBy("event_type").agg(
            F.min(F.round(F.col("value") * 100).cast("long")).alias("mn"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("mx"),
        ).collect()
    }

    d = tmp_path / "histstream"
    d.mkdir()
    n = ev.count()
    step = (n + 2) // 3
    for i in range(3):
        (
            ev.filter(
                (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
            )
            .drop("event_id")
            .coalesce(1)
            .write.mode("append")
            .parquet(str(d))
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _, batches = run_subscription(
        streaming_histogram_quantiles(stream, "value", "event_type", bounds=bounds),
        tmp_path / "ckpt-hist",
    )
    last = {}
    for _, rs in batches:
        for r in rs:
            last[r["event_type"]] = (
                r["n"], r["p50_centi"], r["p90_centi"], r["p99_centi"]
            )

    batch = sk.histogram_sketch_quantiles(ev.drop("event_id")).collect()
    exp = {
        r["event_type"]: (r["n"], r["p50_centi"], r["p90_centi"], r["p99_centi"])
        for r in batch
    }
    assert last == exp


def test_streaming_cusum_equals_batch(spark, sf_dir, tmp_path):
    """The LAST emitted chart state per group equals the batch CUSUM
    query over the same events with the same calibrated baselines, for
    an arbitrary time-ordered 3-way microbatch split (state = two
    BIGINTs; gaps synthesized in-processor)."""
    import time

    from decaton_spark.queries import EXTRA_QUERIES, HOUR_MS, QUERIES
    from decaton_spark.streaming.stateful import streaming_cusum

    ev = load_table(spark, "events", sf_dir)
    cb = (
        ev.select(
            "event_type",
            ((F.unix_millis("ts") / HOUR_MS).cast("long") * HOUR_MS).alias(
                "bucket_ms"
            ),
        )
        .groupBy("event_type", "bucket_ms")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    ).cache()
    baselines = {
        r["event_type"]: int(r["b"])
        for r in cb.groupBy("event_type")
        .agg(F.expr("CAST(sum(x) DIV count(1) AS BIGINT)").alias("b"))
        .collect()
    }

    # time-ordered thirds (bucket rows must arrive in order per group)
    bounds = cb.agg(F.min("bucket_ms").alias("lo"), F.max("bucket_ms").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    step = (hi - lo) // 3 + 1
    d = tmp_path / "cusumstream"
    d.mkdir()
    for i in range(3):
        (
            cb.filter(
                (F.col("bucket_ms") >= lo + i * step)
                & (F.col("bucket_ms") < lo + (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(str(d))
        )
        time.sleep(1.1)
    # a group with no baseline: its rows must emit nothing
    spark.createDataFrame(
        [("uncalibrated", lo, 5), ("uncalibrated", hi, 7)], cb.schema
    ).coalesce(1).write.mode("append").parquet(str(d))

    stream = (
        spark.readStream.schema("event_type string, bucket_ms long, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _, batches = run_subscription(
        streaming_cusum(stream, "bucket_ms", "x", "event_type", baselines=baselines),
        tmp_path / "ckpt-cusum",
    )
    last = {}
    for _, rs in batches:
        for r in rs:
            last[r["event_type"]] = (
                r["n_alarm_buckets"], r["first_alarm_bucket_ms"]
            )

    batch = (
        {**QUERIES, **EXTRA_QUERIES}["events_cusum_changepoints"]
        .fn(spark, sf_dir)
        .collect()
    )
    exp = {
        r["event_type"]: (r["n_alarm_buckets"], r["first_alarm_bucket_ms"])
        for r in batch
    }
    assert "uncalibrated" not in last
    assert last == exp


def test_streaming_ab_monitor_equals_batch(spark, sf_dir, tmp_path):
    """The LAST emitted A/B readout per group is identical to the batch
    Welch t-test over the same rows, for an arbitrary 3-way microbatch
    split — integer sufficient statistics make the fold order-free."""
    import time

    from decaton_spark.functions import stats as st
    from decaton_spark.streaming.stateful import streaming_ab_monitor

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .withColumn("arm", st.hash_arm("CAST(user_id AS STRING)"))
        .select(
            "event_type",
            "arm",
            F.round(F.col("value") * 100).cast("long").alias("v"),
            "event_id",
        )
    )
    # a constant metric: both arms zero-variance, so t/dof are NULL in
    # both forms instead of a division by zero failing the query
    const = spark.createDataFrame(
        [("zz_const", arm, 100, i) for i, arm in enumerate("AABB")], ev.schema
    )
    ev = ev.unionByName(const)
    d = tmp_path / "abstream"
    d.mkdir()
    n = ev.count()
    step = (n + 2) // 3
    for i in range(3):
        (
            ev.filter(
                (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
            )
            .drop("event_id")
            .coalesce(1)
            .write.mode("append")
            .parquet(str(d))
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("event_type string, arm string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _, batches = run_subscription(streaming_ab_monitor(stream), tmp_path / "ckpt-ab")
    last = {}
    for _, rs in batches:
        for r in rs:
            last[r["event_type"]] = (
                r["n_a"], r["n_b"], r["sum_centi_a"], r["sum_centi_b"],
                r["t_stat"], r["welch_dof"],
            )
    armed = ev.drop("event_id").withColumnRenamed("v", "value_c")
    batch = st.welch_ttest(
        armed.withColumn("value", F.col("value_c") / 100.0),
        group_cols=["event_type"],
        unit=100,
    ).collect()
    exp = {
        r["event_type"]: (
            r["n_a"], r["n_b"], r["sum_centi_a"], r["sum_centi_b"],
            r["t_stat"], r["welch_dof"],
        )
        for r in batch
    }
    assert last["zz_const"] == (2, 2, 200, 200, None, None)
    assert last == exp


def test_ab_monitor_zero_variance_yields_null_t(spark, tmp_path):
    """Both arms constant (zero variance), split over two microbatches:
    the streaming readout emits NULL t/dof like the batch welch_ttest,
    instead of a division by zero killing the query."""
    from decaton_spark.functions import stats as st
    from decaton_spark.streaming.stateful import streaming_ab_monitor

    schema = "event_type string, arm string, v long"
    d = tmp_path / "abconst"
    for part in (["A", "B"], ["A", "B"]):
        spark.createDataFrame([("g", arm, 100) for arm in part], schema).coalesce(
            1
        ).write.mode("append").parquet(str(d))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(d)
    )
    out = rows_of(run_subscription(streaming_ab_monitor(stream), tmp_path / "ckpt-abconst")[1])
    assert len(out) == 2
    first, last = out
    assert (first["n_a"], first["n_b"]) == (1, 1)
    assert first["t_stat"] is None and first["welch_dof"] is None
    assert (last["n_a"], last["n_b"], last["sum_centi_a"], last["sum_centi_b"]) == (
        2, 2, 200, 200,
    )
    assert last["t_stat"] is None and last["welch_dof"] is None
    (b,) = st.welch_ttest(
        spark.read.parquet(str(d)).withColumn("value", F.col("v") / 100.0),
        group_cols=["event_type"],
        unit=100,
    ).collect()
    assert b["t_stat"] is None and b["welch_dof"] is None


def test_streaming_psi_monitor_equals_batch(spark, sf_dir, tmp_path):
    """The LAST emitted PSI per group equals the batch events_psi_drift
    gauge over the same pre/post split, for an arbitrary 3-way
    microbatch split of the post-period stream — integer bucket counts
    make the fold order-free, and the emission arithmetic mirrors the
    batch operator's rounded-contribution sum."""
    import time

    from decaton_spark.queries import _ALL_QUERIES
    from decaton_spark.streaming.stateful import streaming_psi_monitor

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    mid_row = ev.agg(
        F.expr(
            "(CAST(min(unix_millis(ts)) AS BIGINT)"
            " + CAST(max(unix_millis(ts)) AS BIGINT)) DIV 2"
        ).alias("mid")
    ).collect()[0]
    mid = mid_row["mid"]
    bucketed = ev.select(
        "event_type",
        "event_id",
        (F.unix_millis("ts") >= F.lit(mid)).cast("int").alias("post"),
        F.least(
            F.expr("CAST(round(value * 100) AS BIGINT) DIV 2500"), F.lit(19)
        ).alias("bucket"),
    )
    # calibration: the pre-period histogram per group
    baselines = {}
    for r in (
        bucketed.filter(F.col("post") == 0)
        .groupBy("event_type", "bucket")
        .count()
        .collect()
    ):
        baselines.setdefault(r["event_type"], [0] * 20)[r["bucket"]] += r["count"]

    post = bucketed.filter(F.col("post") == 1).select(
        "event_type", "bucket", "event_id"
    )
    d = tmp_path / "psistream"
    d.mkdir()
    n = post.count()
    ids = [r["event_id"] for r in post.select("event_id").collect()]
    ids.sort()
    cut1, cut2 = ids[n // 3], ids[2 * n // 3]
    for lo, hi in ((None, cut1), (cut1, cut2), (cut2, None)):
        part = post
        if lo is not None:
            part = part.filter(F.col("event_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("event_id") < hi)
        part.drop("event_id").coalesce(1).write.mode("append").parquet(str(d))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("event_type string, bucket long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _, batches = run_subscription(
        streaming_psi_monitor(stream, baselines=baselines), tmp_path / "ckpt-psi"
    )
    last = {}
    for _, rs in batches:
        for r in rs:
            last[r["event_type"]] = (r["n_buckets"], r["psi_upm"])
    batch = {
        r["event_type"]: (r["n_buckets"], r["psi_upm"])
        for r in _ALL_QUERIES["events_psi_drift"].fn(spark, sf_dir).collect()
    }
    assert last == batch


def test_cm_bucket_memoization():
    """``_cm_buckets`` is an lru_cache shared by the quota and
    heavy-hitter sketches: a hot key costs one md5 set per worker
    lifetime, not one per row."""
    import hashlib

    from decaton_spark.streaming import stateful

    stateful._cm_buckets.cache_clear()
    keys = [f"k{i % 7}" for i in range(10_000)]
    for k in keys:
        stateful._cm_buckets(k, 4, 64)
    info = stateful._cm_buckets.cache_info()
    # 10k rows, 7 unique keys -> exactly 7 md5-computing misses
    assert info.misses == 7
    assert info.hits == 10_000 - 7
    # same indices as the direct computation
    for k in set(keys):
        expect = tuple(
            int(hashlib.md5(f"d{d}|{k}".encode()).hexdigest()[:8], 16) % 64
            for d in range(4)
        )
        assert stateful._cm_buckets(k, 4, 64) == expect
