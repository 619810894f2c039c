"""Query registry: every operator as a (Spark query, DuckDB oracle) pair.

This is the engine's correctness surface (SURVEY.md §2 inventory +
LLM-pipeline operators). Each entry is a callable ``(spark, sf_dir) ->
DataFrame`` built from the operator library, paired with ANSI SQL the
DuckDB oracle runs on the same parquet tables. Column names and value
arithmetic are aligned by construction:

- tumbling windows are epoch-aligned => oracle uses
  ``floor(epoch_ms/width)*width`` arithmetic, which equals
  ``unix_millis(F.window(ts, width).start)``;
- hashes use the cross-engine md5 fragments from ``functions.hashing``;
- money/quantity sums go through DECIMAL (exact) and cast to double at
  the end; float divisions happen once, in the same expression shape,
  and are rounded.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decaton_spark.envelope import events_to_tasks
from decaton_spark.functions import dedup as dd
from decaton_spark.functions import dsir
from decaton_spark.functions import quality as ql
from decaton_spark.functions import quantize as qt
from decaton_spark.functions import similarity as sim
from decaton_spark.functions import sketches as sk
from decaton_spark.functions import text as tx
from decaton_spark.functions.hashing import hex_to_long, md5_bucket, md5_long
from decaton_spark.operators import (
    Pipeline,
    apply_key_quota,
    batch_stats,
    compact_tasks,
    discard_invalid,
    ignore_keys,
    rate_limit,
    retry_tasks,
    split_due,
)
from decaton_spark.sources import load_table, spread_partitions
from decaton_spark.sources import fixture_fingerprint as sources_fixture_fingerprint

HOUR_MS = 3_600_000
DAY_MS = 86_400_000

#: shared oracle CTE: the driver's events table interpreted as the task
#: envelope exactly as envelope.events_to_tasks does.
TASKS_CTE = """
tasks AS (
    SELECT CAST(user_id AS VARCHAR)      AS key,
           props                          AS value,
           'events'                       AS topic,
           CAST(user_id % 8 AS INT)       AS "partition",
           event_id                       AS "offset",
           epoch_ms(ts)                   AS meta_timestamp_millis,
           CAST(0 AS BIGINT)              AS meta_retry_count,
           CAST(0 AS BIGINT)              AS meta_scheduled_time_millis,
           event_type,
           value                          AS event_value
    FROM events
)
"""


def _tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_to_tasks(load_table(spark, "events", sf_dir))


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None):
    # None is the deliberate "non-SQL-expressible, rows-only" marker;
    # an EMPTY string is always a registration bug — __spark_entry__'s
    # oracle_sql() filters on truthiness, so a falsy oracle would
    # silently route the query into the weaker rows-only path while
    # the pytest gate (which checks `is None`) would fail loudly on
    # duck.sql("") — the two gates must never disagree (self-review r7).
    # Explicit raise, not assert: `python -O` strips asserts, which
    # would silently re-open the falsy-oracle routing hole this guard
    # exists to close (ADVICE r7).
    if not (oracle is None or oracle.strip()):
        raise ValueError(f"{name}: empty oracle SQL")

    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Decaton operators (SURVEY §2.2-2.4) in batch-deterministic form
# ---------------------------------------------------------------------------


@register(
    "t1_compaction_windowed",
    f"""
    WITH {TASKS_CTE},
    ranked AS (
        SELECT key, "offset", meta_timestamp_millis, event_type,
               row_number() OVER (
                   PARTITION BY key, CAST(floor(meta_timestamp_millis / {HOUR_MS}) AS BIGINT)
                   ORDER BY meta_timestamp_millis DESC, "offset" DESC) AS rn
        FROM tasks)
    SELECT key, "offset", meta_timestamp_millis, event_type
    FROM ranked WHERE rn = 1
    """,
)
def t1_compaction_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 task compaction: last-wins survivor per (key, 1h linger window).

    Reference: CompactionProcessor.process()
    (processor/.../processors/CompactionProcessor.java:184-227).
    """
    tasks = _tasks(spark, sf_dir)
    out = compact_tasks(tasks, linger="1 hour")
    return out.select("key", "offset", "meta_timestamp_millis", "event_type")


@register(
    "t1_compaction_global",
    f"""
    WITH {TASKS_CTE},
    ranked AS (
        SELECT key, "offset", meta_timestamp_millis,
               row_number() OVER (PARTITION BY key
                   ORDER BY meta_timestamp_millis DESC, "offset" DESC) AS rn
        FROM tasks)
    SELECT key, "offset", meta_timestamp_millis FROM ranked WHERE rn = 1
    """,
)
def t1_compaction_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 degenerate form: one survivor per key (linger = ∞)."""
    tasks = _tasks(spark, sf_dir)
    out = compact_tasks(tasks, linger=None)
    return out.select("key", "offset", "meta_timestamp_millis")


@register(
    "f1_ignore_keys",
    f"""
    WITH {TASKS_CTE}
    SELECT event_type, count(*) AS n
    FROM tasks WHERE key NOT IN ('1', '2', '3')
    GROUP BY event_type
    """,
)
def f1_ignore_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 key blocklist (BlacklistedKeysFilter.java:38-57)."""
    tasks = _tasks(spark, sf_dir)
    return (
        ignore_keys(tasks, ["1", "2", "3"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "f2_discard_invalid",
    f"""
    WITH {TASKS_CTE}
    SELECT count(*) AS n_valid,
           CAST(sum(CAST(value->>'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM tasks WHERE json_valid(value)
    """,
)
def f2_discard_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 invalid-task discard + typed payload extraction
    (ProcessPipeline.java:76-91, DefaultTaskExtractor.java:40-77)."""
    tasks = _tasks(spark, sf_dir)
    parsed = discard_invalid(tasks, "value", "k BIGINT")
    return parsed.agg(
        F.count(F.lit(1)).alias("n_valid"),
        F.sum(F.col("payload.k")).alias("sum_k"),
    )


@register(
    "t2_batching",
    f"""
    WITH {TASKS_CTE},
    pos AS (
        SELECT key,
               CAST(floor(meta_timestamp_millis / {DAY_MS}) AS BIGINT) * {DAY_MS} AS linger_window_start,
               "offset",
               row_number() OVER (
                   PARTITION BY key, CAST(floor(meta_timestamp_millis / {DAY_MS}) AS BIGINT)
                   ORDER BY "offset") - 1 AS p
        FROM tasks)
    SELECT key, linger_window_start,
           CAST(floor(p / 5) AS BIGINT) AS batch_seq,
           count(*) AS batch_size,
           min("offset") AS first_offset,
           max("offset") AS last_offset
    FROM pos GROUP BY key, linger_window_start, CAST(floor(p / 5) AS BIGINT)
    """,
)
def t2_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 size+time batching (BatchingProcessor.java:126-163):
    capacity=5 within 1-day linger windows."""
    tasks = _tasks(spark, sf_dir)
    return batch_stats(tasks, capacity=5, linger="1 day")


@register(
    "t3_retry_queueing",
    f"""
    WITH {TASKS_CTE}
    SELECT key, "offset",
           meta_retry_count + 1 AS meta_retry_count,
           meta_timestamp_millis + 60000 AS meta_scheduled_time_millis,
           topic || '-retry' AS topic
    FROM tasks WHERE event_type = 'error'
    """,
)
def t3_retry_queueing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 retry queueing (DecatonTaskRetryQueueingProcessor.java:61-112):
    failed tasks re-produced to <topic>-retry with retry_count+1 and
    scheduled_time = now + backoff (60 s)."""
    tasks = _tasks(spark, sf_dir)
    out = retry_tasks(tasks, F.col("event_type") == "error", backoff_millis=60_000)
    return out.select(
        "key", "offset", "meta_retry_count", "meta_scheduled_time_millis", "topic"
    )


AS_OF_MS = 1_704_412_800_000  # 2024-01-05T00:00:00Z — mid-fixture


@register(
    "t4_scheduled_due",
    f"""
    WITH {TASKS_CTE}
    SELECT key, "offset", meta_timestamp_millis + 60000 AS meta_scheduled_time_millis
    FROM tasks
    WHERE event_type = 'error' AND meta_timestamp_millis + 60000 <= {AS_OF_MS}
    """,
)
def t4_scheduled_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 scheduled execution (ExecutionScheduler.java:55-90): of the
    retry stream, the tasks due at a fixed processing time."""
    tasks = _tasks(spark, sf_dir)
    retried = retry_tasks(tasks, F.col("event_type") == "error", backoff_millis=60_000)
    due, _pending = split_due(retried, AS_OF_MS)
    return due.select("key", "offset", "meta_scheduled_time_millis")


@register(
    "t5_rate_limit",
    f"""
    WITH {TASKS_CTE}
    SELECT "partition", "offset",
           row_number() OVER (
               PARTITION BY "partition", CAST(floor(meta_timestamp_millis / {HOUR_MS}) AS BIGINT)
               ORDER BY "offset") <= 2 AS admitted
    FROM tasks
    """,
)
def t5_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 rate limiting (AveragingRateLimiter.java:36-124): 2 permits
    per partition per hour bucket; surplus rows deferred."""
    tasks = _tasks(spark, sf_dir)
    out = rate_limit(tasks, 2, bucket_millis=HOUR_MS)
    return out.select("partition", "offset", "admitted")


@register(
    "t6_per_key_quota",
    f"""
    WITH {TASKS_CTE}
    SELECT key, "offset",
           CASE WHEN count(*) OVER (
                    PARTITION BY key, CAST(floor(meta_timestamp_millis / {DAY_MS}) AS BIGINT)
                ) >= 5 THEN 'shape' ELSE 'process' END AS quota_verdict
    FROM tasks
    """,
)
def t6_per_key_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 per-key quota (PerKeyQuotaManager.java:112-135): keys at
    ≥5 tasks/day are shaped; observation window = 1 day tumbling."""
    tasks = _tasks(spark, sf_dir)
    out = apply_key_quota(
        tasks, 5 / 86_400, ts_col="timestamp", window_duration="1 day"
    )
    return out.select("key", "offset", "quota_verdict")


@register(
    "p1_sub_partitioner",
    f"""
    WITH {TASKS_CTE}
    SELECT {md5_bucket('key', 32)} AS sub_partition, count(*) AS n
    FROM tasks GROUP BY 1
    """,
)
def p1_sub_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 key-hash sub-partitioning (DefaultSubPartitioner.java:40-57):
    deterministic md5 router (prod path uses xxhash64/HashPartitioning;
    md5 form keeps the oracle bit-identical)."""
    tasks = _tasks(spark, sf_dir)
    return (
        tasks.withColumn("sub_partition", F.expr(md5_bucket("key", 32)))
        .groupBy("sub_partition")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "s8_envelope",
    f"""
    WITH {TASKS_CTE}
    SELECT key, "partition", "offset", meta_timestamp_millis, value
    FROM tasks WHERE "offset" < 100
    """,
)
def s8_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 task extraction / envelope decode (DefaultTaskExtractor.java:40-77)."""
    tasks = _tasks(spark, sf_dir)
    return tasks.filter(F.col("offset") < 100).select(
        "key", "partition", "offset", "meta_timestamp_millis", "value"
    )


@register(
    "s8_legacy_envelope",
    f"""
    WITH {TASKS_CTE}
    SELECT CASE CAST("offset" % 3 AS INT) WHEN 0 THEN 'header'
                WHEN 1 THEN 'legacy' ELSE 'raw' END AS task_format,
           CASE CAST("offset" % 3 AS INT) WHEN 0 THEN 'app-header'
                WHEN 1 THEN 'app-legacy' ELSE NULL END AS app_id,
           count(*) AS n,
           CAST(sum(CASE CAST("offset" % 3 AS INT) WHEN 0 THEN 7
                    WHEN 1 THEN 3 ELSE 0 END) AS BIGINT) AS sum_retry,
           CAST(sum(meta_timestamp_millis) AS BIGINT) AS sum_meta_ts
    FROM tasks GROUP BY 1, 2
    """,
)
def s8_legacy_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 fallback chain (DefaultTaskExtractor.java:40-77 + legacy
    DecatonTaskRequest, decaton_internal.proto:13-18): three producer
    cohorts — dt_meta header, legacy envelope-in-value, raw — are
    re-extracted by the unified extractor; metadata must round-trip."""
    from decaton_spark.envelope import (
        extract_task,
        metadata_to_header_json,
        wrap_legacy_envelope,
    )

    tasks = _tasks(spark, sf_dir)
    common = ["key", "value", "topic", "partition", "offset", "timestamp", "headers"]
    no_headers = F.array().cast("array<struct<key:string,value:binary>>")

    hdr = metadata_to_header_json(
        tasks.filter(F.col("offset") % 3 == 0)
        .withColumn("meta_source_application_id", F.lit("app-header"))
        .withColumn("meta_retry_count", F.lit(7).cast("long"))
    ).select(*common)
    leg = wrap_legacy_envelope(
        tasks.filter(F.col("offset") % 3 == 1)
        .withColumn("meta_source_application_id", F.lit("app-legacy"))
        .withColumn("meta_retry_count", F.lit(3).cast("long"))
    ).select(*common)
    raw = (
        tasks.filter(F.col("offset") % 3 == 2)
        .withColumn("headers", no_headers)
        .select(*common)
    )

    wire = hdr.unionByName(leg).unionByName(raw)  # metadata only on the wire
    out = extract_task(wire)
    return out.groupBy(
        "task_format", F.col("meta_source_application_id").alias("app_id")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("meta_retry_count").alias("sum_retry"),
        F.sum("meta_timestamp_millis").alias("sum_meta_ts"),
    )


def _pb_oracle() -> str:
    from decaton_spark import protocol as pb

    meta_hex = pb.task_metadata_hex(
        timestamp_millis="meta_timestamp_millis",
        source_application_id="'app-pb'",
        source_instance_id="concat('i-', pcol)",
        retry_count="rc",
        scheduled_time_millis="sched",
    )
    # sched exercises the full-int64 varint: INT64_MIN-adjacent for
    # offset%4==0, small negatives (-3..-1), the omitted zero (offset
    # 3), and small positives — byte-exact in both engines.
    sched_sql = (
        'CASE WHEN "offset" % 4 = 0 '
        'THEN -9223372036854775807 - 1 + "offset" '
        'ELSE "offset" - 3 END'
    )
    return f"""
    WITH {TASKS_CTE},
    base AS (
        SELECT key, "offset", value, meta_timestamp_millis,
               CAST("partition" AS VARCHAR) AS pcol,
               CAST("offset" % 5 AS BIGINT) AS rc,
               CAST({sched_sql} AS BIGINT) AS sched
        FROM tasks WHERE "offset" < 100),
    enc AS (
        SELECT *, {meta_hex} AS meta_hex FROM base)
    SELECT key, "offset",
           {pb.task_request_hex("meta_hex", "value")} AS wire_hex,
           meta_timestamp_millis AS pb_timestamp_millis,
           'app-pb' AS pb_source_application_id,
           concat('i-', pcol) AS pb_source_instance_id,
           rc AS pb_retry_count,
           sched AS pb_scheduled_time_millis,
           value AS task_json
    FROM enc
    """


@register("s8_protobuf_envelope", _pb_oracle())
def s8_protobuf_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 protobuf wire format (decaton.proto:9-25,
    decaton_internal.proto:13-18, ProtocolBuffersDeserializer.java):
    metadata + task encoded to real protobuf bytes by the cross-engine
    SQL encoder, decoded back by the dependency-free wire parser
    (Arrow-batched mapInPandas). The oracle replays the encoder hex
    byte-for-byte and asserts the decode is the identity — so both
    directions of the codec are driver-verified."""
    from decaton_spark import protocol as pb

    tasks = (
        _tasks(spark, sf_dir)
        .filter(F.col("offset") < 100)
        .withColumn("pcol", F.col("partition").cast("string"))
        .withColumn("rc", (F.col("offset") % 5).cast("long"))
        .withColumn(
            "sched",
            F.expr(
                "CASE WHEN offset % 4 = 0 "
                "THEN -9223372036854775807 - 1 + offset "
                "ELSE offset - 3 END"
            ).cast("long"),
        )
    )
    meta_hex = pb.task_metadata_hex(
        timestamp_millis="meta_timestamp_millis",
        source_application_id="'app-pb'",
        source_instance_id="concat('i-', pcol)",
        retry_count="rc",
        scheduled_time_millis="sched",
    )
    # meta_hex staged as a column: the submessage length varint
    # references the column name instead of re-inlining the whole
    # metadata expression tree (codegen compile time, see
    # pb_submessage_field_hex).
    wire = (
        tasks.withColumn("meta_hex", F.expr(meta_hex))
        .select(
            "key",
            "offset",
            F.expr(pb.task_request_hex("meta_hex", "value")).alias("wire_hex"),
        )
        .withColumn("wire", F.unhex(F.col("wire_hex")))
    )
    decoded = pb.decode_task_requests(wire, "wire")
    return decoded.select(
        "key", "offset", "wire_hex",
        "pb_timestamp_millis", "pb_source_application_id",
        "pb_source_instance_id", "pb_retry_count",
        "pb_scheduled_time_millis",
        F.col("serialized_task").cast("string").alias("task_json"),
    )


@register(
    "t13_pipeline_chain",
    f"""
    WITH {TASKS_CTE},
    filtered AS (SELECT * FROM tasks WHERE key NOT IN ('0') AND json_valid(value)),
    ranked AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY key
                   ORDER BY meta_timestamp_millis DESC, "offset" DESC) AS rn
        FROM filtered)
    SELECT event_type, count(*) AS n FROM ranked WHERE rn = 1 GROUP BY event_type
    """,
)
def t13_pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 processor chaining (ProcessorsBuilder.thenProcess,
    ProcessorsBuilder.java:110-141): blocklist → validate → compact →
    aggregate, composed as one Catalyst plan."""
    pipe = (
        Pipeline()
        .then_process(lambda df: ignore_keys(df, ["0"]), "ignore_keys")
        .then_process(lambda df: discard_invalid(df, "value", "k BIGINT"), "validate")
        .then_process(lambda df: compact_tasks(df, linger=None), "compact")
    )
    out = pipe.apply(_tasks(spark, sf_dir))
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "cm_sketch_quota",
    None,  # filled in below (needs generated per-depth fragments)
)
def cm_sketch_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6's estimator: Count-Min sketch (KeyCounter.java:76-151) as a
    DataFrame; per-key point estimates (min over depth).

    Built from the per-key partial count, not the raw rows: a sketch
    over (key, count) partials is bit-identical to one over the rows
    (CM buckets just add — see ``cm_sketch_table.weight_col``), and it
    turns two raw scans (sketch + distinct keys) plus per-ROW md5
    hashing into ONE scan, one key shuffle, and per-KEY hashing — the
    difference between O(rows·depth) and O(keys·depth) hash work at
    100 TB."""
    tasks = _tasks(spark, sf_dir)
    counts = tasks.groupBy("key").agg(F.count(F.lit(1)).alias("w"))
    sketch = sk.cm_sketch_table(counts, "key", depth=4, width=64, weight_col="w")
    return sk.cm_estimate(sketch, counts.select("key"), "key", depth=4, width=64)


def _cm_oracle() -> str:
    probes = "\n        UNION ALL ".join(
        f"SELECT {d} AS depth, {md5_bucket('key', 64, salt=f'd{d}|')} AS bucket, key FROM keys"
        for d in range(4)
    )
    return f"""
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    probes AS ({probes}),
    sketch AS (SELECT depth, bucket, count(*) AS cnt FROM probes GROUP BY depth, bucket),
    dk AS (SELECT DISTINCT depth, bucket, key FROM probes)
    SELECT dk.key, CAST(min(sketch.cnt) AS BIGINT) AS estimate
    FROM dk JOIN sketch USING (depth, bucket) GROUP BY dk.key
    """


QUERIES["cm_sketch_quota"] = QuerySpec(QUERIES["cm_sketch_quota"].fn, _cm_oracle())


# ---------------------------------------------------------------------------
# Relational surface (free from Spark SQL — SURVEY §2.5) — TPC-H-ish
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(24,6)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q3_top_orders",
    """
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d')
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority style 3-way join; customer dim broadcast."""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_volume",
    """
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY n.n_name
    """,
)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume style 6-way join; all dims broadcast."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(24,6)")
    return li.filter((F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 24)).agg(
        F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n")
    )


@register(
    "events_user_value",
    """
    SELECT CAST(user_id AS VARCHAR) AS key,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           count(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def events_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "customer_balance_quartiles",
    """
    WITH q AS (
        SELECT c_nationkey, c_acctbal,
               ntile(4) OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer)
    SELECT c_nationkey, CAST(quartile AS INTEGER) AS quartile,
           count(*) AS n_customers,
           CAST(min(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(max(c_acctbal) AS DOUBLE) AS max_bal
    FROM q GROUP BY c_nationkey, quartile
    """,
)
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance quartiles via ntile() — the bucketed
    ranking window family (deciles/quartiles for monitoring dashboards
    and stratified sampling). Partitioned by nation so each sort is
    bounded by one nation's customers — never a global single-partition
    sort; ties broken by custkey so bucket assignment is deterministic
    and cross-engine identical."""
    c = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").cast("double").alias("min_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
        )
    )


@register(
    "events_value_winsorized",
    """
    WITH src AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    q AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM src GROUP BY event_type
    ),
    j AS (
        SELECT s.event_type, value, p01, p99,
               CAST(round(least(greatest(value, p01), p99) * 100) AS BIGINT) AS cl
        FROM src s JOIN q USING (event_type)
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(round(min(p01) * 1000000) AS BIGINT) AS p01_micro,
           CAST(round(min(p99) * 1000000) AS BIGINT) AS p99_micro,
           CAST((2 * sum(cl) + count(*)) // (2 * count(*))
                - (CASE WHEN (2 * sum(cl) + count(*)) % (2 * count(*)) <> 0
                         AND (2 * sum(cl) + count(*)) < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS mean_centi
    FROM j GROUP BY event_type
    """,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping) of the event value per
    event type — the feature-engineering step that tames outliers
    before statistics/training: exact interpolated p01/p99 per group,
    values clipped into [p01, p99], clip counts and the clipped mean
    reported per group.

    Cross-engine exactness: both engines interpolate R-7 percentiles
    on identical doubles; clipped values go to centi-scaled BIGINTs
    before summing (order-independent integer sums), the mean comes
    out as the exact integer form floor((2S + n) / (2n)) — written as
    a sign-safe trunc-plus-correction so both engines agree even when
    a group's clipped mean is negative — and the
    percentile bounds are reported as scale-0-rounded micro-units —
    no fractional rounding of a ratio anywhere.

    100 TB shape: one partial-agg percentile pass per bounded group
    set (event types), the quantile table broadcast back, then one
    partial-agg summary — two scans, zero wide shuffles of the fact.
    For unbounded group cardinality swap ``percentile`` for
    ``percentile_approx`` at the same call site."""
    src = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    q = src.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    j = src.join(F.broadcast(q), "event_type").withColumn(
        "cl",
        F.round(
            F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")) * 100
        ).cast("long"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("p01"), 1).otherwise(0)).alias("n_low"),
        F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0)).alias("n_high"),
        F.round(F.min("p01") * 1000000).cast("long").alias("p01_micro"),
        F.round(F.min("p99") * 1000000).cast("long").alias("p99_micro"),
        F.expr(
            # sign-safe FLOOR((2S+n)/(2n)) in pure integer arithmetic:
            # both engines' integer division truncates toward zero, so
            # subtract 1 when the (negative) dividend leaves a remainder
            "(2 * sum(cl) + count(1)) div (2 * count(1))"
            " - (CASE WHEN (2 * sum(cl) + count(1)) % (2 * count(1)) != 0"
            "           AND (2 * sum(cl) + count(1)) < 0 THEN 1 ELSE 0 END)"
        ).alias("mean_centi"),
    )


@register(
    "events_expectations",
    """
    WITH aug AS (
        SELECT event_id,
               CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value,
               CASE WHEN event_id % 17 = 0 THEN 'bogus' ELSE event_type END AS event_type,
               CASE WHEN event_id % 19 = 0 THEN -1 ELSE user_id END AS user_id
        FROM events
    ),
    tagged AS (
        SELECT *,
               (CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS v_value,
               (CASE WHEN event_type IN ('click','view','purchase','signup','error')
                     THEN 0 ELSE 1 END) AS v_type,
               (CASE WHEN user_id >= 0 THEN 0 ELSE 1 END) AS v_user
        FROM aug
    )
    SELECT 'value_non_negative' AS rule, CAST(sum(v_value) AS BIGINT) AS n_violations FROM tagged
    UNION ALL
    SELECT 'known_event_type', CAST(sum(v_type) AS BIGINT) FROM tagged
    UNION ALL
    SELECT 'user_id_non_negative', CAST(sum(v_user) AS BIGINT) FROM tagged
    UNION ALL
    SELECT '_rows_quarantined',
           CAST(sum(CASE WHEN v_value + v_type + v_user > 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM tagged
    UNION ALL
    SELECT '_rows_passed',
           CAST(sum(CASE WHEN v_value + v_type + v_user = 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM tagged
    """,
)
def events_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate
    (operators/expectations.apply_expectations): a three-rule battery
    over the event stream with deterministic corruption injected by
    event_id residue (nulled values, unknown types, negative users —
    the raw fixture is clean). Output is the monitoring frame: per-rule
    violation counts plus total passed/quarantined rows, all derived
    from ONE fused scan: ``with_violations`` tags each row in a single
    projection, ONE aggregate over the tagged frame computes every
    per-rule sum plus the pass/quarantine totals as partial-agg
    columns, and ``stack`` unpivots the 1-row result — the fact is
    scanned exactly once regardless of rule count. NULL predicates
    count as violations (an expectation must affirmatively hold).
    (``apply_expectations`` is the row-routing API over the same
    tagged projection — its pass/quarantine/stats contract is covered
    in tests/test_expectations.py; a monitoring-only consumer like
    this query skips the row outputs entirely.)"""
    from decaton_spark.operators.expectations import with_violations

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
        F.when(F.col("event_id") % 17 == 0, F.lit("bogus")).otherwise(
            F.col("event_type")
        ).alias("event_type"),
        F.when(F.col("event_id") % 19 == 0, F.lit(-1)).otherwise(
            F.col("user_id")
        ).alias("user_id"),
    )
    rules = {
        "value_non_negative": F.col("value") >= 0,
        "known_event_type": F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
        "user_id_non_negative": F.col("user_id") >= 0,
    }
    tagged = with_violations(ev, rules)
    aggs = [
        F.sum(F.array_contains("violations", name).cast("long")).alias(
            f"r{i}"
        )
        for i, name in enumerate(rules)
    ] + [
        F.sum((F.size("violations") > 0).cast("long")).alias("quarantined"),
        F.sum((F.size("violations") == 0).cast("long")).alias("passed"),
    ]
    one = tagged.agg(*aggs)
    stack_args = ", ".join(
        [f"'{name}', r{i}" for i, name in enumerate(rules)]
        + ["'_rows_quarantined', quarantined", "'_rows_passed', passed"]
    )
    return one.selectExpr(
        f"stack({len(rules) + 2}, {stack_args}) as (rule, n_violations)"
    )


@register(
    "events_rolling_zscore",
    """
    WITH x AS (
        SELECT event_id, user_id, ts,
               CAST(round(value * 100) AS BIGINT) AS xv
        FROM events WHERE value IS NOT NULL
    ),
    win AS (
        SELECT event_id, user_id, xv,
               count(*) OVER w AS n,
               CAST(sum(xv) OVER w AS BIGINT) AS s,
               CAST(sum(xv * xv) OVER w AS BIGINT) AS q
        FROM x
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           round((n * xv - s) / sqrt(n * q - s * s), 6) AS zscore
    FROM win
    WHERE n = 10 AND n * q - s * s > 0
      AND abs((n * xv - s) / sqrt(n * q - s * s)) >= 2.0
    """,
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over each user's event-value
    stream: a 10-row trailing window per user, flag |z| >= 2.0 against
    the window's own mean/stddev — the per-entity outlier monitor a
    metrics pipeline runs.

    Cross-engine determinism: the window aggregates run on
    centi-scaled BIGINTs (values are 2-decimal doubles), so DuckDB's
    segment-tree windowed sums and Spark's sequential frame
    accumulation produce IDENTICAL integers no matter the addition
    order; z = (n*x - S) / sqrt(n*Q - S^2) then derives from exact
    integers in both engines (one sqrt + one division on identical
    inputs), making round(...,6) safe per the established
    sqrt-continuous-score rule.

    100 TB shape: one shuffle on user_id, per-partition sort, a single
    WindowExec computing all three frame aggregates in one pass —
    zero-variance windows and warm-up rows (< 10 samples) are filtered
    before the division so no NaN/Inf ever materializes."""
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_id", "user_id", "ts",
            F.round(F.col("value") * 100).cast("long").alias("xv"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    win = ev.select(
        "event_id", "user_id", "xv",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("xv").over(w).alias("s"),
        F.sum(F.col("xv") * F.col("xv")).over(w).alias("q"),
    )
    den2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = (F.col("n") * F.col("xv") - F.col("s")) / F.sqrt(den2)
    return (
        win.filter((F.col("n") == 10) & (den2 > 0) & (F.abs(z) >= 2.0))
        .select("event_id", "user_id", F.round(z, 6).alias("zscore"))
    )


@register(
    "events_session_gaps",
    """
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events)
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_session_breaks
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def events_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap analysis per user via lag(): the max gap and the
    number of 30-minute session breaks — the window-function route to
    sessionization stats (w1_sessionize derives boundaries the same
    way; session_window() is the native streaming form). One hash
    exchange on user_id; the per-user sort is bounded by that user's
    events; gaps are exact epoch-microsecond integers."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum(
            F.when(F.col("gap_us") > 1_800_000_000, 1).otherwise(0)
        ).alias("n_session_breaks"),
    )


@register(
    "events_props_json",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS n_distinct_k,
           CAST(sum(CASE WHEN json_extract(props, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_field
    FROM events GROUP BY event_type
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured props column:
    ``from_json`` with an explicit DDL schema (never inference — one
    pass, typed nulls for absent fields) projects JSON fields into
    columns map-side; everything downstream is ordinary partial-agg
    relational work. The JSON parse is JVM Jackson inside codegen —
    no Python, no extra scan."""
    ev = load_table(spark, "events", sf_dir)
    j = F.from_json(F.col("props"), "k BIGINT, missing STRING")
    return (
        ev.select("event_type", j.alias("j"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("j.k").alias("sum_k"),
            F.countDistinct("j.k").alias("n_distinct_k"),
            F.sum(
                F.when(F.col("j.missing").isNull(), 1).otherwise(0)
            ).alias("n_missing_field"),
        )
    )


@register(
    "events_funnel",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    c AS (
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t0
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t1
        GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): each stage is the
    min event time strictly after the previous stage's, per user.
    Stage frames are per-user partial aggregations (|users| rows) and
    each refinement is an equi-join on user_id against the previous
    (shrinking) stage — never a self-join of raw events with
    inequality-only conditions. The final counts are three tiny
    aggregates."""
    ev = load_table(spark, "events", sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


@register(
    "events_conversion_latency",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    conv AS (
        SELECT e.user_id,
               epoch_us(min(e.ts)) - epoch_us(v.t0) AS lat_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t0
        GROUP BY e.user_id, v.t0)
    SELECT count(*) AS n_converted,
           round(quantile_cont(lat_us, 0.5), 6) AS p50_us,
           round(quantile_cont(lat_us, 0.9), 6) AS p90_us,
           CAST(max(lat_us) AS BIGINT) AS max_us
    FROM conv
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: first view -> first subsequent
    purchase per user, exact interpolated latency percentiles. Same
    shrinking-equi-join funnel shape; the latency is an exact integer
    epoch-microsecond subtraction on BOTH engines (DuckDB's
    date_diff counts boundary crossings over its nanosecond
    timestamps, which disagrees with any truncated-diff by 1 unit),
    aggregated once."""
    ev = load_table(spark, "events", sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t2"))
        .select(
            (F.unix_micros("t2") - F.unix_micros("t0")).alias("lat_us")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lat_us, 0.5)"), 6).alias("p50_us"),
        F.round(F.expr("percentile(lat_us, 0.9)"), 6).alias("p90_us"),
        F.max("lat_us").alias("max_us"),
    )


@register(
    "events_cohort_retention",
    """
    WITH weeks AS (
        SELECT user_id,
               CAST(floor(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7)
                    AS BIGINT) AS week_idx
        FROM events),
    firsts AS (SELECT user_id, min(week_idx) AS cohort_week FROM weeks GROUP BY user_id),
    activity AS (SELECT DISTINCT user_id, week_idx FROM weeks)
    SELECT f.cohort_week,
           CAST(a.week_idx - f.cohort_week AS BIGINT) AS week_offset,
           count(*) AS n_active_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in each later week they return. Week index is pure epoch-day
    arithmetic (floor(days/7)) — no calendar week-start semantics to
    disagree across engines. Plan: first-week per user and distinct
    (user, week) are both partial-aggregable; the cohort join is a
    user_id equi-join of two |users|-bounded frames; the final rollup
    groups a |users × active weeks| frame, far smaller than events."""
    ev = load_table(spark, "events", sf_dir)
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) / 7
    ).cast("long")
    weeks = ev.select("user_id", week.alias("week_idx"))
    firsts = weeks.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    activity = weeks.distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: dedup / text / similarity / multimodal
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dd.exact_dups(docs)


@register(
    "events_histogram_quantiles",
    """
    WITH hb AS (SELECT event_type AS grp,
                       CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v2
                FROM events WHERE value IS NOT NULL),
    hbnd AS (SELECT grp, min(v2) AS mn2, max(v2) AS mx2 FROM hb GROUP BY grp),
    hwb AS (SELECT hb.grp AS grp, mn2, mx2,
                   ((v2 - mn2) * 64) // (mx2 - mn2 + 1) AS b
            FROM hb JOIN hbnd ON hb.grp = hbnd.grp),
    hh AS (SELECT grp, mn2, mx2, b, CAST(count(*) AS BIGINT) AS c
           FROM hwb GROUP BY grp, mn2, mx2, b),
    hc AS (SELECT grp, b,
                  sum(c) OVER (PARTITION BY grp ORDER BY b
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(c) OVER (PARTITION BY grp) AS n,
                  mn2 + (b * (mx2 - mn2 + 1)) // 64 AS est2
           FROM hh)
    SELECT grp AS event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN est2 END)
                AS BIGINT) AS p50_centi,
           CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN est2 END)
                AS BIGINT) AS p90_centi,
           CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN est2 END)
                AS BIGINT) AS p99_centi
    FROM hc GROUP BY grp
    """,
)
def events_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram sketch quantiles
    (``sk.histogram_sketch_quantiles``): the mergeable bounded-memory
    rank estimator of the sketch family — ≤64 counters per group,
    map-side partial agg IS the sketch merge, quantile readout is the
    lower edge of the first bucket reaching ceil(q·n/100). Integer-
    exact end to end; error bounded by one bucket width."""
    return sk.histogram_sketch_quantiles(load_table(spark, "events", sf_dir))


def _cm_bucket_rows_sql(src: str, depth: int = 4, width: int = 64) -> str:
    """UNION ALL of per-depth (depth, bucket) rows for ``src`` rows
    exposing a VARCHAR ``k`` column — the oracle's copy of
    cm_sketch_table's layout."""
    return " UNION ALL ".join(
        f"SELECT {d} AS depth, {md5_bucket('k', width, salt=f'd{d}|')} AS bucket"
        f" FROM {src}"
        for d in range(depth)
    )


@register(
    "events_join_size_estimate",
    f"""
    WITH jha AS MATERIALIZED (
        SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_id % 2 = 0),
    jhb AS MATERIALIZED (
        SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_id % 2 = 1),
    ska AS (SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM ({_cm_bucket_rows_sql("jha")}) GROUP BY depth, bucket),
    skb AS (SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM ({_cm_bucket_rows_sql("jhb")}) GROUP BY depth, bucket),
    ip AS (
        SELECT ska.depth, CAST(sum(ska.cnt * skb.cnt) AS BIGINT) AS est
        FROM ska JOIN skb ON ska.depth = skb.depth AND ska.bucket = skb.bucket
        GROUP BY ska.depth),
    cmest AS (SELECT CAST(min(est) AS BIGINT) AS cm_estimate FROM ip),
    ca AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM jha GROUP BY k),
    cbb AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM jhb GROUP BY k),
    ex AS (SELECT CAST(COALESCE(sum(ca.c * cbb.c), 0) AS BIGINT) AS exact_pairs
           FROM ca JOIN cbb ON ca.k = cbb.k)
    SELECT exact_pairs, cm_estimate,
           ((cm_estimate - exact_pairs) * 1000) // exact_pairs
               AS overestimate_pml
    FROM ex, cmest
    """,
)
def events_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation (the AGMS/CM optimizer-stats
    classic): the inner product of two Count-Min sketches upper-bounds
    the equi-join cardinality of the streams they summarize — how an
    optimizer prices a join from depth×width counters instead of
    scanning either side. Both sketches reuse ``cm_sketch_table``;
    the estimate is min over depths of Σ a·b per bucket (exact
    integers); the exact join size rides along so the overestimate is
    measured, not assumed."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", F.col("user_id").cast("string").alias("k")
    )
    a = ev.filter(F.col("event_id") % 2 == 0).select("k")
    b = ev.filter(F.col("event_id") % 2 == 1).select("k")
    # ONE scan+aggregate per stream: the per-key count tables feed BOTH
    # the exact join size and the sketches (a CM sketch over partial
    # counts is bit-identical to one over the raw rows — buckets just
    # add), so the raw log is never re-scanned per consumer
    ca = (
        a.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    cb = (
        b.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    sa = sk.cm_sketch_table(ca, "k", weight_col="c")
    sb = sk.cm_sketch_table(cb, "k", weight_col="c")
    ip = (
        sa.alias("a")
        .join(F.broadcast(sb.alias("b")), ["depth", "bucket"])
        .groupBy("depth")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("est"))
    )
    cmest = ip.agg(F.min("est").cast("long").alias("cm_estimate"))
    exact = (
        ca.alias("x")
        .join(cb.alias("y"), "k")
        .agg(
            F.coalesce(F.sum(F.col("x.c") * F.col("y.c")), F.lit(0))
            .cast("long")
            .alias("exact_pairs")
        )
    )
    return exact.crossJoin(F.broadcast(cmest)).select(
        "exact_pairs",
        "cm_estimate",
        F.expr(
            "((cm_estimate - exact_pairs) * 1000) DIV exact_pairs"
        ).alias("overestimate_pml"),
    )


_BEH_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "users_behavior_similarity",
    f"""
    WITH bvec AS (
        SELECT user_id,
               {", ".join(f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS c_{t}" for t in _BEH_TYPES)}
        FROM events GROUP BY user_id),
    bq AS (SELECT * FROM bvec WHERE user_id < 8),
    bscored AS (
        SELECT q.user_id, c.user_id AS neighbor_user,
               round(
                 ({" + ".join(f"CAST(q.c_{t} AS DOUBLE) * c.c_{t}" for t in _BEH_TYPES)})
                 / (sqrt({" + ".join(f"CAST(q.c_{t} AS DOUBLE) * q.c_{t}" for t in _BEH_TYPES)})
                    * sqrt({" + ".join(f"CAST(c.c_{t} AS DOUBLE) * c.c_{t}" for t in _BEH_TYPES)})),
                 4) AS cosine
        FROM bvec c, bq q WHERE c.user_id <> q.user_id),
    branked3 AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY cosine DESC, neighbor_user) AS rank
        FROM bscored)
    SELECT user_id, rank, neighbor_user, cosine
    FROM branked3 WHERE rank <= 5
    """,
)
def users_behavior_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral user similarity: cosine over event-type count
    vectors — the audience-lookalike / account-cluster primitive, on
    the brute-force ANN plan (one partial-agg scan builds the
    vectors, seed users broadcast, candidates never shuffle, one
    top-k window). The dot/norm sums are FIXED-ORDER five-term
    expressions, identical in both engines — no fold needed."""
    ev = load_table(spark, "events", sf_dir)
    vec = ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"c_{t}")
            for t in _BEH_TYPES
        ]
    )
    q = vec.filter(F.col("user_id") < 8)
    qcols = [F.col(f"q.c_{t}") for t in _BEH_TYPES]
    ccols = [F.col(f"c.c_{t}") for t in _BEH_TYPES]

    def dot_expr(a, b):
        e = a[0].cast("double") * b[0]
        for x, y in zip(a[1:], b[1:]):
            e = e + x.cast("double") * y
        return e

    pairs = (
        vec.alias("c")
        .crossJoin(F.broadcast(q.alias("q")))
        .filter(F.col("c.user_id") != F.col("q.user_id"))
    )
    scored = pairs.select(
        F.col("q.user_id").alias("user_id"),
        F.col("c.user_id").alias("neighbor_user"),
        F.round(
            dot_expr(qcols, ccols)
            / (
                F.sqrt(dot_expr(qcols, qcols))
                * F.sqrt(dot_expr(ccols, ccols))
            ),
            4,
        ).alias("cosine"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_user")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("user_id", "rank", "neighbor_user", "cosine")
    )


_CUSUM_K, _CUSUM_H = 1, 20


@register(
    "events_cusum_changepoints",
    f"""
    WITH cb0 AS (
        SELECT event_type,
               (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS bucket_ms,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
    cgrid AS (
        SELECT event_type, unnest(range(mn, mx + {HOUR_MS}, {HOUR_MS}))
                   AS bucket_ms
        FROM (SELECT event_type, min(bucket_ms) AS mn, max(bucket_ms) AS mx
              FROM cb0 GROUP BY event_type)),
    cb AS (
        SELECT g.event_type AS event_type, g.bucket_ms AS bucket_ms,
               COALESCE(cb0.x, 0) AS x
        FROM cgrid g LEFT JOIN cb0
          ON cb0.event_type = g.event_type AND cb0.bucket_ms = g.bucket_ms),
    cbase AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS baseline
        FROM cb GROUP BY event_type),
    cser AS (
        SELECT cb.event_type AS event_type, n_buckets, baseline, bucket_ms,
               sum(x - baseline - {_CUSUM_K}) OVER w AS p
        FROM cb JOIN cbase ON cb.event_type = cbase.event_type
        WINDOW w AS (PARTITION BY cb.event_type ORDER BY bucket_ms
                     ROWS UNBOUNDED PRECEDING)),
    cs AS (
        SELECT event_type, n_buckets, baseline, bucket_ms,
               p - least(CAST(0 AS BIGINT),
                         min(p) OVER (PARTITION BY event_type ORDER BY bucket_ms
                                      ROWS UNBOUNDED PRECEDING)) AS s
        FROM cser)
    SELECT event_type, n_buckets, baseline,
           CAST(count(*) FILTER (WHERE s >= {_CUSUM_H}) AS BIGINT)
               AS n_alarm_buckets,
           CAST(min(bucket_ms) FILTER (WHERE s >= {_CUSUM_H}) AS BIGINT)
               AS first_alarm_bucket_ms
    FROM cs GROUP BY event_type, n_buckets, baseline
    """,
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the one-sided
    cumulative-sum control chart over hourly event counts —
    s ← max(0, s + x − baseline − k), alarm while s ≥ h — catching
    sustained rate shifts single-bucket thresholds miss.

    The recursive reset has the closed form
    ``sᵢ = Pᵢ − min(0, min_{{t≤i}} Pₜ)`` over prefix sums of
    (x − baseline − k), so the whole chart is plain window functions
    over each type's bounded hourly series — pure integers, no fold.
    (The first cut used a list_reduce fold; DuckDB 1.0's
    list_reduce + struct_pack rebinds the accumulator to
    partially-built fields mid-struct, silently corrupting any
    multi-field fold — the closed form sidesteps the quirk AND drops
    the collect entirely.) The hourly reduction is the only
    corpus-sized work (partial-agg groupBy); the hourly grid is
    densified (resample_gapfill pattern) because empty hours are
    exactly what a rate-drop chart must see."""
    ev = load_table(spark, "events", sf_dir)
    cb0 = (
        ev.select(
            "event_type",
            ((F.unix_millis("ts") / HOUR_MS).cast("long") * HOUR_MS).alias(
                "bucket_ms"
            ),
        )
        .groupBy("event_type", "bucket_ms")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    # densify: empty hours are exactly what a rate-DROP chart must see
    # (the resample_gapfill grid pattern — distributed sequence())
    grid = (
        cb0.groupBy("event_type")
        .agg(F.min("bucket_ms").alias("mn"), F.max("bucket_ms").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("mn"), F.col("mx"), F.lit(HOUR_MS).cast("long")
                )
            ).alias("bucket_ms"),
        )
    )
    cb = grid.join(cb0, ["event_type", "bucket_ms"], "left").select(
        "event_type",
        "bucket_ms",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    base = cb.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr("CAST(sum(x) DIV count(1) AS BIGINT)").alias("baseline"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ser = (
        cb.join(F.broadcast(base), "event_type")
        .withColumn(
            "p",
            F.sum(
                F.col("x") - F.col("baseline") - F.lit(_CUSUM_K)
            ).over(w),
        )
        .withColumn("mp", F.min("p").over(w))
        .withColumn("s", F.col("p") - F.least(F.lit(0).cast("long"), F.col("mp")))
    )
    alarmed = F.col("s") >= _CUSUM_H
    return ser.groupBy("event_type", "n_buckets", "baseline").agg(
        F.sum(F.when(alarmed, 1).otherwise(0)).cast("long").alias(
            "n_alarm_buckets"
        ),
        F.min(F.when(alarmed, F.col("bucket_ms"))).cast("long").alias(
            "first_alarm_bucket_ms"
        ),
    )


@register(
    "events_anomaly_mad",
    """
    WITH mev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    mmed AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM mev GROUP BY event_type),
    mdev AS (SELECT mev.event_type, value, med, abs(value - med) AS dev
             FROM mev JOIN mmed ON mev.event_type = mmed.event_type),
    mmad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
             FROM mdev GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(min(d.med) * 1000000) AS BIGINT) AS median_micro,
           CAST(round(min(m.mad) * 1000000) AS BIGINT) AS mad_micro,
           CAST(sum(CASE WHEN d.dev > 3.0 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM mdev d JOIN mmad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median absolute
    deviation (MAD) outlier flagging — the robust alternative to the
    rolling z-score (a few extreme points cannot drag the threshold,
    unlike mean/stddev). ``|x − median| > 3·1.4826·MAD`` is the
    standard normal-consistent cut.

    Two grouped percentile passes over a bounded group set, each
    broadcast back (the winsorize pattern) — two scans, zero wide
    shuffles of the fact; outputs snapped to exact micro-units."""
    src = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = src.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = src.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("med") * 1000000).cast("long").alias("median_micro"),
        F.round(F.min("mad") * 1000000).cast("long").alias("mad_micro"),
        F.sum(
            F.when(
                F.col("dev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )


#: keyword dictionaries over the fixture vocabulary — one definition
#: drives BOTH the Spark query and the generated oracle
_TOPIC_DICT = {
    "agg_ops": ["agg", "group", "sort", "window"],
    "io_ops": ["scan", "filter", "row", "column"],
    "join_ops": ["join", "merge", "hash", "key"],
    "stream_ops": ["stream", "batch", "spark", "query"],
}


def _topic_ctes() -> str:
    hit_cols = ",\n               ".join(
        "CAST(len(list_filter(string_split(text, ' '), "
        f"t -> list_contains({sorted(set(ws))!r}, t))) AS BIGINT) AS h_{n}".replace(
            "'", "'"
        )
        for n, ws in sorted(_TOPIC_DICT.items())
    )
    longs = "\n        UNION ALL ".join(
        f"SELECT doc_id, '{n}' AS topic, h_{n} AS topic_hits FROM tt_hits"
        for n in sorted(_TOPIC_DICT)
    )
    return f"""tt_hits AS MATERIALIZED (
        SELECT doc_id,
               {hit_cols}
        FROM documents),
    tt_long AS MATERIALIZED (
        {longs}),
    tt_tot AS (SELECT doc_id, CAST(sum(topic_hits) AS BIGINT) AS total_hits
               FROM tt_long GROUP BY doc_id),
    tt_best AS (
        SELECT doc_id, topic, topic_hits,
               row_number() OVER (PARTITION BY doc_id
                   ORDER BY topic_hits DESC, topic) AS rn
        FROM tt_long)"""


def _topic_oracle() -> str:
    return f"""
    WITH {_topic_ctes()}
    SELECT b.doc_id,
           CASE WHEN t.total_hits > 0 THEN b.topic END AS topic,
           CASE WHEN t.total_hits > 0 THEN b.topic_hits END AS topic_hits,
           t.total_hits
    FROM tt_best b JOIN tt_tot t ON b.doc_id = t.doc_id WHERE b.rn = 1
    """


@register("docs_topic_tag", _topic_oracle())
def docs_topic_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary topic tagging (``tx.topic_tag``): argmax keyword-hit
    topic per document — the no-classifier domain labeler feeding
    mixture/weighting stages. Entirely shuffle-free: inlined keyword
    literals + array filters + array_min argmax, one projection at
    scan parallelism."""
    return tx.topic_tag(load_table(spark, "documents", sf_dir), _TOPIC_DICT)


@register(
    "docs_mixture_by_topic",
    f"""
    WITH {{topic_ctes}},
    topic_docs AS MATERIALIZED (
        SELECT d.doc_id, d.text,
               COALESCE(CASE WHEN t.total_hits > 0 THEN b.topic END,
                        'untagged') AS lang
        FROM documents d
        JOIN (SELECT * FROM tt_best WHERE rn = 1) b ON d.doc_id = b.doc_id
        JOIN tt_tot t ON d.doc_id = t.doc_id),
    {{temp_ctes}}
    SELECT t.lang AS topic,
           CAST(t.cutoff AS BIGINT) AS cutoff,
           count(*) FILTER (WHERE d.hv < t.cutoff) AS n_docs_kept,
           CAST(coalesce(sum(d.n_tokens) FILTER (WHERE d.hv < t.cutoff), 0)
                AS BIGINT) AS tokens_kept
    FROM doc_tokens d JOIN thresh t USING (lang)
    GROUP BY t.lang, t.cutoff
    """.format(topic_ctes="PLACEHOLDER_TOPIC", temp_ctes="PLACEHOLDER_TEMP")
    .replace("PLACEHOLDER_TOPIC", "__TOPIC__")
    .replace("PLACEHOLDER_TEMP", "__TEMP__"),
)
def docs_mixture_by_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-conditioned temperature mixture: rebalance the corpus
    token budget across LEARNED domains (the dictionary topic tags,
    zero-hit docs in an 'untagged' bucket) with the same α = 1/2
    integer-exact machinery the language mixture uses — the
    domain-weighting composition a DoReMi-style pipeline runs when its
    domains come from a classifier rather than metadata. Single corpus
    scan feeds the tagger (carry-through columns, no self-join); the
    mixture adds one |topics|-row broadcast."""
    from decaton_spark.functions import sampling as smp

    docs = load_table(spark, "documents", sf_dir)
    # size-adaptive spread (guide §2): the dictionary tagger is
    # per-row text CPU ahead of the first exchange
    spread = spread_partitions(spark, docs)
    if spread:
        docs = docs.repartition(spread, "doc_id")
    tagged = tx.topic_tag(docs, _TOPIC_DICT, carry=("text",)).select(
        "doc_id",
        "text",
        F.coalesce(F.col("topic"), F.lit("untagged")).alias("lang"),
    )
    out = smp.temperature_mixture_summary(tagged, divisor=_TEMP_DIV)
    return out.withColumnRenamed("lang", "topic")


@register(
    "text_collocations_pmi",
    """
    WITH pt AS (SELECT string_split(text, ' ') AS t FROM documents),
    puni AS MATERIALIZED (
        SELECT u AS term, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS u FROM pt) GROUP BY u),
    ptot AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM puni),
    pbi AS (
        SELECT b.prev AS a, b.cur AS b, CAST(count(*) AS BIGINT) AS cab
        FROM (SELECT unnest(list_transform(range(1, len(t)),
                     i -> struct_pack(prev := t[i], cur := t[i + 1]))) AS b
              FROM pt)
        GROUP BY b.prev, b.cur HAVING count(*) >= 5),
    scored AS (
        SELECT a, b, cab,
               round(ln((CAST(cab AS DOUBLE) * tt)
                        / (CAST(ua.c AS DOUBLE) * ub.c)), 6) AS pmi
        FROM pbi
        JOIN puni ua ON pbi.a = ua.term
        JOIN puni ub ON pbi.b = ub.term, ptot)
    SELECT a, b, cab, pmi FROM (
        SELECT *, row_number() OVER (ORDER BY pmi DESC, a, b) AS rn
        FROM scored)
    WHERE rn <= 20
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent-token pairs by pointwise
    mutual information (min count 5) — the phrase detector that feeds
    tokenizer merge candidates and stop-phrase lists. One bigram
    explode + two broadcastable unigram joins; counts are exact ints,
    the single log is rounded (the tfidf float rule); the top-20 is
    a distributed TakeOrdered (no rank window anywhere — the sort
    key (pmi, a, b) is total, so the selected SET matches the
    oracle's row_number form exactly)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    uni = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    ).localCheckpoint(eager=False)  # 3 consumers: two broadcasts + total
    tot = uni.agg(F.sum(F.col("c").cast("decimal(28,0)")).cast("double").alias("tt"))
    # shared bigram constructor (arrays_zip over offset slices — see
    # tx.bigram_pairs for the rewrite rationale and equivalence pin)
    bigr = tx.bigram_pairs("text")
    bi = (
        docs.select(F.explode(bigr).alias("bg"))
        .select(F.col("bg.prev").alias("a"), F.col("bg.cur").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    scored = (
        bi.join(
            F.broadcast(uni.select(F.col("term").alias("a"), F.col("c").alias("ca"))),
            "a",
        )
        .join(
            F.broadcast(uni.select(F.col("term").alias("b"), F.col("c").alias("cb"))),
            "b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "cab",
            F.round(
                F.log(
                    (F.col("cab").cast("double") * F.col("tt"))
                    / (F.col("ca").cast("double") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    # TakeOrdered top-k (distributed per-partition prune) — a rank
    # window over the full bigram vocabulary would sort it in one task
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("a"), F.col("b")
    ).limit(20)
    return top.select("a", "b", "cab", "pmi")


_BLM_LAM = 0.7
_BLM_MU = 1.0 - _BLM_LAM  # 0.30000000000000004 — repr'd into the oracle
# verbatim so both engines mix with the bit-identical coefficient


@register(
    "docs_lm_score_bigram",
    f"""
    WITH blt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bfirst AS MATERIALIZED (SELECT doc_id, t[1] AS cur FROM blt),
    blb AS MATERIALIZED (
        SELECT doc_id, u.prev AS prev, u.cur AS cur FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(prev := t[i], cur := t[i + 1]))) AS u
            FROM blt)),
    bbg AS MATERIALIZED (
        SELECT doc_id, prev, cur, CAST(count(*) AS BIGINT) AS n
        FROM blb GROUP BY doc_id, prev, cur),
    bcbg AS MATERIALIZED (
        SELECT prev, cur, CAST(sum(n) AS BIGINT) AS cb
        FROM bbg GROUP BY prev, cur),
    bcp AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cpn FROM bcbg GROUP BY prev),
    buni AS MATERIALIZED (
        SELECT cur AS term, CAST(count(*) AS BIGINT) AS c1 FROM
        (SELECT cur FROM bfirst UNION ALL SELECT cur FROM blb) GROUP BY cur),
    btt AS (SELECT CAST(sum(c1) AS DOUBLE) AS t_total FROM buni),
    bbi AS (
        SELECT bbg.doc_id, bbg.n AS pos,
               CAST(round(ln({_BLM_LAM!r} * (CAST(cb AS DOUBLE) / cpn)
                       + {_BLM_MU!r} * (CAST(c1 AS DOUBLE) / t_total)), 6)
                    AS DECIMAL(24,6))
                 * CAST(bbg.n AS DECIMAL(14,0)) AS contrib
        FROM bbg
        JOIN bcbg ON bbg.prev = bcbg.prev AND bbg.cur = bcbg.cur
        JOIN bcp ON bbg.prev = bcp.prev
        JOIN buni ON bbg.cur = buni.term, btt),
    bfc AS (
        SELECT doc_id, CAST(1 AS BIGINT) AS pos,
               CAST(round(ln(CAST(c1 AS DOUBLE) / t_total), 6)
                    AS DECIMAL(24,6)) AS contrib
        FROM bfirst JOIN buni ON bfirst.cur = buni.term, btt),
    ballc AS (
        SELECT doc_id, pos, CAST(contrib AS DECIMAL(38,6)) AS contrib FROM bbi
        UNION ALL
        SELECT doc_id, pos, CAST(contrib AS DECIMAL(38,6)) FROM bfc)
    SELECT doc_id, CAST(sum(pos) AS BIGINT) AS n_tokens,
           round(CAST(sum(contrib) AS DOUBLE) / sum(pos), 6) AS avg_logprob
    FROM ballc GROUP BY doc_id
    """,
)
def docs_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-interpolated LM scoring (``tx.lm_score_bigram``):
    Jelinek–Mercer λ·P(tᵢ|tᵢ₋₁) + (1−λ)·P(tᵢ) averaged per document —
    the n=2 point of the CCNet KenLM quality-signal family. One corpus
    bigram explode feeds every count table (unigrams recovered as
    first-token + successor occurrences)."""
    docs = load_table(spark, "documents", sf_dir)
    # size-adaptive spread (guide §2): tokenize + bigram explode is
    # the dominant CPU and runs pre-exchange; the spread moves it off
    # the single scan task on big low-row-group sources
    spread = spread_partitions(spark, docs)
    if spread:
        docs = docs.repartition(spread, "doc_id")
    return tx.lm_score_bigram(docs, lam=_BLM_LAM)


@register(
    "dedup_source_priority",
    """
    WITH spr AS (
        SELECT doc_id, source, md5(text) AS text_hash,
               CASE source WHEN 'src5' THEN 0 WHEN 'src12' THEN 1
                           WHEN 'src0' THEN 2 ELSE 1000000 END AS r
        FROM documents),
    spe AS (
        SELECT text_hash, CAST(count(*) AS BIGINT) AS n_docs,
               min(struct_pack(r := r, id := doc_id, src := source)) AS e
        FROM spr GROUP BY text_hash)
    SELECT text_hash, n_docs, e.id AS keep_id, e.src AS keep_source
    FROM spe
    """,
)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with source-priority survivor election
    (``dd.exact_dups_by_priority``): among identical texts keep the
    copy from the preferred source (src5 ≻ src12 ≻ src0 ≻ rest), ties
    to the lowest id — prefer the curated copy over the crawl. Same
    single partial-agg shuffle as dedup_exact; the election is a
    min(struct) with the rank as a CASE projection."""
    docs = load_table(spark, "documents", sf_dir)
    return dd.exact_dups_by_priority(
        docs, {"src5": 0, "src12": 1, "src0": 2}
    )


_SPAN_WORDS = 16


@register(
    "dedup_spans",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
        FROM documents),
    nums AS (
        SELECT doc_id, t,
               unnest(generate_series(1,
                   CAST(ceil(len(t) / {_SPAN_WORDS}.0) AS BIGINT))) AS i
        FROM toks),
    spans AS (
        SELECT doc_id, i - 1 AS span_idx,
               array_to_string(
                   list_slice(t, (i - 1) * {_SPAN_WORDS} + 1,
                              (i - 1) * {_SPAN_WORDS} + {_SPAN_WORDS}),
                   ' ') AS span_text
        FROM nums),
    hashed AS (SELECT *, md5(span_text) AS h FROM spans),
    kept AS (
        SELECT doc_id, span_idx, span_text FROM (
            SELECT *, row_number() OVER (
                PARTITION BY h ORDER BY doc_id, span_idx) AS rn
            FROM hashed)
        WHERE rn = 1),
    agg AS (
        SELECT doc_id, count(*) AS n_spans_kept,
               string_agg(span_text, ' ' ORDER BY span_idx) AS dedup_text
        FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_spans_kept, 0) AS BIGINT) AS n_spans_kept,
           coalesce(a.dedup_text, '') AS dedup_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-span removal (C4/RefinedWeb line dedup
    generalized to fixed word windows): every 16-word span that already
    occurred anywhere in the corpus is dropped, survivors re-stitched
    per document. First occurrence = smallest (doc_id, span_idx),
    elected by a partial-aggregatable min(struct) per span hash — the
    skew-safe form of the election (hot boilerplate spans combine
    map-side). The oracle replays the election with a window
    row_number; both pick the identical keeper set."""
    docs = load_table(spark, "documents", sf_dir)
    return dd.span_dedup(docs, span_words=_SPAN_WORDS)


#: same md5-bucket fragment, dialect-specific string cast
_SPLIT_BUCKET_ORACLE = md5_bucket("CAST(doc_id AS VARCHAR)", 100)
_SPLIT_BUCKET_SPARK = md5_bucket("CAST(doc_id AS STRING)", 100)


@register(
    "deterministic_split",
    f"""
    WITH t AS (SELECT lang, {_SPLIT_BUCKET_ORACLE} AS bucket FROM documents)
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM t GROUP BY 1, 2
    """,
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by content-stable hash
    bucket (the split every training pipeline needs to survive re-runs
    and backfills — no RNG, no seed drift, any engine recomputes it).
    80/10/10 by md5(doc_id) % 100."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.expr(_SPLIT_BUCKET_SPARK)
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term,
               round(CAST(t.tf AS DOUBLE)
                     * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)),
                     6) AS score
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term) AS rank
        FROM scored)
    SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics keyword extraction: top-3 terms per document
    by tf·idf (idf = ln(N/df)). See ``text.tfidf_top_terms`` for the
    100 TB plan shape (partial-agg tf, df from tf's per-doc rows,
    equi-join, bounded per-doc window)."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.tfidf_top_terms(docs, top_n=3)


@register(
    "text_vocab_build",
    """
    WITH counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM (SELECT unnest(list_filter(
                  regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS token
              FROM documents)
        GROUP BY token HAVING count(*) >= 2
        ORDER BY n_occurrences DESC, token LIMIT 20)
    SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS INTEGER)
               AS token_id,
           token, n_occurrences
    FROM counts
    """,
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction (text.build_vocab): top-20
    corpus tokens with dense frequency-ranked ids. The rank runs over
    the aggregated + TakeOrdered-bounded table, never the corpus."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.build_vocab(docs, top_k=20, min_count=2)


@register(
    "docs_domain_cap",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS cap_rank
    FROM ranked WHERE rn <= 10
    """,
)
def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the Common-Crawl curation rule: at most
    N pages per registered domain, so megasites can't dominate the
    mixture). Selection inside each domain is by md5(doc_id) — a
    content-stable uniform shuffle, so the kept set is a deterministic
    random sample that never changes across runs or engines, unlike
    rand(). One hash-partition window per domain; group sizes are the
    per-domain doc counts, so no global sort. A domain hot enough to
    skew a reducer is exactly the domain the cap truncates."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("cap_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cap_rank") <= 10)
    )


@register(
    "docs_curation_pipeline",
    """
    WITH tok AS (
        SELECT doc_id, text, lang,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS l
        FROM documents),
    stq AS (
        SELECT doc_id, text, lang, l, len(l) AS n, len(list_distinct(l)) AS nd,
               CASE WHEN len(l) > 0
                    THEN list_sum(list_transform(l, t -> length(t))) * 1.0 / len(l)
               END AS mean_raw
        FROM tok),
    topc AS (
        SELECT doc_id, max(c) AS top_cnt FROM (
            SELECT doc_id, t, count(*) AS c
            FROM (SELECT doc_id, unnest(l) AS t FROM stq) GROUP BY doc_id, t)
        GROUP BY doc_id),
    kept AS (
        SELECT stq.doc_id, stq.text, stq.lang, stq.l
        FROM stq LEFT JOIN topc USING (doc_id)
        WHERE text IS NOT NULL AND n >= 10 AND n <= 100000
          AND mean_raw >= 2.0 AND mean_raw <= 12.0
          AND round((n - nd) * 1.0 / n, 6) <= 0.6
          AND round(topc.top_cnt * 1.0 / n, 6) <= 0.2),
    firsts AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
    base AS (SELECT k.doc_id, k.text, k.lang, k.l
             FROM kept k JOIN firsts USING (doc_id)),
    bgrams AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(range(greatest(len(string_split(text, ' ')) - 2, 1)), i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3], chr(31))))) AS gram
        FROM documents WHERE doc_id % 97 = 0),
    flagged AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(string_split(text, ' ')) - 2, 1)), i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3], chr(31))))) AS gram
            FROM base WHERE doc_id % 97 <> 0) dg
        JOIN bgrams USING (gram)),
    clean AS (
        SELECT doc_id, lang, l FROM base
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM flagged)),
    ex AS (SELECT doc_id, (lang = 'zh') AS is_t, unnest(l) AS token FROM clean),
    bg AS (SELECT token, CAST(count(*) AS BIGINT) AS cb,
                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
           FROM ex GROUP BY token),
    st2 AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(cb) AS BIGINT) AS nb,
                   CAST(sum(ct) AS BIGINT) AS nt FROM bg),
    vocab AS (
        SELECT token,
               CAST(round(((ct + 1.0) * (nb + v)) / ((cb + 1.0) * (nt + v))
                          * 1000000.0) AS BIGINT) AS r6
        FROM bg, st2 WHERE cb >= 2),
    scored AS (
        SELECT e.doc_id,
               coalesce(vb.r6, CAST(round((1.0 * (st2.nb + st2.v))
                   / (1.0 * (st2.nt + st2.v)) * 1000000.0) AS BIGINT)) AS r6
        FROM ex e LEFT JOIN vocab vb USING (token), st2),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored_tokens,
               CAST(sum(r6) AS BIGINT) AS s
        FROM scored GROUP BY doc_id),
    sel AS (
        SELECT doc_id, n_scored_tokens,
               CAST((2 * s + n_scored_tokens)
                    // (2 * n_scored_tokens) AS DOUBLE) / 1000000.0 AS importance
        FROM agg WHERE n_scored_tokens > 0
        ORDER BY importance DESC, doc_id LIMIT 100)
    SELECT CAST(row_number() OVER (ORDER BY importance DESC, doc_id) AS INTEGER)
               AS sel_rank,
           doc_id, n_scored_tokens, importance
    FROM sel
    """,
)
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: Gopher/C4 quality battery -> exact dedup
    (keep-lowest-id) -> benchmark decontamination (anti-join against
    the eval set's 3-gram inventory) -> DSIR domain-importance scoring
    (vs lang='zh' exemplars, model trained on the SURVIVING corpus) ->
    top-100 selection. The composition the engine exists for: each
    stage is the registered operator, chained as plain DataFrame
    transforms; every stage keeps its scale shape (shuffle-free filter
    scan, one-shuffle dedup, broadcast gram join + anti-join,
    partial-agg vocab + broadcast scoring, distributed TakeOrdered
    selection with rank over the bounded result)."""
    docs = load_table(spark, "documents", sf_dir)
    # size-adaptive spread (guide §2): the Gopher battery below is the
    # dominant per-row CPU of the whole pipeline and runs pre-exchange;
    # the checkpointed survivor table inherits the parallel layout
    spread = spread_partitions(spark, docs)
    if spread:
        docs = docs.repartition(spread, "doc_id")
    # materialize the filtered corpus once: downstream it is scanned
    # four times (dedup election, join-back, DSIR vocab build, DSIR
    # scoring) and without this every scan re-runs the Gopher
    # expression battery (measured ~2x wall on the full pipeline at
    # sf0.1). At cluster scale this localCheckpoint is the persisted
    # quality-filtered corpus table — a real pipeline stage output.
    # The checkpoint cuts BEFORE the verdict filter: a filter on the
    # battery's computed columns gets predicate-pushed below the
    # spread repartition (Catalyst substitutes the whole battery into
    # the pushed predicate), pinning the battery to the scan's splits
    # — the ×100 stage profile showed 2 tasks owning 42 s of a 49 s
    # wall. With the filter above the checkpointed leaf the battery
    # runs once, after the exchange, at full width (round 10).
    kept = (
        ql.gopher_filter(docs)
        .select("doc_id", "text", "lang", "quality_verdict")
        .localCheckpoint(eager=False)
        .filter(F.col("quality_verdict") == "keep")
        .select("doc_id", "text", "lang")
    )
    firsts = dd.exact_dups(kept).select(F.col("keep_id").alias("doc_id"))
    base = kept.join(firsts, "doc_id").localCheckpoint(eager=False)
    # benchmark decontamination: the held-out eval set (doc_id % 97 == 0
    # by the fixture convention, same as docs_decontaminate) leaves the
    # corpus, and so does any document sharing a 3-gram with it
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = base.filter(F.col("doc_id") % 97 != 0)
    flagged = ql.decontaminate(corpus, benchmark, n=3).select("doc_id")
    # the DSIR stage scans its input three times (vocab build, token
    # scoring, id join-back); without staging, each scan re-runs the
    # decontaminate gram explode + anti-join subtree (round 10)
    clean = corpus.join(flagged, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    imp = dsir.domain_importance(clean, F.col("lang") == "zh", min_count=2)
    sel = (
        imp.filter(F.col("importance").isNotNull())
        .orderBy(F.col("importance").desc(), "doc_id")
        .limit(100)
    )
    w = Window.orderBy(F.col("importance").desc(), F.col("doc_id"))
    return sel.select(
        F.row_number().over(w).alias("sel_rank"),
        "doc_id",
        "n_scored_tokens",
        "importance",
    )


_DECON_N = 3  # n-gram width scaled to the ~100-token fixture docs
# (published practice is 8-13 grams on web-scale text; 3 gives the
# fixture a dense enough overlap signal to verify counts, not just
# empty-set agreement)


def _decon_shingles_sql(n: int = _DECON_N) -> str:
    toks = "string_split(text, ' ')"
    shingle = f"array_to_string({toks}[i + 1 : i + {n}], chr(31))"
    return (
        f"list_distinct(list_transform(range(greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> {shingle}))"
    )


@register(
    "docs_decontaminate",
    f"""
    WITH bg AS (
        SELECT DISTINCT unnest({_decon_shingles_sql()}) AS gram
        FROM documents WHERE doc_id % 97 = 0),
    dg AS (
        SELECT doc_id, unnest({_decon_shingles_sql()}) AS gram
        FROM documents WHERE doc_id % 97 <> 0)
    SELECT doc_id, count(*) AS n_contaminated_ngrams
    FROM dg JOIN bg USING (gram)
    GROUP BY doc_id
    """,
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 97th document stands in for the
    held-out eval set; corpus documents sharing any 3-gram with it are
    flagged with their overlap count (see ``quality.decontaminate`` -
    broadcast eval grams, single corpus explode, partial-agg count)."""
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ql.decontaminate(corpus, bench, n=_DECON_N)


# ---------------------------------------------------------------------------
# Bradley–Terry preference ranking (functions/ranking.py): the oracle
# replays the deterministic pairing, the duel-matrix reduction, and all
# 8 fixed-point integer MM rounds (pure positive-int floor divisions —
# the k-means/PageRank unrolled-CTE technique).
# ---------------------------------------------------------------------------

_BT_PAIR_CTES = f"""
    bt_base AS (
        SELECT doc_id AS _id, source AS _item, CAST(n_chars AS BIGINT) AS _score,
               {md5_bucket("CAST(doc_id AS VARCHAR)", 8)} AS _b,
               md5(CAST(doc_id AS VARCHAR)) AS _h
        FROM documents),
    bt_seq AS (
        SELECT _id, _item, _score, _b,
               CAST((row_number() OVER w - 1) // 2 AS BIGINT) AS _pair,
               (row_number() OVER w - 1) % 2 AS _side
        FROM bt_base WINDOW w AS (PARTITION BY _b ORDER BY _h, _id)),
    bt_paired AS (
        SELECT a._item AS a_item, a._score AS a_score, a._id AS a_id,
               c._item AS b_item, c._score AS b_score, c._id AS b_id
        FROM (SELECT * FROM bt_seq WHERE _side = 0) a
        JOIN (SELECT * FROM bt_seq WHERE _side = 1) c
          ON a._b = c._b AND a._pair = c._pair),
    bt_comp AS (
        SELECT CASE WHEN a_score > b_score OR (a_score = b_score AND a_id < b_id)
                    THEN a_item ELSE b_item END AS winner_item,
               CASE WHEN a_score > b_score OR (a_score = b_score AND a_id < b_id)
                    THEN b_item ELSE a_item END AS loser_item
        FROM bt_paired),
    duels AS MATERIALIZED (
        SELECT s, t, CAST(count(*) AS BIGINT) AS n, CAST(sum(win) AS BIGINT) AS w
        FROM (
            SELECT winner_item AS s, loser_item AS t, 1 AS win
            FROM bt_comp WHERE winner_item <> loser_item
            UNION ALL
            SELECT loser_item AS s, winner_item AS t, 0 AS win
            FROM bt_comp WHERE winner_item <> loser_item)
        GROUP BY s, t),
    bt_wins AS MATERIALIZED (SELECT s, CAST(sum(w) AS BIGINT) AS wtot FROM duels GROUP BY s),
    bt_n AS MATERIALIZED (SELECT s, CAST(sum(n) AS BIGINT) AS ntot FROM duels GROUP BY s),
    bt_k AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM (SELECT DISTINCT s FROM duels)),
    p0 AS MATERIALIZED (SELECT s, CAST(1000000 AS BIGINT) AS p FROM (SELECT DISTINCT s FROM duels))
"""


def _bt_iter_sql(prev: str, out: str) -> str:
    """One fixed-point MM round (see functions/ranking.py docstring).

    ``{prev}`` is referenced twice (the s- and t-side rating joins), so
    every round is MATERIALIZED — plain CTE inlining would expand the
    whole chain 2^rounds times (DuckDB re-opens the parquet per
    expansion; 8 rounds EMFILE'd before they slowed down). No dd=0
    fallback branch exists because none is reachable: every item in
    ``duels`` has ≥1 duel and each term is ≥1 (n·10⁹ ≥ 10⁹ while
    den3 ≤ (2·K·10⁶)//1000 — the normalize step bounds p ≤ K·10⁶)."""
    return f"""
    d_{out} AS MATERIALIZED (
        SELECT d.s AS s,
               CAST(sum((d.n * 1000000000) // ((ps.p + pt.p) // 1000)) AS BIGINT) AS dd
        FROM duels d
        JOIN {prev} ps ON d.s = ps.s
        JOIN {prev} pt ON d.t = pt.s
        GROUP BY d.s),
    q_{out} AS MATERIALIZED (
        SELECT d_{out}.s AS s,
               greatest(((bt_wins.wtot * 1000000000000) // dd) // 1000, 1) AS q
        FROM d_{out} JOIN bt_wins ON d_{out}.s = bt_wins.s),
    {out} AS MATERIALIZED (
        SELECT s,
               CAST(greatest((CAST(q AS HUGEINT) * bt_k.k * 1000000)
                        // (SELECT CAST(sum(q) AS HUGEINT) FROM q_{out}),
                    1000) AS BIGINT) AS p
        FROM q_{out}, bt_k)
    """


_BT_ORACLE = (
    "WITH "
    + _BT_PAIR_CTES
    + ","
    + ",".join(_bt_iter_sql(f"p{i}", f"p{i + 1}") for i in range(8))
    + """
    SELECT fin.s AS item, fin.p AS rating_micro, bt_wins.wtot AS wins,
           bt_n.ntot AS n_comparisons,
           row_number() OVER (ORDER BY fin.p DESC, fin.s) AS rank
    FROM p8 fin
    JOIN bt_wins ON fin.s = bt_wins.s
    JOIN bt_n ON fin.s = bt_n.s
    """
)


@register("prefs_bradley_terry", _BT_ORACLE)
def prefs_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference ranking over documents' sources from
    deterministic pairwise length contests (functions/ranking.py): the
    RLHF preference-aggregation shape — corpus-sized comparison log →
    |items|²-bounded duel matrix (one partial-agg shuffle) → bounded
    driver-side integer MM iterations, replayed bit-for-bit by 8
    unrolled oracle CTE rounds."""
    import decaton_spark.functions.ranking as rk

    docs = load_table(spark, "documents", sf_dir)
    comps = rk.pair_comparisons(docs, buckets=8)
    return rk.bradley_terry(comps)


@register(
    "docs_novelty_ngrams",
    f"""
    WITH dg AS (
        SELECT doc_id, unnest({_decon_shingles_sql(3)}) AS gram FROM documents),
    gh AS (SELECT doc_id, md5(gram) AS h FROM dg),
    first AS (SELECT h, min(doc_id) AS first_doc FROM gh GROUP BY h),
    rolled AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS novel_grams
        FROM gh JOIN first USING (h) GROUP BY doc_id)
    SELECT doc_id, n_grams, novel_grams,
           CAST((novel_grams * 1000) // n_grams AS BIGINT) AS novelty_pml
    FROM rolled
    """,
)
def docs_novelty_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (``quality.novelty_stats``): the
    fraction of each document's distinct 3-gram shingles whose first
    corpus appearance (lowest doc_id) is this document — the marginal-
    utility signal a curation sampler weights by, decomposing corpus-
    level duplicate-text mass down to documents. Skew-safe min-per-gram
    election, join-back, partial-agg rollup; exact per-mille."""
    docs = load_table(spark, "documents", sf_dir)
    # size-adaptive spread (guide §2): the shingle fold is the
    # dominant CPU and single-row-group sources pin it to one task
    # (x100: 85.5 → 47.2 s spread 32-way), but an unconditional
    # core-count spread taxes the tiny sf0.1 corpus with per-task
    # overhead (measured +0.9 s on a 1.65 s wall) — so the width
    # derives from the scan's byte size.
    return ql.novelty_stats(
        docs, n=3, num_partitions=spread_partitions(spark, docs)
    )


@register(
    "corpus_dataset_card",
    """
    WITH dcb AS (
        SELECT source, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
        FROM documents),
    dcs AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        FROM dcb GROUP BY source),
    dcl AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM dcb GROUP BY source, lang),
    dctop AS (
        SELECT source, lang AS top_lang, n AS top_n
        FROM (SELECT *, row_number() OVER (PARTITION BY source
                        ORDER BY n DESC, lang) AS rn FROM dcl)
        WHERE rn = 1)
    SELECT dcs.source, n_docs, total_tokens, n_langs,
           t.top_lang,
           CAST((t.top_n * 1000) // n_docs AS BIGINT) AS top_lang_pml,
           CAST((n_distinct_texts * 1000) // n_docs AS BIGINT) AS distinct_pml
    FROM dcs JOIN dctop t ON dcs.source = t.source
    """,
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card reporting: the per-source summary a corpus release
    ships — document/token mass, language spread with the dominant
    language's exact per-mille share, and the exact-distinct-text rate
    (1000 = no exact dups). All partial-aggregable groupBys over the
    source×lang grid; integer-exact shares."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "source",
        "lang",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
    )
    stats = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_texts"),
    )
    lang = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("lang"))
    top = (
        lang.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return stats.join(top, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "n_langs",
        "top_lang",
        F.expr("CAST((top_n * 1000) DIV n_docs AS BIGINT)").alias("top_lang_pml"),
        F.expr("CAST((n_distinct_texts * 1000) DIV n_docs AS BIGINT)").alias(
            "distinct_pml"
        ),
    )


@register(
    "docs_stratified_sample",
    """
    WITH stoks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
    scuts AS (
        SELECT quantile_cont(n_tokens,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM stoks),
    sassign AS (
        SELECT doc_id, n_tokens,
               CAST(1 + len(list_filter(qs, c -> n_tokens > c)) AS BIGINT)
                   AS decile
        FROM stoks, scuts),
    sranked AS (
        SELECT *, row_number() OVER (PARTITION BY decile
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                  AS sample_rank
        FROM sassign)
    SELECT decile, sample_rank, doc_id, n_tokens
    FROM sranked WHERE sample_rank <= 5
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: 5 deterministic documents per token-length
    decile — equal representation across strata for curriculum or
    eval-set building. Decile cutoffs are one partial-agg percentile
    pass broadcast back (the winsorize pattern; percentile_approx at
    unbounded scale); in-stratum selection is the md5-order top-k, no
    RNG. Both engines interpolate R-7 quantiles on identical doubles
    and compare against exact integers."""
    src = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    cuts = src.agg(
        F.expr(
            "percentile(n_tokens, array(0.1, 0.2, 0.3, 0.4, 0.5,"
            " 0.6, 0.7, 0.8, 0.9))"
        ).alias("qs")
    )
    assigned = src.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        (
            F.lit(1)
            + F.size(
                F.filter(F.col("qs"), lambda c: F.col("n_tokens") > c)
            )
        )
        .cast("long")
        .alias("decile"),
    )
    w = Window.partitionBy("decile").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        assigned.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 5)
        .select("decile", "sample_rank", "doc_id", "n_tokens")
    )


_BLOOM_M_BITS, _BLOOM_K = 16384, 3


def _bloom_pos_sql(j: int) -> str:
    # position j = 8-hex-digit band of ONE md5 digest (column `h`),
    # mod m_bits — the ONE definition both engines share (the Spark
    # side uses the same function), so the bit-exact replay can't drift
    return ql._bloom_positions(_BLOOM_M_BITS, _BLOOM_K)[j]


def _bloom_ctes(probe_source: str = "documents WHERE doc_id % 97 <> 0") -> str:
    """CTE chain ``bg .. bloom_flagged`` replaying the Bloom-bitmap
    decontamination: eval set is always every 97th document of the full
    table (the frozen eval release); ``probe_source`` is the corpus
    stage being screened."""
    return f"""bg AS (
        SELECT DISTINCT unnest({_decon_shingles_sql()}) AS gram
        FROM documents WHERE doc_id % 97 = 0),
    bh AS (SELECT md5(gram) AS h FROM bg),
    pos AS (
        SELECT {_bloom_pos_sql(0)} AS p FROM bh
        UNION ALL SELECT {_bloom_pos_sql(1)} FROM bh
        UNION ALL SELECT {_bloom_pos_sql(2)} FROM bh),
    words AS (
        SELECT p // 32 AS w,
               bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        FROM pos GROUP BY 1),
    dg AS (
        SELECT doc_id, unnest({_decon_shingles_sql()}) AS gram
        FROM {probe_source}),
    ph AS (SELECT doc_id, md5(gram) AS h FROM dg),
    probe AS (
        SELECT doc_id,
               {_bloom_pos_sql(0)} AS p0,
               {_bloom_pos_sql(1)} AS p1,
               {_bloom_pos_sql(2)} AS p2
        FROM ph),
    bloom_flagged AS (
        SELECT doc_id, count(*) AS n_flagged_ngrams
        FROM probe
        LEFT JOIN words w0 ON w0.w = probe.p0 // 32
        LEFT JOIN words w1 ON w1.w = probe.p1 // 32
        LEFT JOIN words w2 ON w2.w = probe.p2 // 32
        WHERE ((coalesce(w0.bits, 0) >> CAST(probe.p0 % 32 AS INT)) & 1) = 1
          AND ((coalesce(w1.bits, 0) >> CAST(probe.p1 % 32 AS INT)) & 1) = 1
          AND ((coalesce(w2.bits, 0) >> CAST(probe.p2 % 32 AS INT)) & 1) = 1
        GROUP BY doc_id)"""


@register(
    "docs_decontaminate_bloom",
    f"""
    WITH {_bloom_ctes()}
    SELECT doc_id, n_flagged_ngrams FROM bloom_flagged
    """,
)
def docs_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-memory decontamination: the eval set's 3-grams collapse
    into a 16384-bit / 3-hash Bloom bitmap and the corpus probe is a
    pure projection against the inlined literal bitmap — zero joins,
    one shuffle (the per-doc hit count), O(m_bits) memory however
    large the eval set grows. The scale path of ``docs_decontaminate``
    for multi-benchmark eval unions whose n-gram universe outgrows a
    broadcast side; over-flags at the Bloom false-positive rate (never
    a false negative). The oracle rebuilds the identical bitmap in SQL
    (same one-digest md5 band positions, same 32-bit words), so both engines
    agree bit-for-bit including the false positives (see
    ``quality.bloom_decontaminate``)."""
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ql.bloom_decontaminate(
        corpus,
        bench,
        n=_DECON_N,
        m_bits=_BLOOM_M_BITS,
        k=_BLOOM_K,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


_CHUNK_TOKENS, _CHUNK_OVERLAP = 32, 8
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "text_doc_chunks",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents),
    sized AS (
        SELECT doc_id, t,
               CASE WHEN len(t) <= {_CHUNK_TOKENS} THEN 1
                    ELSE CAST(ceil((len(t) - {_CHUNK_TOKENS})
                              / {_CHUNK_STRIDE}.0) AS INT) + 1 END AS n_chunks
        FROM toks),
    nums AS (
        SELECT doc_id, t,
               unnest(generate_series(0, n_chunks - 1)) AS i
        FROM sized),
    chunks AS (
        SELECT doc_id, i AS chunk_idx,
               list_slice(t, i * {_CHUNK_STRIDE} + 1,
                          i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}) AS c
        FROM nums)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(c) AS BIGINT) AS n_tokens,
           array_to_string(c, ' ') AS chunk_text
    FROM chunks
    """,
)
def text_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window preparation: sliding 32-token chunks with 8-token
    overlap per document (see ``text.doc_chunks`` — shuffle-free narrow
    generator, the chunking step before tokenize-and-pack)."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.doc_chunks(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )


_PACK_BUDGET, _PACK_BUCKETS = 256, 32
_PACK_BUCKET_ORACLE = md5_bucket(
    "CAST(doc_id AS VARCHAR)", _PACK_BUCKETS, salt="pack|"
)


@register(
    "text_pack_sequences",
    f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                   AS n_tokens,
               {_PACK_BUCKET_ORACLE} AS bucket
        FROM documents),
    c AS (
        SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
        FROM d),
    p AS (
        SELECT bucket,
               CAST(floor((cum - 1) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
               doc_id, n_tokens
        FROM c)
    SELECT bucket, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM p GROUP BY bucket, pack_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear sequence packing into 256-token training packs across 32
    hash-sharded streams (see ``text.pack_sequences`` — one bounded
    window cumsum per bucket, reproducible, integer-exact)."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.pack_sequences(
        docs, budget_tokens=_PACK_BUDGET, n_buckets=_PACK_BUCKETS
    )


#: per-language keep-rates for corpus rebalancing (percent of md5 buckets)
_MIX_RATES = {"en": 40, "fr": 80, "es": 80, "zh": 100, "de": 100}
_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())
    + " ELSE 0 END"
)


@register(
    "deterministic_mixture",
    f"""
    WITH t AS (SELECT lang, {_SPLIT_BUCKET_ORACLE} AS bucket FROM documents)
    SELECT lang, count(*) AS n_kept
    FROM t WHERE bucket < {_MIX_CASE}
    GROUP BY lang
    """,
)
def deterministic_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: downsample over-represented
    languages by a per-language keep-rate, applied on the same
    content-stable hash bucket as the split — so mixture decisions are
    reproducible, composable with the split, and never resample a
    document differently across runs."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.expr(_SPLIT_BUCKET_SPARK)
    rate = F.expr(_MIX_CASE)
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


#: per-source token budget for mixture construction
_TOKEN_BUDGET = 3_000
_SAMPLE_HASH_ORACLE = md5_long("CAST(doc_id AS VARCHAR)", 8, salt="tb|")
_SAMPLE_HASH_SPARK = md5_long("CAST(doc_id AS STRING)", 8, salt="tb|")


@register(
    "token_budget_sample",
    f"""
    WITH doc_tokens AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {_SAMPLE_HASH_ORACLE} AS hv
        FROM documents),
    totals AS (
        SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS total_tokens
        FROM doc_tokens GROUP BY source),
    frac AS (
        SELECT source,
               least(1.0, {_TOKEN_BUDGET}.0 / total_tokens) AS keep_frac
        FROM totals)
    SELECT d.source,
           count(*) AS n_docs_kept,
           CAST(sum(d.n_tokens) AS BIGINT) AS tokens_kept
    FROM doc_tokens d JOIN frac f USING (source)
    WHERE d.hv < f.keep_frac * 4294967296.0
    GROUP BY d.source
    """,
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample each source down to a token budget — the mixture-builder
    op of a training-data pipeline ("give me ≤N tokens per source,
    reproducibly"). Two-pass, sort-free: (1) per-source token totals
    (partial agg, rows = |sources|); (2) keep fraction
    budget/total broadcast back and applied as a deterministic
    md5-threshold test per document. No RNG, no global sort, no
    windowed cumulative sum — the plan is two scans + a broadcast
    equi-join, unchanged at 100 TB. Hash and IEEE double arithmetic
    are cross-engine, so DuckDB reproduces the exact kept set."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.expr(_SAMPLE_HASH_SPARK).alias("hv"),
    )
    totals = d.groupBy("source").agg(
        F.sum("n_tokens").cast("double").alias("total_tokens")
    )
    frac = totals.select(
        "source",
        F.least(
            F.lit(1.0), F.lit(float(_TOKEN_BUDGET)) / F.col("total_tokens")
        ).alias("keep_frac"),
    )
    kept = d.join(F.broadcast(frac), "source").filter(
        F.col("hv") < F.col("keep_frac") * F.lit(4294967296.0)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )


#: temperature-mixture budget = corpus_tokens DIV this divisor (α = 1/2)
_TEMP_DIV = 3
_TEMP_HASH_ORACLE = md5_long("CAST(doc_id AS VARCHAR)", 8, salt="tmix|")


def _temp_ctes(source: str = "documents") -> str:
    """CTE chain ``doc_tokens .. thresh`` computing the α=1/2
    temperature cutoffs over ``source`` (the corpus stage being
    rebalanced); the consumer joins ``doc_tokens`` against ``thresh``."""
    return f"""doc_tokens AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {_TEMP_HASH_ORACLE} AS hv
        FROM {source}),
    per_lang AS (
        SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS c
        FROM doc_tokens GROUP BY lang),
    weighted AS (
        SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS w
        FROM per_lang),
    denom AS (SELECT CAST(sum(w) AS BIGINT) AS d,
                     CAST(sum(c) AS BIGINT) // {_TEMP_DIV} AS budget
              FROM weighted),
    thresh AS (
        SELECT lang, c, w,
               least(4294967296,
                     CAST((CAST(denom.budget AS HUGEINT) * w * 4294967296)
                          // (CAST(denom.d AS HUGEINT) * c) AS BIGINT))
                   AS cutoff
        FROM weighted, denom)"""


_TEMP_SUMMARY_SELECT = """SELECT t.lang,
           CAST(t.cutoff AS BIGINT) AS cutoff,
           count(*) FILTER (WHERE d.hv < t.cutoff) AS n_docs_kept,
           CAST(coalesce(sum(d.n_tokens) FILTER (WHERE d.hv < t.cutoff), 0)
                AS BIGINT) AS tokens_kept
    FROM doc_tokens d JOIN thresh t USING (lang)
    GROUP BY t.lang, t.cutoff"""


# late-bind the topic-conditioned mixture oracle: its CTE fragments
# (_topic_ctes above, _temp_ctes here) are both defined by this point
QUERIES["docs_mixture_by_topic"] = QuerySpec(
    QUERIES["docs_mixture_by_topic"].fn,
    QUERIES["docs_mixture_by_topic"]
    .oracle.replace("__TOPIC__", _topic_ctes())
    .replace("__TEMP__", _temp_ctes(source="topic_docs")),
)


@register(
    "docs_temperature_mixture",
    f"""
    WITH {_temp_ctes()}
    {_TEMP_SUMMARY_SELECT}
    """,
)
def docs_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (the multilingual
    up/down-sampling op of XLM-R-style data prep, α = 1/2): language
    ``l`` with ``c_l`` corpus tokens gets budget share
    ``sqrt(c_l) / Σ sqrt(c_k)`` of a corpus_tokens/{_TEMP_DIV} token
    budget — flatter than proportional, so low-resource languages are
    up-weighted (their cutoff saturates at keep-everything while
    high-resource languages sample down) — applied as a deterministic
    md5-threshold keep test.

    Cross-engine exactness: α = 1/2 deliberately — IEEE-754 sqrt is
    CORRECTLY rounded (an arbitrary pow(x, α) is not), so
    floor(sqrt(bigint)) is bit-identical in both engines, and every
    other step (token counts, Σ weights, the 2^32-scaled integer
    cutoff with truncating division, the md5 keep test) is pure BIGINT
    arithmetic — no double ever crosses an ordering-sensitive sum.
    Intermediate bound: budget·w·2^32 needs w·budget < 2^31, ample at
    fixture scale; a 100 TB deployment lifts the cutoff arithmetic to
    DECIMAL(38,0) unchanged.

    Plan: two scans + a broadcast of |langs| cutoffs; one filtered
    partial-agg groupBy — no sort, no RNG, reproducible across runs.
    Output per language: (cutoff, n_docs_kept, tokens_kept) — cutoff
    emitted so monitoring can alert on rate collapse. Implementation
    in ``functions/sampling.temperature_mixture_summary`` (reused by
    the curation-v2 composition)."""
    from decaton_spark.functions import sampling as smp

    docs = load_table(spark, "documents", sf_dir)
    return smp.temperature_mixture_summary(docs, divisor=_TEMP_DIV)


@register(
    "group_topn_orders",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
)
def group_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N (each customer's 3 largest orders): one shuffle
    on the group key; rank is computed within groups, never a global
    sort."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "dedup_filtered_corpus",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
    keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY hh)
    SELECT d.lang, count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d JOIN keep k ON d.doc_id = k.doc_id
    GROUP BY d.lang
    """,
)
def dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialization step a training pipeline actually runs:
    keep one canonical doc per exact-duplicate group (min doc_id) and
    emit the filtered corpus — here summarized per language. Survivor
    ids broadcast back as a left-semi join, so the corpus scan is
    filtered without a second shuffle of document bodies."""
    docs = load_table(spark, "documents", sf_dir)
    keep = (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("hh"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(F.broadcast(keep), "doc_id", "left_semi")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH sets AS (
        SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams
        FROM documents WHERE doc_id < 150)
    SELECT * FROM (
        SELECT a.id AS id_a, b.id AS id_b,
               round(len(list_intersect(a.grams, b.grams)) * 1.0 /
                     (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
        FROM sets a JOIN sets b ON a.id < b.id)
    WHERE jaccard >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dd.ngram_jaccard_pairs(docs, n=1, threshold=0.8, max_id=150)


def _minhash_sigs_cte(
    bands: int = 4, k: int = 3, source: str = "documents", suffix: str = ""
) -> str:
    """CTE text ``sh AS (...), sigs AS (...)`` replaying the engine's
    LSH banding (word shingles → md5 → per-band min) in DuckDB.
    ``source``/``suffix`` let one query band several corpora
    (``sigs_c``, ``sigs_i`` in the near-dup merge oracle)."""
    toks = "string_split(text, ' ')"
    shingle = f"array_to_string({toks}[i + 1 : i + {k}], chr(31))"
    shingles = (
        f"list_distinct(list_transform(range(greatest(len({toks}) - {k - 1}, 1)), "
        f"i -> {shingle}))"
    )
    sig_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"list_min(list_transform(hashes, h -> {hex_to_long('h', start=1 + 8 * b, ndigits=8)})) AS sig "
        f"FROM sh{suffix}"
        for b in range(bands)
    )
    return f"""sh{suffix} AS (SELECT doc_id,
        list_transform({shingles}, s -> md5(s)) AS hashes FROM {source}),
    sigs{suffix} AS ({sig_selects})"""


def _minhash_oracle(bands: int = 4, k: int = 3) -> str:
    return f"""
    WITH {_minhash_sigs_cte(bands, k)}
    SELECT band, sig, count(*) AS bucket_size, min(doc_id) AS min_id
    FROM sigs GROUP BY band, sig HAVING count(*) >= 2
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dd.minhash_buckets(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


@register(
    "docs_rater_agreement",
    f"""
    WITH ka_exact AS (
        SELECT doc_id,
               CASE WHEN count(*) OVER (PARTITION BY md5(text)) = 1
                    THEN 1 ELSE 0 END AS a
        FROM documents),
    {_minhash_sigs_cte(source="documents", suffix="_ka")},
    ka_cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM sigs_ka x JOIN sigs_ka y
          ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
    ka_sets AS MATERIALIZED (
        SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams
        FROM documents),
    ka_cont AS (
        SELECT DISTINCT CASE WHEN len(sa.grams) < len(sb.grams)
                          OR (len(sa.grams) = len(sb.grams) AND id_a > id_b)
                        THEN id_a ELSE id_b END AS doc_id
        FROM ka_cand
        JOIN ka_sets sa ON sa.id = ka_cand.id_a
        JOIN ka_sets sb ON sb.id = ka_cand.id_b
        WHERE (CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) * 1000)
              // least(len(sa.grams), len(sb.grams)) >= 700),
    ka_v AS (
        SELECT e.doc_id, e.a,
               CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS b
        FROM ka_exact e LEFT JOIN ka_cont c ON e.doc_id = c.doc_id),
    ka_m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
               CAST(sum(a) AS BIGINT) AS a1, CAST(sum(b) AS BIGINT) AS b1
        FROM ka_v)
    SELECT n, agree, a1, b1,
           (agree * 1000) // n AS po_pml,
           CASE WHEN n * n - (a1 * b1 + (n - a1) * (n - b1)) = 0 THEN NULL
                ELSE CAST(((n * agree - (a1 * b1 + (n - a1) * (n - b1)))
                           * 1000)
                          // (n * n - (a1 * b1 + (n - a1) * (n - b1)))
                     AS BIGINT) END AS kappa_milli
    FROM ka_m
    """,
)
def docs_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement (Cohen's κ) between two dedup verdicts —
    'exact-unique' (text md5 appears once) vs 'not-contained' (no LSH
    candidate contains it): the chance-corrected overlap measure a
    pipeline reads when deciding whether a second dedup stage adds
    signal beyond the first. κ is the exact rational
    (n·agree − E)/(n² − E) with E = a₁b₁ + a₀b₀, emitted in sign-safe
    floor milli-units (the winsorize mean trick — trunc-plus-
    correction so both engines floor identically on negatives)."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy(F.md5("text"))
    ex = docs.select(
        "doc_id",
        F.when(F.count(F.lit(1)).over(w) == 1, 1).otherwise(0).alias("a"),
    )
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    contained = (
        dd.verify_pairs_containment(docs, cand, n=1, threshold_pml=700)
        .select(F.col("contained_id").alias("doc_id"))
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    v = ex.join(contained, "doc_id", "left").select(
        "a", F.when(F.col("_c").isNull(), 1).otherwise(0).alias("b")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.sum("a").cast("long").alias("a1"),
        F.sum("b").cast("long").alias("b1"),
    )
    return m.select(
        "n",
        "agree",
        "a1",
        "b1",
        F.expr("(agree * 1000) DIV n").alias("po_pml"),
        # sign-safe FLOOR((NUM*1000)/DEN): Spark DIV truncates toward
        # zero, so subtract 1 denominator when a negative dividend
        # leaves a remainder (DuckDB's // floors natively — the
        # winsorize mean trick); NULL when chance agreement is total
        F.expr(
            "CASE WHEN n * n - (a1 * b1 + (n - a1) * (n - b1)) = 0 THEN NULL"
            " ELSE CAST((((n * agree - (a1 * b1 + (n - a1) * (n - b1)))"
            "             * 1000)"
            " - CASE WHEN ((n * agree - (a1 * b1 + (n - a1) * (n - b1)))"
            "              * 1000)"
            "             % (n * n - (a1 * b1 + (n - a1) * (n - b1))) != 0"
            "         AND (n * agree - (a1 * b1 + (n - a1) * (n - b1))) < 0"
            "        THEN (n * n - (a1 * b1 + (n - a1) * (n - b1)))"
            "        ELSE 0 END)"
            " DIV (n * n - (a1 * b1 + (n - a1) * (n - b1))) AS BIGINT) END"
        ).alias("kappa_milli"),
    )


@register(
    "dedup_containment",
    f"""
    WITH {_minhash_sigs_cte()},
    ccand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    csets AS (SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams
              FROM documents),
    scoredc AS (
        SELECT id_a, id_b,
               CAST(len(sa.grams) AS BIGINT) AS na,
               CAST(len(sb.grams) AS BIGINT) AS nb,
               CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) AS ov
        FROM ccand
        JOIN csets sa ON sa.id = ccand.id_a
        JOIN csets sb ON sb.id = ccand.id_b),
    dirn AS (
        SELECT CASE WHEN na < nb OR (na = nb AND id_a > id_b)
                    THEN id_a ELSE id_b END AS contained_id,
               CASE WHEN na < nb OR (na = nb AND id_a > id_b)
                    THEN id_b ELSE id_a END AS container_id,
               least(na, nb) AS n_grams_contained,
               ov AS overlap,
               (ov * 1000) // least(na, nb) AS containment_pml
        FROM scoredc)
    SELECT * FROM dirn WHERE containment_pml >= 700
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment dedup (``dd.verify_pairs_containment``):
    LSH candidates verified by |A∩B| / min(|A|,|B|) — the
    quote-inclusion detector symmetric Jaccard misses. Exact integer
    per-mille; the smaller gram set is the contained document."""
    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    return dd.verify_pairs_containment(docs, cand, n=1, threshold_pml=700)


@register(
    "dedup_sorted_neighborhood",
    """
    WITH keyed AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 24) AS k
        FROM documents),
    blocked AS (
        SELECT doc_id, k, substr(k, 1, 2) AS block,
               row_number() OVER (PARTITION BY substr(k, 1, 2)
                                  ORDER BY k, doc_id) AS rn
        FROM keyed),
    cand AS (
        SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b,
               a.block AS block, b.rn - a.rn AS rank_gap
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 3),
    sntoks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    snsets AS (SELECT doc_id AS id,
               list_distinct(list_transform(range(greatest(len(l) - 2, 1)),
                   i -> array_to_string(l[i+1:i+3], chr(31)))) AS grams
               FROM sntoks)
    SELECT id_a, id_b, block, rank_gap,
           round(len(list_intersect(sa.grams, sb.grams)) * 1.0 /
                 (len(sa.grams) + len(sb.grams)
                  - len(list_intersect(sa.grams, sb.grams))), 6) AS jaccard
    FROM cand JOIN snsets sa ON sa.id = cand.id_a
              JOIN snsets sb ON sb.id = cand.id_b
    WHERE round(len(list_intersect(sa.grams, sb.grams)) * 1.0 /
                (len(sa.grams) + len(sb.grams)
                 - len(list_intersect(sa.grams, sb.grams))), 6) >= 0.2
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking + exact 3-gram Jaccard verify: the
    sort-based blocking family (Hernández & Stolfo's SNM), complementing
    LSH banding (``dedup_minhash_lsh``) and exact-hash grouping
    (``dedup_exact``).

    100 TB shape: ONE hash shuffle on the block key + in-partition sort
    (``dd.sorted_neighborhood_pairs``), then the bounded candidate set
    (≤ ``window-1`` pairs/doc) flows through the same equi-join verifier
    every other blocking family uses — quadratic work never exceeds
    |corpus|·(window-1). At sf0.01 SNM recovers 25/25 of the planted
    near-dup pairs with 1320 candidates from 500 docs (2-char blocks:
    near-dups share long key prefixes, so recall holds while the skew
    of hot first letters spreads over ~26x more blocks).
    """
    docs = load_table(spark, "documents", sf_dir)
    # block/rank_gap ride the verify joins via carry= — no join-back of
    # the verified stream to the candidates, so the candidates have ONE
    # consumer and need no staged materialization either (round 10;
    # the join-back re-shuffled the whole pair stream twice)
    cand = dd.sorted_neighborhood_pairs(
        docs, window=4, key_chars=24, block_chars=2
    )
    return dd.verify_pairs_jaccard(
        docs, cand, n=3, threshold=0.2, carry=("block", "rank_gap")
    ).select("id_a", "id_b", "block", "rank_gap", "jaccard")


@register(
    "dedup_snm_multipass",
    """
    WITH mp_k AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                      1, 24) AS k1,
               substr(array_to_string(list_sort(list_distinct(
                      string_split(lower(text), ' '))), ' '), 1, 24) AS k2
        FROM documents),
    mp_b1 AS (
        SELECT doc_id, k1 AS k, substr(k1, 1, 2) AS block,
               row_number() OVER (PARTITION BY substr(k1, 1, 2)
                                  ORDER BY k1, doc_id) AS rn
        FROM mp_k),
    mp_b2 AS (
        SELECT doc_id, k2 AS k, substr(k2, 1, 2) AS block,
               row_number() OVER (PARTITION BY substr(k2, 1, 2)
                                  ORDER BY k2, doc_id) AS rn
        FROM mp_k),
    mp_c AS (
        SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b
        FROM mp_b1 a JOIN mp_b1 b
          ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 3
        UNION ALL
        SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        FROM mp_b2 a JOIN mp_b2 b
          ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 3),
    mp_cand AS (
        SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_passes
        FROM mp_c GROUP BY id_a, id_b),
    mp_tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    mp_sets AS (SELECT doc_id AS id,
               list_distinct(list_transform(range(greatest(len(l) - 2, 1)),
                   i -> array_to_string(l[i+1:i+3], chr(31)))) AS grams
               FROM mp_tok)
    SELECT id_a, id_b, n_passes,
           round(len(list_intersect(sa.grams, sb.grams)) * 1.0 /
                 (len(sa.grams) + len(sb.grams)
                  - len(list_intersect(sa.grams, sb.grams))), 6) AS jaccard
    FROM mp_cand JOIN mp_sets sa ON sa.id = mp_cand.id_a
                 JOIN mp_sets sb ON sb.id = mp_cand.id_b
    WHERE round(len(list_intersect(sa.grams, sb.grams)) * 1.0 /
                (len(sa.grams) + len(sb.grams)
                 - len(list_intersect(sa.grams, sb.grams))), 6) >= 0.2
    """,
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood dedup — the production SNM recipe
    (Hernández & Stolfo run several passes with transposed keys): pass
    1 sorts on the normalized text prefix, pass 2 on the SORTED
    distinct-token prefix (order-insensitive — catches near-dups whose
    edit moved the leading words, which any single prefix sort misses
    by construction). Candidate sets union by pair with a pass count,
    then ONE shared Jaccard verify; ``n_passes`` attributes recall to
    passes (2 = found by both). Each pass is one block shuffle; the
    union/verify work is bounded by Σ pass candidates."""
    docs = load_table(spark, "documents", sf_dir)
    p1 = dd.sorted_neighborhood_pairs(docs, window=4, key_chars=24, block_chars=2)
    key2 = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))), " "
    )
    p2 = dd.sorted_neighborhood_pairs(
        docs, window=4, key_chars=24, block_chars=2, key_expr=key2
    )
    cand = (
        p1.select("id_a", "id_b")
        .unionAll(p2.select("id_a", "id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_passes"))
    )
    # n_passes rides the verify joins via carry= — no join-back, so the
    # unioned candidates have one consumer and skip the checkpoint
    return dd.verify_pairs_jaccard(
        docs, cand, n=3, threshold=0.2, carry=("n_passes",)
    ).select("id_a", "id_b", "n_passes", "jaccard")


def _dedup_edges_cte(bands: int = 4, k: int = 3, threshold: float = 0.8) -> str:
    """CTE chain ``sh, sigs, cand, sets, edges`` replaying the LSH
    candidate + Jaccard-verify pipeline — the verified near-dup edge
    set shared by the connected-components and PageRank oracles."""
    jacc = (
        "round(len(list_intersect(sa.grams, sb.grams)) * 1.0 / "
        "(len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams))), 6)"
    )
    return f"""{_minhash_sigs_cte(bands, k)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams
             FROM documents),
    edges AS (
        SELECT id_a, id_b FROM cand
        JOIN sets sa ON sa.id = cand.id_a
        JOIN sets sb ON sb.id = cand.id_b
        WHERE {jacc} >= {threshold})"""


def _near_full_oracle(bands: int = 4, k: int = 3, threshold: float = 0.8) -> str:
    return f"""
    WITH RECURSIVE {_dedup_edges_cte(bands, k, threshold)},
    sym AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
        UNION SELECT id_a, id_a FROM edges
        UNION SELECT id_b, id_b FROM edges),
    reach(id, r) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src)
    SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
    """


@register("dedup_near_full", _near_full_oracle())
def dedup_near_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed near-dup pipeline — the one a 100 TB corpus actually
    runs: LSH banding → candidate pairs (equi-join within buckets, cost
    Σ bucket², never |corpus|²) → exact unigram-Jaccard verification on
    candidates only → transitive duplicate groups via distributed
    min-label propagation. Output: (doc_id, group_id) for every doc in
    a verified near-dup group, group_id = smallest reachable doc_id
    (the canonical survivor)."""
    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    return dd.connected_components(edges)


@register(
    "split_leakage_check",
    f"""
    WITH {_dedup_edges_cte(4, 3, 0.8)},
    slk_sp AS (
        SELECT doc_id,
               CASE WHEN {_SPLIT_BUCKET_ORACLE} < 80 THEN 'train'
                    WHEN {_SPLIT_BUCKET_ORACLE} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents)
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_near_dup_pairs,
           least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leaked
    FROM edges
    JOIN slk_sp sa ON sa.doc_id = edges.id_a
    JOIN slk_sp sb ON sb.doc_id = edges.id_b
    GROUP BY 1, 2
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage gate: verified near-dup pairs (LSH
    candidates, Jaccard ≥ 0.8) whose endpoints land in DIFFERENT
    deterministic splits — the release check that catches eval
    contamination the split hash can't see (a near-copy of a test doc
    sitting in train). Rows with ``leaked = true`` are the violations;
    per split-pair counts localize them. Same bucket-bounded candidate
    plan as the near-dup pipeline plus two broadcastable split joins."""
    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    bucket = F.expr(_SPLIT_BUCKET_SPARK)
    sp = docs.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    j = (
        edges.join(
            sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_near_dup_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaked"),
        )
    )



_PR_SCALE, _PR_ITERS, _PR_DAMP = 10**12, 3, 85


def _pagerank_oracle() -> str:
    base = f"({_PR_SCALE} // nn.n)"
    teleport = f"(({100 - _PR_DAMP} * {base}) // 100)"
    its = []
    for k in range(1, _PR_ITERS + 1):
        its.append(
            f"""i{k} AS (
        SELECT s.dst AS id, sum(p.r // p.d) AS m
        FROM sym s JOIN p{k - 1} p ON p.id = s.src GROUP BY s.dst),
    p{k} AS (
        SELECT i{k}.id, deg.d,
               {teleport} + ({_PR_DAMP} * i{k}.m) // 100 AS r
        FROM i{k} JOIN deg ON deg.id = i{k}.id, nn)"""
        )
    return f"""
    WITH {_dedup_edges_cte()},
    sym AS (
        SELECT id_a AS src, id_b AS dst FROM edges WHERE id_a <> id_b
        UNION
        SELECT id_b, id_a FROM edges WHERE id_a <> id_b),
    deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    p0 AS (SELECT id, d, {_PR_SCALE} // nn.n AS r FROM deg, nn),
    {", ".join(its)}
    SELECT id, CAST(d AS BIGINT) AS degree,
           CAST(r AS BIGINT) AS pr_micromass
    FROM p{_PR_ITERS}
    """


@register("dedup_graph_pagerank", _pagerank_oracle())
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-document centrality over the verified near-dup graph:
    3-iteration damped PageRank in exact integer micro-mass (10^12
    units, 85/100 damping, all truncating division), so the DuckDB
    oracle replays every iteration bit-for-bit — floating-point
    PageRank is not cross-engine reproducible, integer mass is. A
    high-centrality node is the boilerplate/template page whose whole
    cluster deserves one curation decision. Every per-iteration step
    is edge-sized (see ``functions/graph.pagerank``); the edge set is
    the same LSH-candidate + Jaccard-verify pipeline as
    ``dedup_near_full``."""
    from decaton_spark.functions import graph as gr

    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    return gr.pagerank(
        edges,
        iters=_PR_ITERS,
        damping_pct=_PR_DAMP,
        scale=_PR_SCALE,
    )


@register(
    "dedup_triangle_stats",
    f"""
    WITH {_dedup_edges_cte()},
    tdeg AS (
        SELECT id, count(*) AS degree FROM (
            SELECT id_a AS id FROM edges
            UNION ALL SELECT id_b FROM edges)
        GROUP BY id),
    tri AS (
        SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
        FROM edges e1
        JOIN edges e2 ON e1.id_b = e2.id_a
        JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
    pertri AS (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri),
    tcount AS (SELECT id, count(*) AS triangles FROM pertri GROUP BY id)
    SELECT tdeg.id, CAST(degree AS BIGINT) AS degree,
           CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN degree >= 2
                THEN (2000 * coalesce(triangles, 0)) // (degree * (degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_pml
    FROM tdeg LEFT JOIN tcount ON tdeg.id = tcount.id
    """,
)
def dedup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster density: triangle count + local clustering
    coefficient per node of the verified near-dup graph (the same
    LSH-candidate + Jaccard-verify edge pipeline as ``dedup_near_full``
    / ``dedup_graph_pagerank``). Coefficient ≈1000 pml = the node's
    neighbourhood is a clique (one template page — collapse the whole
    cluster); low = a pairwise-drifting revision chain. Ordered wedge
    join (``functions/graph.triangle_stats``): each triangle counted
    once, cost Σ deg² within verified buckets, never |V|²."""
    from decaton_spark.functions import graph as gr

    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    return gr.triangle_stats(edges)


def _simhash64_cte(p: str) -> str:
    """CTE fragment computing the 64-bit two-word simhash signature
    per document into ``{p}_sig(doc_id, simhash)`` — DuckDB mirror of
    ``dedup.simhash(bits=64)``: bits 0–31 vote on hex-digit parity of
    md5(token), bits 32–63 on md5('sh2:' + token). The halves assemble
    via signed 32-bit wrap (hi ≥ 2³¹ → hi − 2³²) so bit 63 lands in
    BIGINT two's complement without the `1 << 63` overflow DuckDB
    raises."""
    return f"""
    {p}_toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents),
    {p}_hx AS (SELECT doc_id, md5(tok) AS h1, md5('sh2:' || tok) AS h2
               FROM {p}_toks),
    {p}_bits AS (
        SELECT doc_id, i,
               CASE WHEN sum(CASE WHEN (instr('0123456789abcdef',
                       substr(CASE WHEN i < 32 THEN h1 ELSE h2 END,
                              CAST(CASE WHEN i < 32 THEN i + 1
                                   ELSE i - 31 END AS INT), 1)) - 1) % 2 = 1
                   THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b
        FROM {p}_hx, range(64) t(i) GROUP BY doc_id, i),
    {p}_halves AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN i < 32
                    THEN b * (1::BIGINT << CAST(i AS INT))
                    ELSE 0 END) AS HUGEINT) AS lo,
               CAST(sum(CASE WHEN i >= 32
                    THEN b * (1::BIGINT << CAST(i - 32 AS INT))
                    ELSE 0 END) AS HUGEINT) AS hi
        FROM {p}_bits GROUP BY doc_id),
    {p}_sig AS MATERIALIZED (
        SELECT doc_id,
               CAST((hi - CASE WHEN hi >= 2147483648 THEN 4294967296
                          ELSE 0 END) * 4294967296 + lo AS BIGINT) AS simhash
        FROM {p}_halves)"""


@register(
    "dedup_simhash",
    f"""
    WITH {_simhash64_cte('ss')}
    SELECT doc_id, simhash FROM ss_sig
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash signature per document, via the codegen vote
    path (``dedup.simhash_signatures``): one hash-spread exchange buys
    full-core parallelism for the md5-heavy projection (the scan has
    fewer splits than cores) and the token vote runs as generated code
    instead of an interpreted lambda fold — measured 14.1 → 1.7 s on
    the x10 ladder fixture, bit-identical output (round 9)."""
    docs = load_table(spark, "documents", sf_dir)
    return dd.simhash_signatures(
        docs, bits=64,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    for lang, markers in sorted(tx.LANG_MARKERS.items())
}
_SCORES = ",\n               ".join(
    f"len(list_intersect(string_split(text, ' '), {lst})) AS s_{lang}"
    for lang, lst in _MARKER_SQL.items()
)
_WINNER = (
    "CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = greatest(s_de, s_en, s_es, s_fr) THEN '{lang}'"
        for lang in _MARKER_SQL
    )
    + " END"
)


_FP_TOK_SUITE = None  # populated below text_fingerprint (shares its fragment)


@register(
    "text_suite",
    None,  # filled in after text_fingerprint defines the _FP_TOK fragment
)
def text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four text-analysis operators (lang-id, quality score, token
    counting, rolling-hash fingerprint) in ONE narrow projection over
    one scan of ``documents`` — the shape a real pipeline ships: every
    metric is an expression, so Catalyst fuses them into a single
    whole-stage-codegen'd pass with zero shuffles."""
    docs = load_table(spark, "documents", sf_dir)
    out = tx.fingerprint(tx.token_count(tx.quality_score(tx.lang_id(docs))))
    return out.select(
        "doc_id", "predicted_lang", "n_chars_calc", "n_tokens", "n_punct",
        "n_stopwords", "avg_token_len", "quality", "ws_tokens", "bpe_tokens",
        "fingerprint",
    )


@register(
    "text_lang_id",
    f"""
    WITH scored AS (
        SELECT doc_id,
               {_SCORES}
        FROM documents)
    SELECT {_WINNER} AS predicted_lang, count(*) AS n_docs
    FROM scored GROUP BY 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        tx.lang_id(docs)
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "docs_langid_confusion",
    f"""
    WITH lc AS (
        SELECT doc_id, lang,
               {_SCORES}
        FROM documents)
    SELECT lang, {_WINNER} AS predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM lc GROUP BY 1, 2
    """,
)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the engine's own marker-stopword language
    identifier against the labeled ``lang`` column — the eval harness
    a pipeline runs before trusting a classifier as a routing gate
    (per-language accuracy, systematic confusions, and the 'und'
    abstention rate all read off the cells). One shuffle-free scoring
    projection + one partial-agg groupBy over ≤|langs|² cells."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        tx.lang_id(docs)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "text_quality",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split(text, ' '),
                t -> list_contains(['the', 'a', 'of', 'and'], t))) AS BIGINT) AS n_stopwords,
           round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           round(1.0 * len(list_filter(string_split(text, ' '),
                     t -> list_contains(['the', 'a', 'of', 'and'], t)))
                 / len(string_split(text, ' '))
                 - 1.0 * (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                 / length(text), 6) AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return tx.quality_score(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_punct", "n_stopwords",
        "avg_token_len", "quality",
    )


@register(
    "text_token_count",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{tx.TOKEN_REGEX}')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return tx.token_count(docs).select("doc_id", "ws_tokens", "bpe_tokens")


_FP_TOK = md5_long("t", 8)


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '), t -> {_FP_TOK})),
               (acc, t) -> (acc * 31 + t) % 1000000007) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rolling token-hash fingerprint. Size-adaptive
    spread (guide §2): the hash fold is per-row CPU that would
    otherwise run at the scan's split count on a big source; small
    scans keep the pinned shuffle-free projection plan."""
    docs = load_table(spark, "documents", sf_dir)
    spread = spread_partitions(spark, docs)
    if spread:
        docs = docs.repartition(spread, "doc_id")
    return tx.fingerprint(docs).select("doc_id", "fingerprint")


QUERIES["text_suite"] = QuerySpec(
    QUERIES["text_suite"].fn,
    f"""
    WITH scored AS (
        SELECT doc_id,
               {_SCORES},
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the', 'a', 'of', 'and'], t))) AS BIGINT) AS n_stopwords,
               round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                     / len(string_split(text, ' ')), 6) AS avg_token_len,
               round(1.0 * len(list_filter(string_split(text, ' '),
                         t -> list_contains(['the', 'a', 'of', 'and'], t)))
                     / len(string_split(text, ' '))
                     - 1.0 * (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                     / length(text), 6) AS quality,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{tx.TOKEN_REGEX}')) AS BIGINT) AS bpe_tokens,
               CAST(list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '), t -> {_FP_TOK})),
                   (acc, t) -> (acc * 31 + t) % 1000000007) AS BIGINT) AS fingerprint
        FROM documents)
    SELECT doc_id, {_WINNER} AS predicted_lang, n_chars_calc, n_tokens, n_punct,
           n_stopwords, avg_token_len, quality, ws_tokens, bpe_tokens, fingerprint
    FROM scored
    """,
)


# cross-engine cosine: sequential left fold over element products, so the
# oracle's summation order matches Spark's F.aggregate exactly.
_DOT_QC = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), "
    "i -> CAST(qv[i + 1] AS DOUBLE) * CAST(cv[i + 1] AS DOUBLE))), (a, b) -> a + b)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), "
    "i -> CAST({v}[i + 1] AS DOUBLE) * CAST({v}[i + 1] AS DOUBLE))), (a, b) -> a + b))"
)


_ANN_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
        FROM c, q WHERE neighbor_id <> query_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
    """


@register(
    "ann_filtered_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE label = 3),
    scored AS (
        SELECT query_id, neighbor_id,
               round({{dot}} / ({{qn}} * {{cn}}), 4) AS cosine
        FROM c, q WHERE neighbor_id <> query_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
    """.format(
        dot=_DOT_QC, qn=_NORM.format(v="qv"), cn=_NORM.format(v="cv")
    ),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN (metadata-constrained search — 'top-k among label=3
    vectors'): the predicate applies BEFORE scoring, so it reaches the
    parquet scan as a pushed filter and the candidate set shrinks at
    the source — pre-filtering, not post-filtering (which under-fills
    k when the filter is selective). Composes identically with the
    LSH/IVF candidate paths: the filter rides the corpus side of the
    bucket/cell join."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return sim.brute_force_topk(emb.filter(F.col("label") == 3), q, k=5)


@register("ann_brute_force_topk", _ANN_TOPK_ORACLE)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return sim.brute_force_topk(emb, q, k=5)


@register("ann_brute_force_topk_vec", _ANN_TOPK_ORACLE)
def ann_brute_force_topk_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS-matmul scale path: same results, Arrow-batched kernel."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return sim.brute_force_topk_vectorized(
        emb, q, k=5, num_partitions=spread_partitions(spark, emb)
    )


def _dot64(a: str, b: str) -> str:
    """DuckDB sequential-fold dot product (matches F.aggregate order)."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), "
        f"i -> CAST({a}[i + 1] AS DOUBLE) * CAST({b}[i + 1] AS DOUBLE))), (x, y) -> x + y)"
    )


@register(
    "emb_hard_negatives",
    f"""
    WITH hq AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS a_label
                FROM embeddings WHERE vec_id < 8),
    hc AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS c_label
           FROM embeddings),
    hscored AS (
        SELECT anchor_id, neighbor_id,
               CASE WHEN c_label = a_label THEN 'pos' ELSE 'neg' END AS role,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
        FROM hc, hq WHERE neighbor_id <> anchor_id),
    hranked AS (
        SELECT *, row_number() OVER (PARTITION BY anchor_id, role
                      ORDER BY cosine DESC, neighbor_id) AS rank
        FROM hscored)
    SELECT anchor_id, role, rank, neighbor_id, cosine FROM hranked
    WHERE (role = 'neg' AND rank <= 5) OR (role = 'pos' AND rank <= 1)
    """,
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining (``similarity.hard_negatives``): per
    anchor, the top same-label positive and the 5 most-similar
    different-label vectors — the near-miss negatives InfoNCE/triplet
    training needs. Broadcast anchors, unshuffled corpus, one
    per-(anchor, role) top-k reduction."""
    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") < 8)
    return sim.hard_negatives(emb, anchors, k_neg=5, k_pos=1)


def _bucket_ladder_sql(n_col: str) -> str:
    whens = " ".join(
        f"WHEN {n_col} <= {b} THEN {b}" for b in tx.LENGTH_BUCKETS[:-1]
    )
    return f"CASE {whens} ELSE {tx.LENGTH_BUCKETS[-1]} END"


@register(
    "text_length_buckets",
    f"""
    WITH lb_toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
    lb AS (SELECT CAST({_bucket_ladder_sql('n_tokens')} AS BIGINT) AS bucket,
                  n_tokens
           FROM lb_toks),
    lg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           FROM lb GROUP BY bucket)
    SELECT bucket, n_docs, total_tokens,
           bucket * n_docs AS capacity,
           bucket * n_docs - total_tokens AS padding_tokens,
           CAST(((bucket * n_docs - total_tokens) * 1000)
                // (bucket * n_docs) AS BIGINT) AS waste_pml
    FROM lg
    """,
)
def text_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-batch planning (``text.length_bucket_stats``): documents
    bucketed by power-of-two token length with exact per-mille padding
    waste per bucket — the measurement behind length-grouped batching.
    Shuffle-free projection into a ≤18-group partial agg."""
    return tx.length_bucket_stats(load_table(spark, "documents", sf_dir))


def _mmr_iter_sql(t: int, lam: int = 70) -> str:
    """One greedy MMR round: score every unselected candidate
    ``lam·rel4 − (100−lam)·max sim4 to the selected set``, pick the
    argmax (ties → lowest id). ``sel`` is referenced three times per
    round, so every frame is MATERIALIZED (the BT/EMFILE lesson)."""
    prev, out = f"sel{t - 1}", f"sel{t}"
    return f"""
    ms{t} AS MATERIALIZED (
        SELECT p.query_id, p.d, max(p.sim4) AS ms
        FROM mpairs p JOIN {prev} s ON p.query_id = s.query_id AND p.s = s.d
        GROUP BY p.query_id, p.d),
    sc{t} AS MATERIALIZED (
        SELECT c.query_id, c.d,
               {lam} * c.rel4 - {100 - lam} * COALESCE(ms{t}.ms, 0) AS score
        FROM cand c
        LEFT JOIN ms{t} ON ms{t}.query_id = c.query_id AND ms{t}.d = c.d
        WHERE NOT EXISTS (
            SELECT 1 FROM {prev} s
            WHERE s.query_id = c.query_id AND s.d = c.d)),
    pick{t} AS MATERIALIZED (
        SELECT query_id, d, score, {t} AS rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, d) AS rn FROM sc{t})
        WHERE rn = 1),
    {out} AS MATERIALIZED (
        SELECT query_id, d, score, rnk FROM {prev}
        UNION ALL
        SELECT query_id, d, score, rnk FROM pick{t})
    """


_MMR_ORACLE = (
    f"""
    WITH mq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    mc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    mscored AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
        FROM mc, mq WHERE neighbor_id <> query_id),
    cand AS MATERIALIZED (
        SELECT query_id, neighbor_id AS d,
               CAST(round(cosine * 10000.0) AS BIGINT) AS rel4
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM mscored)
        WHERE rnk <= 20),
    mpairs AS MATERIALIZED (
        SELECT a.query_id, a.d, b.d AS s, a.rel4,
               CAST(round(round({{dab}} / ({{nva}} * {{nvb}}), 4) * 10000.0) AS BIGINT) AS sim4
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id AND a.d <> b.d
        JOIN embeddings va ON va.vec_id = a.d
        JOIN embeddings vb ON vb.vec_id = b.d),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS d,
                    CAST(NULL AS BIGINT) AS score, CAST(NULL AS INT) AS rnk
             WHERE false),
    """.format(
        dab=_dot64("va.embedding", "vb.embedding"),
        nva=_NORM.format(v="va.embedding"),
        nvb=_NORM.format(v="vb.embedding"),
    )
    + ",".join(_mmr_iter_sql(t) for t in range(1, 11))
    + """
    SELECT query_id, CAST(rnk AS INT) AS mmr_rank, d AS neighbor_id,
           CAST(score AS BIGINT) AS mmr_score
    FROM sel10
    """
)


@register("ann_mmr_rerank", _MMR_ORACLE)
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (``similarity.mmr_rerank``): pick 10 of
    each query's top-20 exact neighbors greedily maximizing
    0.7·relevance − 0.3·max-similarity-to-picked — the RAG context
    diversifier. Distributed candidate generation + integer-exact
    Arrow-batched greedy per query group; the oracle replays all 10
    picks through unrolled MATERIALIZED CTE rounds."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return sim.mmr_rerank(emb, q, k=10, candidates=20)


def _dotn(a: str, b: str, n: int) -> str:
    """DuckDB sequential-fold dot product over the first ``n`` dims."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range({n}), "
        f"i -> CAST({a}[i + 1] AS DOUBLE) * CAST({b}[i + 1] AS DOUBLE))), (x, y) -> x + y)"
    )


_MAT_DIMS = 16


def _norm_n(v: str, n: int) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range({n}), "
        f"i -> CAST({v}[i + 1] AS DOUBLE) * CAST({v}[i + 1] AS DOUBLE))), (x, y) -> x + y))"
    )


@register(
    "emb_matryoshka_recall",
    f"""
    WITH mrq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    mrc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    mr_trunc AS (
        SELECT query_id, neighbor_id,
               round({_dotn('qv', 'cv', _MAT_DIMS)}
                     / ({_norm_n('qv', _MAT_DIMS)} * {_norm_n('cv', _MAT_DIMS)}), 4) AS tcos
        FROM mrc, mrq WHERE neighbor_id <> query_id),
    mr_trank AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY tcos DESC, neighbor_id) AS rnk
        FROM mr_trunc),
    mr_t5 AS (SELECT query_id, neighbor_id FROM mr_trank WHERE rnk <= 5),
    mr_full AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS fcos
        FROM mrc, mrq WHERE neighbor_id <> query_id),
    mr_frank AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY fcos DESC, neighbor_id) AS rnk
        FROM mr_full),
    mr_f5 AS (SELECT query_id, neighbor_id FROM mr_frank WHERE rnk <= 5),
    mr_hits AS (
        SELECT a.query_id, count(*) AS h
        FROM mr_t5 a JOIN mr_f5 b USING (query_id, neighbor_id)
        GROUP BY a.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h, 0) AS BIGINT) AS trunc_hits,
           CAST(COALESCE(h, 0) * 20 AS BIGINT) AS recall_pct
    FROM (SELECT DISTINCT query_id FROM mrq) q LEFT JOIN mr_hits USING (query_id)
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation tradeoff: recall@5 of cosine search over
    the first 16 of 64 dimensions against the full-dimension exact
    ranking — the gauge an MRL-embedding deployment reads when picking
    how many prefix dims the cheap first-pass scan keeps (4× less IO,
    same refine pattern as SQ8). Both towers share the brute-force
    plan: broadcast queries, unshuffled corpus, per-query top-k.

    On the synthetic near-uniform fixture embeddings the measured
    recall is LOW (~10–15%) — correct behavior: prefix search is only
    valid for matryoshka-TRAINED embeddings, and this gauge is exactly
    how a pipeline detects that its embeddings aren't."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    trunc = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _MAT_DIMS).alias("embedding")
    )
    tq = trunc.filter(F.col("vec_id") < 8)
    t5 = sim.brute_force_topk(trunc, tq, k=5).select("query_id", "neighbor_id")
    f5 = sim.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    hits = (
        t5.join(f5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    ids = q.select(F.col("vec_id").alias("query_id")).distinct()
    return ids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("trunc_hits"),
        (F.coalesce(F.col("h"), F.lit(0)) * 20).cast("long").alias("recall_pct"),
    )


# SQ8 scalar quantization replay: per-dim min/max in 1e-7 integer units,
# floor-division codes, dequantized 1e-4-unit ints, symmetric integer
@register(
    "emb_random_projection_recall",
    f"""
    WITH rp_in AS (SELECT unnest(range(64)) AS i),
    rp_out AS (SELECT unnest(range(16)) AS j),
    rp_signs AS (
        SELECT i, j,
               CAST(1 - 2 * ({hex_to_long("md5(concat('rp:', i, ':', j))", 1, 8)} % 2)
                    AS BIGINT) AS s
        FROM rp_in, rp_out),
    rp_v AS (
        SELECT vec_id, d.i AS i,
               CAST(round(CAST(embedding[d.i + 1] AS DOUBLE) * 10000.0) AS BIGINT) AS v4
        FROM embeddings, rp_in d),
    rp_proj AS (
        SELECT vec_id, j, CAST(sum(v4 * s) AS BIGINT) AS p
        FROM rp_v JOIN rp_signs USING (i) GROUP BY vec_id, j),
    rp_n2 AS (SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS n2
              FROM rp_proj GROUP BY vec_id),
    rp_dot AS (
        SELECT qp.vec_id AS query_id, cp.vec_id AS neighbor_id,
               CAST(sum(qp.p * cp.p) AS BIGINT) AS d
        FROM rp_proj qp JOIN rp_proj cp USING (j)
        WHERE qp.vec_id < 8 AND cp.vec_id <> qp.vec_id
        GROUP BY qp.vec_id, cp.vec_id),
    rp_scored AS (
        SELECT query_id, neighbor_id,
               round(CAST(d AS DOUBLE)
                     / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(cb.n2 AS DOUBLE))),
                     4) AS pcos
        FROM rp_dot
        JOIN rp_n2 qa ON qa.vec_id = rp_dot.query_id
        JOIN rp_n2 cb ON cb.vec_id = rp_dot.neighbor_id),
    rp_rank AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY pcos DESC, neighbor_id) AS rnk
        FROM rp_scored),
    rp_t5 AS (SELECT query_id, neighbor_id FROM rp_rank WHERE rnk <= 5),
    rp_fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    rp_fc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    rp_full AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS fcos
        FROM rp_fc, rp_fq WHERE neighbor_id <> query_id),
    rp_frank AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY fcos DESC, neighbor_id) AS rnk
        FROM rp_full),
    rp_f5 AS (SELECT query_id, neighbor_id FROM rp_frank WHERE rnk <= 5),
    rp_hits AS (
        SELECT a.query_id, count(*) AS h
        FROM rp_t5 a JOIN rp_f5 b USING (query_id, neighbor_id)
        GROUP BY a.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h, 0) AS BIGINT) AS rp_hits,
           CAST(COALESCE(h, 0) * 20 AS BIGINT) AS recall_pct
    FROM (SELECT DISTINCT query_id FROM rp_fq) q LEFT JOIN rp_hits USING (query_id)
    """,
)
def emb_random_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign projection 64→16 dims + recall@5 vs
    the full-dimension exact ranking — the dimensionality-reduction rung
    between matryoshka prefix-truncation (needs trained embeddings) and
    SQ8 (keeps all dims): JL needs NO training at all, the ±1 matrix is
    md5-derived index metadata (``sim.jl_sign_matrix``) inlined as
    literals, so encoding is a shuffle-free projection on any corpus.

    Integer-exact: coordinates quantize to 1e-4 BIGINT units and the
    16-dim products stay ≤ ~2e12 — exact in BIGINT and double, so the
    DuckDB oracle re-derives the matrix from md5 itself and replays the
    projection end-to-end. Both towers ride the standard broadcast-
    query brute-force plan."""
    emb = load_table(spark, "embeddings", sf_dir)
    proj = sim.random_project(emb, in_dim=64, out_dim=16, unit=10_000)
    pvecs = proj.select("vec_id", F.col("rp").alias("embedding"))
    p5 = sim.brute_force_topk(
        pvecs, pvecs.filter(F.col("vec_id") < 8), k=5
    ).select("query_id", "neighbor_id")
    f5 = sim.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5
    ).select("query_id", "neighbor_id")
    hits = (
        p5.join(f5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    ids = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"))
        .distinct()
    )
    return ids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("rp_hits"),
        (F.coalesce(F.col("h"), F.lit(0)) * 20).cast("long").alias("recall_pct"),
    )


@register(
    "emb_bitext_margin_mining",
    f"""
    WITH bm_q AS (SELECT vec_id AS sid, embedding AS qv FROM embeddings
                  WHERE label % 2 = 0),
    bm_c AS (SELECT vec_id AS tid, embedding AS cv FROM embeddings
             WHERE label % 2 = 1),
    bm_cos AS (
        SELECT sid, tid,
               CAST(round(({_DOT_QC} / ({_NORM.format(v='qv')}
                    * {_NORM.format(v='cv')})) * 10000) AS BIGINT) AS c4
        FROM bm_c, bm_q),
    bm_a AS (
        SELECT sid, CAST(sum(c4) AS BIGINT) AS a_sum FROM (
            SELECT *, row_number() OVER (PARTITION BY sid
                          ORDER BY c4 DESC, tid) AS rnk
            FROM bm_cos) WHERE rnk <= 4 GROUP BY sid),
    bm_b AS (
        SELECT tid, CAST(sum(c4) AS BIGINT) AS b_sum FROM (
            SELECT *, row_number() OVER (PARTITION BY tid
                          ORDER BY c4 DESC, sid) AS rnk
            FROM bm_cos) WHERE rnk <= 4 GROUP BY tid),
    bm_m AS (
        SELECT sid, tid, c4, (8000 * c4) // (a_sum + b_sum) AS margin_milli
        FROM bm_cos JOIN bm_a USING (sid) JOIN bm_b USING (tid)
        WHERE c4 > 0 AND a_sum + b_sum > 0),
    bm_best AS (
        SELECT *, row_number() OVER (PARTITION BY sid
                      ORDER BY margin_milli DESC, tid) AS rnk
        FROM bm_m)
    SELECT sid AS src_id, tid AS tgt_id, c4 AS cos_c4, margin_milli
    FROM bm_best WHERE rnk = 1 AND margin_milli >= 1050
    """,
)
def emb_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining with the margin criterion (CCMatrix/LASER): the
    label-parity halves of the embedding table stand in for the two
    languages; each source keeps its argmax-margin target when
    margin > 1.05 — the hubness-robust replacement for an absolute
    cosine cutoff. ``sim.margin_mining``: integer-exact margins
    ((8000·c4) DIV top-k-sums with a nonnegativity pre-filter so
    truncating DIV = floor cross-engine); at 100 TB the scoring join
    takes ANN candidates instead of the exact cross join, same
    margin/argmax tail. 180 pairs mined at sf0.01."""
    emb = load_table(spark, "embeddings", sf_dir)
    src = emb.filter(F.col("label") % 2 == 0)
    tgt = emb.filter(F.col("label") % 2 == 1)
    return sim.margin_mining(src, tgt, k=4, threshold_milli=1050)


# inner product. Every division is nonnegative-integer floor division,
# so DuckDB `//` equals Spark's floor(double-div) exactly (proof in
# functions/quantize.py module docstring).
_SQ_DEQ_CTES = """
    dims AS (SELECT unnest(range(64)) AS i),
    v AS (
        SELECT vec_id, d.i AS i,
               CAST(round(CAST(embedding[d.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT) AS v7
        FROM embeddings, dims d),
    stats AS (SELECT i, min(v7) AS mn, max(v7) AS mx FROM v GROUP BY i),
    sq_codes AS (
        SELECT vec_id, v.i AS i, mn, mx,
               CASE WHEN mx = mn THEN 0
                    ELSE ((v7 - mn) * 255) // (mx - mn) END AS code
        FROM v JOIN stats USING (i)),
    deq AS (
        SELECT vec_id, i,
               (mn * 255 + code * (mx - mn) + 2550000000) // 255000 - 10000 AS d4
        FROM sq_codes),
    sq_q AS (SELECT vec_id AS query_id, i, d4 FROM deq WHERE vec_id < 8),
    sq_scored AS (
        SELECT sq_q.query_id, c.vec_id AS neighbor_id,
               CAST(sum(sq_q.d4 * c.d4) AS BIGINT) AS ip4
        FROM deq c JOIN sq_q ON c.i = sq_q.i AND c.vec_id <> sq_q.query_id
        GROUP BY sq_q.query_id, c.vec_id),
    sq_ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY ip4 DESC, neighbor_id) AS rank
        FROM sq_scored)
"""


@register(
    "emb_binary_hamming_topk",
    """
    WITH d32 AS (SELECT unnest(range(32)) AS i),
    sig AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN CAST(round(CAST(embedding[d.i + 1] AS DOUBLE)
                                  * 10000000.0) AS BIGINT) > 0
                        THEN CAST(2 ** d.i AS BIGINT) ELSE 0 END) AS BIGINT) AS h1,
               CAST(sum(CASE WHEN CAST(round(CAST(embedding[d.i + 33] AS DOUBLE)
                                  * 10000000.0) AS BIGINT) > 0
                        THEN CAST(2 ** d.i AS BIGINT) ELSE 0 END) AS BIGINT) AS h2
        FROM embeddings, d32 d GROUP BY vec_id),
    bq AS (SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM sig WHERE vec_id < 8),
    bscored AS (
        SELECT query_id, vec_id AS neighbor_id,
               CAST(bit_count(xor(q1, h1)) + bit_count(xor(q2, h2)) AS BIGINT) AS hamming
        FROM sig, bq WHERE vec_id <> query_id),
    branked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY hamming, neighbor_id) AS rank
        FROM bscored)
    SELECT query_id, rank, neighbor_id, hamming FROM branked WHERE rank <= 5
    """,
)
def emb_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary-signature Hamming top-k (``quantize.hamming_topk``):
    the 32×-compression rung of the quantization family (binary →
    SQ8 → PQ → float rerank). Sign bits snapped on the 1e-7 integer
    unit, packed into two 32-bit halves; XOR+popcount scoring stays
    JVM-side (`bit_count`)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return qt.hamming_topk(emb, q, k=5)


@register(
    "emb_sq_topk",
    f"""
    WITH {_SQ_DEQ_CTES}
    SELECT query_id, rank, neighbor_id, ip4 FROM sq_ranked WHERE rank <= 5
    """,
)
def emb_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantized top-k: the 4×-smaller code scan of an SQ,Refine
    retrieval stack. The quantizer (per-dim min/max) is one
    partial-aggregable corpus scan; encoding is a projection under a
    broadcast of that one row; search is the usual broadcast-query
    top-k. Integer-exact end to end (functions/quantize.py).

    Round-9 optimization: scoring runs through the int64-matmul Arrow
    path (``sq_topk_vectorized``, bit-identical to the expression form
    — pinned in tests/test_quantize.py::test_sq_topk_vectorized_bit_identical)
    — measured faster at sf0.1 warm (~1.4 s vs ~1.8 s) and 20.2 s vs
    31.6 s on the ×100 ladder; the expression form stays available as
    ``quantize.sq_topk`` and is exercised by emb_sq_refine/ndcg."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return qt.sq_topk_vectorized(
        emb, q, k=5, num_partitions=spread_partitions(spark, emb)
    )


@register(
    "emb_sq_topk_vec",
    f"""
    WITH {_SQ_DEQ_CTES}
    SELECT query_id, rank, neighbor_id, ip4 FROM sq_ranked WHERE rank <= 5
    """,
)
def emb_sq_topk_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``emb_sq_topk``'s compute-bound scale path: identical trained
    quantizer and native encode, but pair scoring is an exact int64
    matmul per Arrow batch with a local top-k prune before the shuffle
    (``quantize.sq_topk_vectorized``) — the per-pair interpreted
    ``aggregate(zip_with)`` fold was the 31.6 s ×100-ladder wall of
    the expression form. Same oracle; bit-identical results (pinned in
    tests/test_quantize.py)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return qt.sq_topk_vectorized(
        emb, q, k=5, num_partitions=spread_partitions(spark, emb)
    )


@register(
    "emb_sq_refine_topk",
    f"""
    WITH {_SQ_DEQ_CTES},
    sq20 AS (SELECT query_id, neighbor_id FROM sq_ranked WHERE rank <= 20),
    rq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    rc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    rescored AS (
        SELECT s.query_id, s.neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
        FROM sq20 s
        JOIN rq ON rq.query_id = s.query_id
        JOIN rc ON rc.neighbor_id = s.neighbor_id),
    reranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank
        FROM rescored)
    SELECT query_id, rank, neighbor_id, cosine FROM reranked WHERE rank <= 5
    """,
)
def emb_sq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed SQ,Refine serving stack (the deployment shape the
    quantize module documents): the 4×-smaller SQ8 code scan nominates
    top-20 candidates per query, then ONLY those 160 rows fetch their
    float vectors for the exact cosine re-rank to top-5. At 100 TB the
    refine join touches queries·20 rows of the float store — the
    expensive column never scans corpus-wide."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    cand = qt.sq_topk_vectorized(
        emb, q, k=20, num_partitions=spread_partitions(spark, emb)
    ).select("query_id", "neighbor_id")
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        sim.norm(F.col("embedding")).alias("_qn"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        sim.norm(F.col("embedding")).alias("_cn"),
    )
    rescored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                sim.dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                4,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# nDCG contribution: rel/log2(rank+1) rounded per term then summed in
# DECIMAL — order-free, so the float only appears in an order-fixed
# per-row expression both engines evaluate identically (log-derived
# continuous values; exact halves are measure-zero — the tfidf rule)
_NDCG_K = 10


def _ndcg_sql(ranked: str, rank_col: str, method: str) -> str:
    """Per-query nDCG@10 of a (query_id, {rank_col}, neighbor_id)
    ranking against label relevance (neighbor label == query label)."""
    return f"""
    SELECT '{method}' AS method, r.query_id,
           CAST(sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rel_topk,
           round(CAST(sum(CAST(round(
                     CASE WHEN cl.label = ql.label
                          THEN 1.0 / log2(CAST(r.{rank_col} AS DOUBLE) + 1.0)
                          ELSE 0.0 END, 9) AS DECIMAL(20,9))) AS DOUBLE)
                 / idcg.v, 6) AS ndcg
    FROM {ranked} r
    JOIN embeddings cl ON cl.vec_id = r.neighbor_id
    JOIN embeddings ql ON ql.vec_id = r.query_id
    JOIN ndcg_ideal idcg ON idcg.query_id = r.query_id
    WHERE r.{rank_col} <= {_NDCG_K}
    GROUP BY r.query_id, idcg.v
    """


@register(
    "retrieval_ndcg_eval",
    f"""
    WITH {_SQ_DEQ_CTES},
    d32 AS (SELECT unnest(range(32)) AS i),
    bsig AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN CAST(round(CAST(embedding[d.i + 1] AS DOUBLE)
                                  * 10000000.0) AS BIGINT) > 0
                        THEN CAST(2 ** d.i AS BIGINT) ELSE 0 END) AS BIGINT) AS h1,
               CAST(sum(CASE WHEN CAST(round(CAST(embedding[d.i + 33] AS DOUBLE)
                                  * 10000000.0) AS BIGINT) > 0
                        THEN CAST(2 ** d.i AS BIGINT) ELSE 0 END) AS BIGINT) AS h2
        FROM embeddings, d32 d GROUP BY vec_id),
    bq2 AS (SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM bsig WHERE vec_id < 8),
    branked2 AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY hamming, neighbor_id) AS rank
        FROM (SELECT query_id, vec_id AS neighbor_id,
                     bit_count(xor(q1, h1)) + bit_count(xor(q2, h2)) AS hamming
              FROM bsig, bq2 WHERE vec_id <> query_id)),
    eq2 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    ec2 AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    eranked2 AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rank
        FROM (SELECT query_id, neighbor_id,
                     round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
              FROM ec2, eq2 WHERE neighbor_id <> query_id)),
    ndcg_ideal AS (
        -- ideal DCG: the query's total relevant corpus neighbors,
        -- capped at k, ranked 1..R — same rounded-DECIMAL fold
        SELECT q.vec_id AS query_id,
               CAST(sum(CAST(round(1.0 / log2(CAST(g.i AS DOUBLE) + 1.0), 9)
                        AS DECIMAL(20,9))) AS DOUBLE) AS v
        FROM (SELECT vec_id, label FROM embeddings WHERE vec_id < 8) q
        JOIN (SELECT CAST(least({_NDCG_K},
                     (SELECT count(*) FROM embeddings c
                      WHERE c.label = q2.label AND c.vec_id <> q2.vec_id))
                     AS BIGINT) AS r, q2.vec_id
              FROM embeddings q2 WHERE q2.vec_id < 8) rr
          ON rr.vec_id = q.vec_id
        CROSS JOIN (SELECT unnest(range(1, {_NDCG_K} + 1)) AS i) g
        WHERE g.i <= rr.r
        GROUP BY q.vec_id),
    m_exact AS ({_ndcg_sql("eranked2", "rank", "exact")}),
    m_sq AS ({_ndcg_sql("sq_ranked", "rank", "sq8")}),
    m_bin AS ({_ndcg_sql("branked2", "rank", "binary")})
    SELECT * FROM m_exact UNION ALL SELECT * FROM m_sq
    UNION ALL SELECT * FROM m_bin
    """,
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness: nDCG@10 of the exact, SQ8, and
    binary-Hamming rankings against label relevance (neighbor shares
    the query's label) — how a deployment quantifies what each
    compression rung costs in ranking quality, not just recall.
    Per-term contributions are rounded then DECIMAL-summed
    (order-free); the ideal DCG caps at the query's relevant-corpus
    count."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    labels = emb.select("vec_id", "label")
    qlab = labels.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    # ideal DCG per query
    rel_count = (
        emb.alias("c")
        .join(F.broadcast(qlab), F.col("c.label") == F.col("qlabel"))
        .filter(F.col("c.vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.least(F.lit(_NDCG_K), F.count(F.lit(1))).alias("r"))
    )
    grid = rel_count.select(
        "query_id",
        F.explode(F.sequence(F.lit(1), F.lit(_NDCG_K))).alias("i"),
        "r",
    ).filter(F.col("i") <= F.col("r"))
    ideal = grid.groupBy("query_id").agg(
        F.sum(
            F.round(
                F.lit(1.0) / F.log2(F.col("i").cast("double") + 1.0), 9
            ).cast("decimal(20,9)")
        )
        .cast("double")
        .alias("v")
    )

    def ndcg_of(ranked: DataFrame, method: str) -> DataFrame:
        topk = ranked.filter(F.col("rank") <= _NDCG_K)
        j = (
            topk.join(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nlabel"),
                ),
                "neighbor_id",
            )
            .join(F.broadcast(qlab), "query_id")
            .join(F.broadcast(ideal), "query_id")
        )
        rel = F.col("nlabel") == F.col("qlabel")
        contrib = F.round(
            F.when(
                rel, F.lit(1.0) / F.log2(F.col("rank").cast("double") + 1.0)
            ).otherwise(0.0),
            9,
        ).cast("decimal(20,9)")
        return j.groupBy("query_id", "v").agg(
            F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_rel_topk"),
            F.round(F.sum(contrib).cast("double") / F.first("v"), 6).alias("ndcg"),
        ).select(
            F.lit(method).alias("method"), "query_id", "n_rel_topk", "ndcg"
        )

    # round-9: both dense towers run the vectorized scorers (pinned
    # bit-identical to the expression forms at k ∈ {5, 10, 20})
    spread = spread_partitions(spark, emb)
    exact = sim.brute_force_topk_vectorized(
        emb, q, k=_NDCG_K, num_partitions=spread
    )
    sq = qt.sq_topk_vectorized(emb, q, k=_NDCG_K, num_partitions=spread)
    binr = qt.hamming_topk(emb, q, k=_NDCG_K)
    return (
        ndcg_of(exact, "exact")
        .unionByName(ndcg_of(sq, "sq8"))
        .unionByName(ndcg_of(binr, "binary"))
    )


@register(
    "emb_sq_recall",
    f"""
    WITH {_SQ_DEQ_CTES},
    sq5 AS (SELECT query_id, neighbor_id FROM sq_ranked WHERE rank <= 5),
    qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    ce AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    ex_scored AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
        FROM ce, qe WHERE neighbor_id <> query_id),
    ex_ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS erank
        FROM ex_scored),
    ex5 AS (SELECT query_id, neighbor_id FROM ex_ranked WHERE erank <= 5),
    hits AS (
        SELECT s.query_id, count(*) AS h
        FROM sq5 s JOIN ex5 e USING (query_id, neighbor_id)
        GROUP BY s.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h, 0) AS BIGINT) AS sq_hits,
           CAST(COALESCE(h, 0) * 20 AS BIGINT) AS recall_pct
    FROM (SELECT DISTINCT query_id FROM qe) q LEFT JOIN hits USING (query_id)
    """,
)
def emb_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the quantized scan against the exact ranking — the
    quality gauge a deployment watches when it tunes quantization
    (SQ8 here; the same harness applies to PQ). Both top-k frames are
    tiny (|queries|·k rows); the measurement is a join of the two.
    Round-9: the SQ tower runs the int64-matmul Arrow path (same
    rationale and bit-equality pin as ``emb_sq_topk``)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    spread = spread_partitions(spark, emb)
    sq5 = qt.sq_topk_vectorized(
        emb, q, k=5, num_partitions=spread
    ).select("query_id", "neighbor_id")
    ex5 = sim.brute_force_topk_vectorized(
        emb, q, k=5, num_partitions=spread
    ).select("query_id", "neighbor_id")
    hits = (
        sq5.join(ex5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    ids = q.select(F.col("vec_id").alias("query_id")).distinct()
    return ids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("sq_hits"),
        (F.coalesce(F.col("h"), F.lit(0)) * 20).cast("long").alias("recall_pct"),
    )


def _kmeans_iter_sql(prev: str, out: str) -> str:
    """One DuckDB Lloyd iteration mirroring ``sim.train_centroids``:
    assign cells by rounded-cosine argmax vs ``prev``, then the
    decimal-exact elementwise mean in integer units of 1e-7."""
    return f"""
    score_{out} AS (
        SELECT e.vec_id, e.embedding, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN {prev} c),
    assign_{out} AS (
        SELECT vec_id, embedding, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM score_{out}),
    expl_{out} AS (
        SELECT cell, UNNEST(list_transform(range(64),
                 i -> {{'pos': i, 'val': CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)}})) AS u
        FROM assign_{out} WHERE rn = 1),
    mean_{out} AS (
        SELECT cell, u.pos AS pos,
               CAST(CAST(round(CAST(sum(CAST(u.val AS DECIMAL(38,0))) AS DOUBLE)
                    / count(*)) AS BIGINT) AS DOUBLE) / 10000000.0 AS m
        FROM expl_{out} GROUP BY cell, u.pos),
    {out} AS (
        SELECT c.cid, coalesce(nl.cv, c.cv) AS cv
        FROM {prev} c LEFT JOIN
             (SELECT cell, list(m ORDER BY pos) AS cv FROM mean_{out} GROUP BY cell) nl
        ON c.cid = nl.cell)"""


@register(
    "ann_ivf_topk",
    f"""
    WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 16),
    {_kmeans_iter_sql('c0', 'c1')},
    {_kmeans_iter_sql('c1', 'c2')},
    cent AS (SELECT cid, cv FROM c2),
    ascore AS (
        SELECT e.vec_id, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
    assign AS (
        SELECT vec_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore),
    cell AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore WHERE vec_id < 8),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS nv, cl.cell
          FROM embeddings e JOIN cell cl ON e.vec_id = cl.vec_id),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               round({_dot64('q.qv', 'c.nv')}
                     / ({_NORM.format(v='q.qv')} * {_NORM.format(v='c.nv')}), 4) + 0.0 AS cosine
        FROM c JOIN probe p ON c.cell = p.cell AND p.rn <= 4
               JOIN q ON q.query_id = p.query_id
        WHERE c.neighbor_id <> p.query_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nlist=16 k-means centroids (2 Lloyd iterations, seeded
    from the lowest-id vectors), nprobe=4 probed cells. Training is
    engine-exact (see ``sim.train_centroids``) so the DuckDB oracle
    replays it bit-for-bit. Training runs once per (dataset, nlist)
    via the persistent ``sim.trained_centroids`` store — the query
    itself only inlines the cached literals (offline index build vs
    query work, the 100 TB separation)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    return sim.ivf_topk(
        emb, q, k=5, nlist=16, nprobe=4, centroids=cents,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


@register(
    "emb_ivf_cell_stats",
    f"""
    WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 16),
    {_kmeans_iter_sql('c0', 'c1')},
    {_kmeans_iter_sql('c1', 'c2')},
    cent AS (SELECT cid, cv FROM c2),
    csc AS (
        SELECT e.vec_id, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
    cassign AS (
        SELECT vec_id, cid AS cell,
               CAST(round(cos * 10000) AS BIGINT) AS c4,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM csc)
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(floor(CAST(sum(c4) AS DOUBLE) / count(*)) AS BIGINT) AS mean_cos_c4,
           min(c4) AS min_cos_c4, max(c4) AS max_cos_c4
    FROM cassign WHERE rn = 1 GROUP BY cell
    """,
)
def emb_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health report (``sim.ivf_cell_stats``): per-cell
    occupancy (probe-cost skew) and cohesion (mean/min/max cosine to
    the owning centroid, exact 1e-4 integers) over the SAME persisted
    centroid store every IVF search query uses — the diagnostics pass
    a vector-store operator runs after each index build. Assignment is
    the search-time shuffle-free literal fold; the report is one
    partial-agg groupBy over ≤nlist groups."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    return sim.ivf_cell_stats(emb, centroids=cents)


@register("ann_ivf_topk_vec", QUERIES["ann_ivf_topk"].oracle)
def ann_ivf_topk_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, fused BLAS kernel — same trained centroids and oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    return sim.ivf_topk_vectorized(
        emb, q, k=5, nlist=16, nprobe=4, centroids=cents
    )


@register(
    "dedup_semantic",
    f"""
    WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 16),
    {_kmeans_iter_sql('c0', 'c1')},
    {_kmeans_iter_sql('c1', 'c2')},
    cent AS (SELECT cid, cv FROM c2),
    ascore AS (
        SELECT e.vec_id, e.embedding, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
    assign AS (
        SELECT vec_id, embedding, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore),
    cellv AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell, embedding
              FROM assign WHERE rn = 1),
    dups AS (
        SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
        FROM cellv a JOIN cellv b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round({_dot64('a.embedding', 'b.embedding')}
                    / ({_NORM.format(v='a.embedding')} * {_NORM.format(v='b.embedding')}), 4) >= 0.4
        GROUP BY b.vec_id)
    SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS keep
    FROM cellv c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): k-means cells bound the quadratic
    step; within-cell cosine >= eps marks duplicates, keep-lowest-id
    survives. Same trained-centroid store as the IVF queries (one
    offline index build serves both); cell assignment is a shuffle-free
    projection and the pair step is an equi-join on cell (plan-pinned)."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    return sim.semantic_dedup(emb, centroids=cents, eps=0.4)


_PQ_M, _PQ_KSUB, _PQ_DSUB = 8, 16, 8  # 64 dims = 8 subspaces × 8


def _pq_oracle() -> str:
    m, ksub, dsub = _PQ_M, _PQ_KSUB, _PQ_DSUB
    # assignment score |c|² − 2·dot (the constant |sub|² term dropped —
    # same argmin as L2², mirrored exactly by the Spark encode)
    l2 = (
        f"c.n2 - 2.0 * list_reduce(list_prepend(0.0, list_transform(range({dsub}), "
        f"i -> CAST(e.embedding[c.j*{dsub} + i + 1] AS DOUBLE) * c.cv[i+1])), "
        "(x,y) -> x + y)"
    )
    return f"""
    WITH cb AS (
        SELECT g.j, e.vec_id AS k,
               list_transform(range({dsub}),
                   i -> CAST(e.embedding[g.j*{dsub} + i + 1] AS DOUBLE)) AS cv
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range({m})) AS j) g
        WHERE e.vec_id < {ksub}),
    cbn AS (
        SELECT j, k, cv,
               list_reduce(list_prepend(0.0, list_transform(range({dsub}),
                   i -> cv[i+1] * cv[i+1])), (x,y) -> x + y) AS n2
        FROM cb),
    enc_scored AS (
        SELECT e.vec_id, c.j, c.k, c.n2,
               round({l2}, 6) + 0.0 AS d2
        FROM embeddings e CROSS JOIN cbn c),
    enc AS (
        SELECT vec_id, j, k AS code, n2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, j ORDER BY d2, k) AS rn
            FROM enc_scored) WHERE rn = 1),
    vecenc AS (
        SELECT vec_id,
               sqrt(list_reduce(list_prepend(0.0, list(n2 ORDER BY j)),
                    (x,y) -> x + y)) AS recon_norm
        FROM enc GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, embedding AS qv,
                 {_NORM.format(v='embedding')} AS q_norm
          FROM embeddings WHERE vec_id < 8),
    contrib AS (
        SELECT q.query_id, en.vec_id AS neighbor_id, en.j,
               list_reduce(list_prepend(0.0, list_transform(range({dsub}), i ->
                   CAST(q.qv[en.j*{dsub} + i + 1] AS DOUBLE) * en.cv[i + 1])),
                   (x,y) -> x + y) AS c
        FROM (SELECT e2.vec_id, e2.j, cb2.cv
              FROM enc e2 JOIN cbn cb2 ON cb2.j = e2.j AND cb2.k = e2.code) en
        CROSS JOIN q),
    approx AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list(c ORDER BY j)),
                   (x,y) -> x + y) AS adot
        FROM contrib GROUP BY query_id, neighbor_id),
    scored AS (
        SELECT a.query_id, a.neighbor_id,
               round(a.adot / (q.q_norm * v.recon_norm), 4) + 0.0 AS pq_cosine
        FROM approx a
        JOIN q USING (query_id)
        JOIN vecenc v ON v.vec_id = a.neighbor_id
        WHERE a.neighbor_id <> a.query_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY pq_cosine DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, pq_cosine FROM ranked WHERE rank <= 5
    """


_PQ_BOOK_CACHE: dict[tuple[str, str], list[list[list[float]]]] = {}


def _pq_books(emb: DataFrame, sf_dir: str) -> list[list[list[float]]]:
    """Seed codebooks once per dataset SNAPSHOT (a tiny 16-row collect,
    but no reason to re-run it every query invocation). Keyed by
    (sf_dir, fixture fingerprint) like _BITEXT_COUNT_CACHE: the seed
    books collect real vectors, so an in-place fixture regeneration
    must invalidate them or the oracle (which recomputes live) would
    spuriously mismatch."""
    key = (sf_dir, sources_fixture_fingerprint(f"{sf_dir}/embeddings.parquet"))
    if key not in _PQ_BOOK_CACHE:
        _PQ_BOOK_CACHE[key] = sim.pq_seed_codebooks(
            emb, m=_PQ_M, ksub=_PQ_KSUB
        )
    return _PQ_BOOK_CACHE[key]


@register("ann_pq_topk", _pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the compression half of the standard
    IVF+PQ 100 TB stack): the corpus is encoded to 8 sub-codes (8 bytes
    per vector instead of 256), queries score candidates by asymmetric
    distance — 8 codebook lookups per candidate, folded in the same
    sequential order as the oracle's ordered-list reduce. Codebooks are
    seeded from the 16 lowest-id vectors (no RNG) so DuckDB replays
    encode + ADC bit-for-bit; k-means-refined codebooks drop in as
    literals exactly like IVF's trained_centroids."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return sim.pq_topk(
        emb, q, _pq_books(emb, sf_dir), k=5,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


def _ivf_pq_oracle() -> str:
    """IVF pruning (trained k-means cells, nprobe=4) composed with PQ
    asymmetric-distance scoring — the PQ CTEs are textually identical
    to ``_pq_oracle``'s; the only change is the probe-cell join that
    restricts scored candidates to the query's probed cells."""
    m, ksub, dsub = _PQ_M, _PQ_KSUB, _PQ_DSUB
    l2 = (
        f"c.n2 - 2.0 * list_reduce(list_prepend(0.0, list_transform(range({dsub}), "
        f"i -> CAST(e.embedding[c.j*{dsub} + i + 1] AS DOUBLE) * c.cv[i+1])), "
        "(x,y) -> x + y)"
    )
    return f"""
    WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 16),
    {_kmeans_iter_sql('c0', 'c1')},
    {_kmeans_iter_sql('c1', 'c2')},
    cent AS (SELECT cid, cv FROM c2),
    ascore AS (
        SELECT e.vec_id, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
    assign AS (
        SELECT vec_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore),
    cellt AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore WHERE vec_id < 8),
    cb AS (
        SELECT g.j, e.vec_id AS k,
               list_transform(range({dsub}),
                   i -> CAST(e.embedding[g.j*{dsub} + i + 1] AS DOUBLE)) AS cv
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range({m})) AS j) g
        WHERE e.vec_id < {ksub}),
    cbn AS (
        SELECT j, k, cv,
               list_reduce(list_prepend(0.0, list_transform(range({dsub}),
                   i -> cv[i+1] * cv[i+1])), (x,y) -> x + y) AS n2
        FROM cb),
    enc_scored AS (
        SELECT e.vec_id, c.j, c.k, c.n2,
               round({l2}, 6) + 0.0 AS d2
        FROM embeddings e CROSS JOIN cbn c),
    enc AS (
        SELECT vec_id, j, k AS code, n2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, j ORDER BY d2, k) AS rn
            FROM enc_scored) WHERE rn = 1),
    vecenc AS (
        SELECT vec_id,
               sqrt(list_reduce(list_prepend(0.0, list(n2 ORDER BY j)),
                    (x,y) -> x + y)) AS recon_norm
        FROM enc GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, embedding AS qv,
                 {_NORM.format(v='embedding')} AS q_norm
          FROM embeddings WHERE vec_id < 8),
    contrib AS (
        SELECT q.query_id, en.vec_id AS neighbor_id, en.j,
               list_reduce(list_prepend(0.0, list_transform(range({dsub}), i ->
                   CAST(q.qv[en.j*{dsub} + i + 1] AS DOUBLE) * en.cv[i + 1])),
                   (x,y) -> x + y) AS c
        FROM (SELECT e2.vec_id, e2.j, cb2.cv
              FROM enc e2 JOIN cbn cb2 ON cb2.j = e2.j AND cb2.k = e2.code) en
        CROSS JOIN q),
    approx AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list(c ORDER BY j)),
                   (x,y) -> x + y) AS adot
        FROM contrib GROUP BY query_id, neighbor_id),
    scored AS (
        SELECT a.query_id, a.neighbor_id,
               round(a.adot / (q.q_norm * v.recon_norm), 4) + 0.0 AS pq_cosine
        FROM approx a
        JOIN q USING (query_id)
        JOIN vecenc v ON v.vec_id = a.neighbor_id
        JOIN cellt ct ON ct.vec_id = a.neighbor_id
        JOIN probe p ON p.query_id = a.query_id AND p.cell = ct.cell AND p.rn <= 4
        WHERE a.neighbor_id <> a.query_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY pq_cosine DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, pq_cosine FROM ranked WHERE rank <= 5
    """


@register("ann_ivf_pq_topk", _ivf_pq_oracle())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-vector serving stack (FAISS-IVFPQ shape):
    trained k-means cells prune candidates to nprobe=4 probed cells,
    PQ codes score the survivors by asymmetric distance (8 codebook
    lookups over an 8-byte code per candidate). Both index artifacts —
    centroid list and codebooks — come from the persistent offline
    stores, so the query itself is two narrow projections, one
    broadcast probe join, and a bounded top-k."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    return sim.ivf_pq_topk(
        emb, q, _pq_books(emb, sf_dir), k=5, nlist=16, nprobe=4,
        centroids=cents,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


_BUCKET = (
    "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END "
    "+ 2 * CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END "
    "+ 4 * CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END "
    "+ 8 * CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END)"
)


@register(
    "ann_lsh_buckets",
    f"""
    SELECT CAST({_BUCKET} AS INT) AS bucket, count(*) AS n_vectors
    FROM embeddings GROUP BY 1
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return sim.lsh_bucket_stats(emb)


@register(
    "ann_lsh_topk",
    f"""
    WITH base AS (SELECT vec_id, embedding, CAST({_BUCKET} AS INT) AS bucket FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM base WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM base),
    scored AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4) AS cosine
        FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    return sim.lsh_topk(emb, q, k=5)


#: corpus-size probe results for the bitext LSH bucket-bit derivation,
#: keyed by (dataset path, fixture fingerprint) — one count job per
#: corpus SNAPSHOT per process (the trained_centroids pattern: index
#: parameters are offline artifacts, not per-plan work). The
#: fingerprint (file size + mtime digest) invalidates the cache when a
#: dataset is regenerated in place at the same path, so the LSH bucket
#: bits can never go stale while the oracle's live count(*) moves
#: (ADVICE r6).
_BITEXT_COUNT_CACHE: dict[tuple[str, str], int] = {}


def _bitext_corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Cached one-job corpus-size probe for the bitext LSH (see
    _BITEXT_COUNT_CACHE)."""
    path = f"{sf_dir}/embeddings.parquet"
    key = (path, sources_fixture_fingerprint(path))
    n = _BITEXT_COUNT_CACHE.get(key)
    if n is None:
        n = load_table(spark, "embeddings", sf_dir).count()
        _BITEXT_COUNT_CACHE[key] = n
    return n


@register(
    "emb_bitext_margin_lsh",
    f"""
    WITH bl_bits AS (
        SELECT LEAST(16, GREATEST(2,
                   CAST(ceil(log2(GREATEST(count(*), 1) / 256.0)) AS INT)))
               AS bits
        FROM embeddings),
    bl_q AS (SELECT vec_id AS sid, embedding AS qv,
                    CAST(list_sum(list_transform(range(bits),
                        i -> CASE WHEN embedding[i + 1] > 0
                                  THEN (CAST(1 AS BIGINT) << i)
                                  ELSE 0 END)) AS INT) AS bucket
             FROM embeddings, bl_bits WHERE label % 2 = 0),
    bl_c AS (SELECT vec_id AS tid, embedding AS cv,
                    CAST(list_sum(list_transform(range(bits),
                        i -> CASE WHEN embedding[i + 1] > 0
                                  THEN (CAST(1 AS BIGINT) << i)
                                  ELSE 0 END)) AS INT) AS bucket
             FROM embeddings, bl_bits WHERE label % 2 = 1),
    bl_cos AS (
        SELECT sid, tid,
               CAST(round(({_DOT_QC} / ({_NORM.format(v='qv')}
                    * {_NORM.format(v='cv')})) * 10000) AS BIGINT) AS c4
        FROM bl_c JOIN bl_q USING (bucket)),
    bl_a AS (
        SELECT sid, CAST(sum(c4) AS BIGINT) AS a_sum FROM (
            SELECT *, row_number() OVER (PARTITION BY sid
                          ORDER BY c4 DESC, tid) AS rnk
            FROM bl_cos) WHERE rnk <= 4 GROUP BY sid),
    bl_b AS (
        SELECT tid, CAST(sum(c4) AS BIGINT) AS b_sum FROM (
            SELECT *, row_number() OVER (PARTITION BY tid
                          ORDER BY c4 DESC, sid) AS rnk
            FROM bl_cos) WHERE rnk <= 4 GROUP BY tid),
    bl_m AS (
        SELECT sid, tid, c4, (8000 * c4) // (a_sum + b_sum) AS margin_milli
        FROM bl_cos JOIN bl_a USING (sid) JOIN bl_b USING (tid)
        WHERE c4 > 0 AND a_sum + b_sum > 0),
    bl_best AS (
        SELECT *, row_number() OVER (PARTITION BY sid
                      ORDER BY margin_milli DESC, tid) AS rnk
        FROM bl_m)
    SELECT sid AS src_id, tid AS tgt_id, c4 AS cos_c4, margin_milli
    FROM bl_best WHERE rnk = 1 AND margin_milli >= 1050
    """,
)
def emb_bitext_margin_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of bitext mining: both language towers hash
    into sign-LSH buckets and the margin criterion scores only
    within-bucket candidates via an EQUI-join on the bucket id, so
    neighbourhood sums become within-bucket k-NN (the standard
    blocked-mining recall/cost trade; several bucket saltings recover
    recall). Same integer margin arithmetic and argmax tail as the
    exact ``emb_bitext_margin_mining``.

    The bucket count SCALES WITH THE CORPUS: bits =
    clamp(ceil(log2(N/256)), 2, 16), derived from one corpus-size
    probe job before the plan is built (the IVF-nlist pattern —
    parameter training is an offline job, not query work). A FIXED
    bucket space is still quadratic, just constant-factor cheaper:
    the round-6 ladder measured the old fixed-16-bucket form at 32×
    wall for 10× data (pairs = N²/64); with buckets ∝ N, within-bucket
    pair cost is ~N·256 — linear per decade. The oracle mirrors the
    same bits via a scalar subquery, so both engines agree at every
    scale factor."""
    import math

    emb = load_table(spark, "embeddings", sf_dir)
    # corpus-size probe: ONE count job per dataset snapshot, cached
    # like the centroid store (plan-only passes — window audit,
    # invariance sweeps — would otherwise pay a table scan per plan
    # build); max(n, 1) guards the empty corpus (log2 domain error —
    # mirrored in the oracle via GREATEST(count(*), 1))
    n = _bitext_corpus_count(spark, sf_dir)
    bits = min(16, max(2, math.ceil(math.log2(max(n, 1) / 256.0))))
    # size-adaptive spread (guide §2): the per-vector sign-LSH bucket
    # fold (bits × 64-dim dots) is pre-exchange CPU that would
    # otherwise run at the scan's split count on a big source
    spread = spread_partitions(spark, emb)
    if spread:
        emb = emb.repartition(spread, "vec_id")
    src = emb.filter(F.col("label") % 2 == 0)
    tgt = emb.filter(F.col("label") % 2 == 1)
    return sim.margin_mining(
        src, tgt, k=4, threshold_milli=1050, bucket_dims=tuple(range(bits))
    )


@register(
    "dedup_embedding_cosine",
    f"""
    WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 200),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               round(
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64),
                       i -> CAST(a.v[i + 1] AS DOUBLE) * CAST(b.v[i + 1] AS DOUBLE))), (x, y) -> x + y)
                   / ({_NORM.format(v='a.v')} * {_NORM.format(v='b.v')}), 4) AS cosine
        FROM base a JOIN base b ON a.id < b.id)
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return sim.embedding_near_dups(emb, threshold=0.3, max_id=200)


@register(
    "multimodal_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           lang, source
    FROM documents WHERE doc_id < 500
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payload + typed metadata
    columns (decode itself is stubbed — see decaton_spark.multimodal)."""
    docs = load_table(spark, "documents", sf_dir)
    blob = F.col("text").cast("binary")
    return docs.filter(F.col("doc_id") < 500).select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.md5(blob).alias("digest"),
        "lang",
        "source",
    )


# ---------------------------------------------------------------------------
# Additional surface: projections, serde, windows, set ops, rollup
# ---------------------------------------------------------------------------


@register(
    "f3_projection",
    f"""
    WITH {TASKS_CTE}
    SELECT key, meta_timestamp_millis, meta_retry_count, meta_scheduled_time_millis
    FROM tasks WHERE "offset" < 50
    """,
)
def f3_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 task-view projection (ProcessingContextImpl.metadata()/key(),
    ProcessingContextImpl.java:68-87): the narrow column set user
    processors see — and the column pruning Catalyst pushes to the scan."""
    from decaton_spark.operators import project_task_view

    tasks = _tasks(spark, sf_dir).filter(F.col("offset") < 50)
    return project_task_view(tasks).drop(
        "meta_source_application_id", "meta_source_instance_id"
    )


@register(
    "s7_serde_roundtrip",
    f"""
    WITH {TASKS_CTE}
    SELECT "offset", '{{"k":' || CAST(CAST(value->>'k' AS BIGINT) AS VARCHAR) || '}}' AS reserialized
    FROM tasks WHERE "offset" < 100 AND json_valid(value)
    """,
)
def s7_serde_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 serde plug-point (Serializer/Deserializer, common/.../
    Serializer.java:21-30): bytes → typed struct → bytes, JSON codec."""
    tasks = _tasks(spark, sf_dir)
    parsed = discard_invalid(tasks.filter(F.col("offset") < 100), "value", "k BIGINT")
    return parsed.select(
        "offset", F.to_json(F.struct(F.col("payload.k").alias("k"))).alias("reserialized")
    )


SESSION_GAP_MS = 1_800_000  # 30 minutes


@register(
    "events_assoc_pairs",
    f"""
    WITH aev AS (
        SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events),
    aord AS (
        SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        FROM aev),
    aisl AS (
        SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev >= {{gap}}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
        FROM aord),
    abask AS MATERIALIZED (
        SELECT DISTINCT user_id, sid, event_type AS item FROM aisl),
    atot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
             FROM (SELECT DISTINCT user_id, sid FROM abask)),
    aitem AS MATERIALIZED (
        SELECT item, CAST(count(*) AS BIGINT) AS n_item
        FROM abask GROUP BY item),
    apair AS (
        SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        FROM abask a JOIN abask b
          ON a.user_id = b.user_id AND a.sid = b.sid AND a.item < b.item
        GROUP BY a.item, b.item)
    SELECT item_a, item_b, n_ab,
           CAST((n_ab * 1000) // atot.n_sessions AS BIGINT) AS support_pml,
           CAST((n_ab * atot.n_sessions * 1000) // (ia.n_item * ib.n_item)
                AS BIGINT) AS lift_milli
    FROM apair
    JOIN aitem ia ON apair.item_a = ia.item
    JOIN aitem ib ON apair.item_b = ib.item, atot
    WHERE n_ab >= 5
    """.format(gap="{g}").format(g=SESSION_GAP_MS),
)
def events_assoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over session baskets: event-type pairs
    co-occurring in the same user session, with exact integer support
    (per-mille of sessions) and lift — the market-basket /
    co-engagement analysis family.

    Scale shape: baskets come from the same session-window groupBy the
    trajectory op uses; the pair join is an equi-join ON the session
    key with per-session fan-out bounded by the ITEM VOCABULARY
    squared (never |events|²) and its output partial-aggregates to
    ≤|items|² rows. Item supports and the session count broadcast."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "event_id",
        F.col("event_type").alias("item"),
    )
    # per-user gap islands (NOT session_window with item in the key —
    # that would open separate sessions per item); user partitions are
    # bounded, the same shape the sessionize ops already pin
    wse = Window.partitionBy("user_id").orderBy("ms", "event_id")
    new_sess = F.when(
        F.lag("ms").over(wse).isNull()
        | (F.col("ms") - F.lag("ms").over(wse) >= SESSION_GAP_MS),
        1,
    ).otherwise(0)
    tagged = ev.withColumn(
        "ws",
        F.sum(new_sess).over(
            wse.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    bask = (
        tagged.select("user_id", "ws", "item").distinct()
    ).localCheckpoint(eager=False)  # 3 consumers below
    tot = bask.select("user_id", "ws").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    item = bask.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    a = bask.select("user_id", "ws", F.col("item").alias("item_a"))
    b = bask.select("user_id", "ws", F.col("item").alias("item_b"))
    pair = (
        a.join(b, ["user_id", "ws"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ia = item.select(F.col("item").alias("item_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("item").alias("item_b"), F.col("n_item").alias("nb"))
    return (
        pair.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.expr("CAST((n_ab * 1000) DIV n_sessions AS BIGINT)").alias(
                "support_pml"
            ),
            F.expr(
                "CAST((n_ab * n_sessions * 1000) DIV (na * nb) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


_TRAJ_CAP = 16


def _traj_ctes() -> str:
    """CTE chain ``tev .. traj_rows`` replaying session assembly +
    capped trajectory + rolling-hash fingerprint (shared by the
    trajectory query and the trajectory-dedup query)."""
    return """tev AS (
        SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cv
        FROM events),
    tord AS (
        SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        FROM tev),
    tisl AS (
        SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev >= {gap}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
        FROM tord),
    ttraj AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               min(ms) AS session_start_ms,
               CAST(count(*) AS BIGINT) AS n_steps_total,
               list(event_type || ':' || CAST(cv AS VARCHAR)
                    ORDER BY ms, event_id) AS traj
        FROM tisl GROUP BY user_id, sid),
    tcut AS (
        SELECT key, session_start_ms, n_steps_total,
               traj[1:{cap}] AS steps16
        FROM ttraj),
    traj_rows AS MATERIALIZED (
        SELECT key, session_start_ms, n_steps_total,
               CAST(len(steps16) AS BIGINT) AS n_steps,
               n_steps_total > {cap} AS truncated,
               array_to_string(steps16, '|') AS trajectory,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(steps16, t -> {fptok})),
                    (acc, t) -> (acc * 31 + t) % 1000000007) AS BIGINT) AS traj_fp
        FROM tcut)""".format(gap=SESSION_GAP_MS, cap=_TRAJ_CAP, fptok=_FP_TOK)


@register(
    "events_trajectories",
    f"""
    WITH {_traj_ctes()}
    SELECT key, session_start_ms, n_steps_total, n_steps, truncated,
           trajectory, traj_fp
    FROM traj_rows
    """,
)
def events_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-trace dataset prep: assemble each user session's ordered
    event steps ('type:centivalue') into a capped trajectory string
    with an exact rolling-hash fingerprint (the dedup key for
    trajectory-level exact dedup — same fragment as text_fingerprint).

    Session assembly is the oracle's own lag/running-sum island form
    over ONE user-keyed exchange: gap islands from lag(ms), a
    row_number cap INSIDE each island so the collect only ever sees
    the first {cap} steps (the full-session collect_list the previous
    session_window form paid grows with events-per-user — the u10
    rung's exact stress — while every decision here needs only the
    first 16), then a same-key groupBy that rides the window's
    partitioning with no second exchange. Ordering is restored inside
    each bounded group by array_sort of (ms, event_id, step) structs —
    no global sort, no window wider than one user."""
    ev = load_table(spark, "events", sf_dir)
    steps = ev.select(
        F.col("user_id"),
        F.unix_millis("ts").alias("ms"),
        F.col("event_id"),
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.round(F.col("value") * 100).cast("long").cast("string"),
        ).alias("step"),
    )
    w_user = Window.partitionBy("user_id").orderBy("ms", "event_id", "step")
    w_run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered = steps.withColumn("prev", F.lag("ms").over(w_user)).withColumn(
        "pos", F.row_number().over(w_user)
    )
    is_new = F.when(
        F.col("prev").isNull()
        | (F.col("ms") - F.col("prev") >= SESSION_GAP_MS),
        1,
    ).otherwise(0)
    # sid and the island's first position come from the SAME running
    # window as the lag — the in-island rank is then pos − first + 1,
    # so no third WindowExec (and no (user, sid)-keyed re-sort) is
    # needed to cap the collect
    islands = ordered.withColumn(
        "sid", F.sum(is_new.cast("long")).over(w_run)
    ).withColumn(
        "rn",
        F.col("pos")
        - F.max(F.when(is_new == 1, F.col("pos"))).over(w_run)
        + 1,
    )
    grouped = (
        islands.groupBy("user_id", "sid")
        .agg(
            F.min("ms").alias("session_start_ms"),
            F.count(F.lit(1)).cast("long").alias("n_steps_total"),
            # collect_list drops NULLs: only the first {cap} steps of
            # the island are ever collected or sorted
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") <= _TRAJ_CAP,
                        F.struct("ms", "event_id", "step"),
                    )
                )
            ).alias("_ord"),
        )
    )
    cut = grouped.select(
        F.col("user_id").cast("string").alias("key"),
        "session_start_ms",
        "n_steps_total",
        F.transform(F.col("_ord"), lambda s: s["step"]).alias("steps16"),
    )
    from decaton_spark.functions.hashing import token_fingerprint

    return cut.select(
        "key",
        "session_start_ms",
        "n_steps_total",
        F.size("steps16").cast("long").alias("n_steps"),
        (F.col("n_steps_total") > _TRAJ_CAP).alias("truncated"),
        F.array_join("steps16", "|").alias("trajectory"),
        F.expr(token_fingerprint("steps16")).alias("traj_fp"),
    )



@register(
    "events_trajectory_dedup",
    f"""
    WITH {_traj_ctes()}
    SELECT traj_fp,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT key) AS BIGINT) AS n_users,
           min(session_start_ms) AS first_seen_ms,
           min(trajectory) AS trajectory
    FROM traj_rows
    GROUP BY traj_fp
    HAVING count(*) >= 2
    """,
)
def events_trajectory_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-level dedup: sessions whose capped step sequences
    share a rolling-hash fingerprint — bot/replay detection and the
    dedup pass an agent-trace dataset runs before training (identical
    interaction traces teach nothing twice). One partial-agg groupBy
    over the fingerprint; the trajectory assembly is the same
    session-window pipeline the trajectory query pins."""
    traj = events_trajectories(spark, sf_dir)
    return (
        traj.groupBy("traj_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("key").cast("long").alias("n_users"),
            F.min("session_start_ms").alias("first_seen_ms"),
            F.min("trajectory").alias("trajectory"),
        )
        .filter(F.col("n_sessions") >= 2)
    )


@register(
    "w1_sessionize",
    f"""
    WITH ev AS (
        SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
    ord AS (
        SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        FROM ev),
    isl AS (
        SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev >= {SESSION_GAP_MS}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
        FROM ord)
    SELECT CAST(user_id AS VARCHAR) AS key,
           min(ms) AS session_start_ms,
           max(ms) + {SESSION_GAP_MS} AS session_end_ms,
           count(*) AS n_events
    FROM isl GROUP BY user_id, sid
    """,
)
def w1_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows over the task stream (Spark-native
    session_window; the reference has no event-time windows at all —
    SURVEY §2.6 — so this is surface the engine adds)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.col("user_id").cast("string").alias("key"),
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "key",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
        )
    )


@register(
    "w2_running_value",
    """
    SELECT event_id,
           CAST(user_id AS VARCHAR) AS key,
           CAST(sum(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events
    """,
)
def w2_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (free relational surface): per-key running sum
    in event order — exact via DECIMAL accumulation."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("key"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_value"),
    )


@register(
    "set_ops_purchasers_no_errors",
    """
    SELECT CAST(user_id AS VARCHAR) AS key FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT CAST(user_id AS VARCHAR) AS key FROM events WHERE event_type = 'error'
    """,
)
def set_ops_purchasers_no_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (free surface): purchasers with no error events."""
    ev = load_table(spark, "events", sf_dir)
    key = F.col("user_id").cast("string").alias("key")
    purchasers = ev.filter(F.col("event_type") == "purchase").select(key)
    erroring = ev.filter(F.col("event_type") == "error").select(key)
    return purchasers.subtract(erroring)


@register(
    "rollup_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (free surface): order counts and exact price
    totals at (status, priority), (status), and grand-total levels."""
    o = load_table(spark, "orders", sf_dir)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@register(
    "sliding_window_activity",
    """
    WITH ev AS (SELECT epoch_ms(ts) AS ms, user_id FROM events),
    expanded AS (
        SELECT CAST(floor(ms / 1800000) AS BIGINT) * 1800000 - k.k * 1800000
                   AS window_start_ms,
               user_id
        FROM ev CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k)
    SELECT window_start_ms,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM expanded GROUP BY 1
    """,
)
def sliding_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — 1 h width, 30 min slide: every event
    lands in exactly 2 overlapping windows (Spark expands map-side
    before the shuffle; the oracle expands with an explicit 2-bucket
    cross join)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "n_events",
            "n_users",
        )
    )


@register(
    "salted_agg_events",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           min(event_id) AS first_id,
           max(event_id) AS last_id
    FROM events GROUP BY event_type
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defused aggregation: event_type has ~5 distinct values (a
    pathologically hot-key distribution at scale), so the two-phase
    salted decomposition (operators/skew.salted_agg) spreads each key
    over 16 reducers. Result is exactly the single-phase groupBy."""
    from decaton_spark.operators import salted_agg

    ev = load_table(spark, "events", sf_dir)
    out = salted_agg(
        ev,
        key_cols=["event_type"],
        aggs=[
            ("count", F.lit(1), "n_events"),
            ("sum", F.col("value").cast("decimal(18,6)"), "total_value"),
            ("min", "event_id", "first_id"),
            ("max", "event_id", "last_id"),
        ],
        salt_col="event_id",
        n_salts=16,
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


@register(
    "hypertable_rollup",
    f"""
    WITH hourly AS (
        SELECT CAST(floor(epoch_ms(ts) / {HOUR_MS}) AS BIGINT) * {HOUR_MS} AS hour_ms,
               event_type,
               count(*) AS n,
               sum(CAST(value AS DECIMAL(18,6))) AS v
        FROM events GROUP BY 1, 2)
    SELECT CAST(floor(hour_ms / {DAY_MS}) AS BIGINT) * {DAY_MS} AS day_ms,
           event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(v) AS DOUBLE) AS total_value
    FROM hourly GROUP BY 1, 2
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly partials
    re-aggregated to daily. At scale the hourly level is a persisted,
    time-partitioned table; the daily level reads only the partials
    (decimal sums re-aggregate exactly — double sums wouldn't)."""
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        (
            F.floor(F.unix_millis("ts") / HOUR_MS).cast("long") * HOUR_MS
        ).alias("hour_ms"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
    )
    return hourly.groupBy(
        (F.floor(F.col("hour_ms") / DAY_MS).cast("long") * DAY_MS).alias("day_ms"),
        "event_type",
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
    )


@register(
    "hypertable_incremental_refresh",
    f"""
    WITH hourly AS (
        SELECT CAST(floor(epoch_ms(ts) / {HOUR_MS}) AS BIGINT) * {HOUR_MS} AS hour_ms,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(CAST(value AS DECIMAL(18,6))) AS v
        FROM events GROUP BY 1, 2)
    SELECT hour_ms, event_type, n_events, CAST(v AS DOUBLE) AS total_value
    FROM hourly
    """,
)
def hypertable_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate maintenance: merge a new
    batch's hourly partials into the persisted rollup WITHOUT
    recomputing history — sum-mergeable partials (count + DECIMAL sum)
    re-aggregate exactly, so refresh(old ∪ batch-partials) is
    bit-identical to a full recompute.

    The oracle is deliberately NOT a replay of the incremental
    algorithm: it recomputes the rollup from the whole stream in one
    pass, so the hash comparison proves the semantic contract
    (incremental == full) rather than echoing the implementation. The
    fixture persists the rollup over ~6/7 of events (event_id % 7 != 0)
    and merges the remaining ~1/7 as the arriving batch.

    100 TB shape: refresh touches |batch| rows plus the rollup rows in
    the batch's touched hours — never the raw history (the persisted
    rollup stands in for it; here a localCheckpoint models that table).
    DOUBLE sums could not do this (re-summing in a different order
    drifts); DECIMAL partials are the mergeability contract, the same
    trade ``hypertable_rollup`` documents."""
    ev = load_table(spark, "events", sf_dir)
    hour = (F.floor(F.unix_millis("ts") / HOUR_MS).cast("long") * HOUR_MS).alias(
        "hour_ms"
    )

    def partials(df):
        return df.groupBy(hour, "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
        )

    old = partials(ev.filter(F.col("event_id") % 7 != 0)).localCheckpoint(
        eager=False
    )
    batch = partials(ev.filter(F.col("event_id") % 7 == 0))
    return (
        old.unionByName(batch)
        .groupBy("hour_ms", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


@register(
    "q7_nation_volume_pairs",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume by year. Five joins;
    all dimension sides broadcast, the lineitem fact never sort-merges."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(rev).cast("double").alias("volume"))
    )


@register(
    "correlated_above_avg_balance",
    """
    WITH nation_avg AS (
        SELECT c_nationkey,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        FROM customer GROUP BY c_nationkey)
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, a.avg_bal
    FROM customer c JOIN nation_avg a ON a.c_nationkey = c.c_nationkey
    WHERE c.c_acctbal > a.avg_bal
    """,
)
def correlated_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's mean
    balance), decorrelated to a grouped aggregate + broadcast join —
    Catalyst's rewrite, written explicitly so the per-nation mean is an
    exact decimal sum divided once (engine-identical at any partition
    order)."""
    c = load_table(spark, "customer", sf_dir)
    avg_bal = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal), c.c_nationkey == avg_bal.nk)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "avg_bal")
    )


@register(
    "q10_returned_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue by customer, top 20.
    customer/nation broadcast; the lineitem fact is filtered before the
    join so the returnflag predicate reaches the scan."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load_table(spark, "nation", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
    WITH sums AS (
        SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))
                        ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE) AS promo_revenue,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
    SELECT promo_revenue, total_revenue,
           round(100.0 * promo_revenue / total_revenue, 4) AS promo_pct
    FROM sums
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. Exact decimal sums; the
    single float division happens once, after aggregation."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    zero = F.lit(0).cast("decimal(24,6)")
    sums = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )
    return sums.select(
        "promo_revenue",
        "total_revenue",
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).alias("promo_pct"),
    )


@register(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (the
    plan Catalyst and every serious optimizer pick)."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "scalar_functions_bridge",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dom,
           upper(substr(o_orderpriority, 1, 3)) AS pri3,
           CAST(length(o_orderstatus) AS INT) AS status_len,
           concat(o_orderstatus, '-', o_orderpriority) AS tag,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           abs(-o_totalprice) AS price_abs,
           greatest(o_orderkey, o_custkey) AS max_key,
           coalesce(nullif(o_orderstatus, 'F'), 'final') AS status_or_final
    FROM orders WHERE o_orderkey < 500
    """,
)
def scalar_functions_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function library parity (free surface): date parts,
    string ops, exact math, conditionals — engine-identical results."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("pri3"),
        F.length("o_orderstatus").cast("int").alias("status_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.floor("o_totalprice").alias("price_floor"),
        F.ceil("o_totalprice").alias("price_ceil"),
        F.abs(-F.col("o_totalprice")).alias("price_abs"),
        F.greatest("o_orderkey", "o_custkey").alias("max_key"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("F")), F.lit("final")
        ).alias("status_or_final"),
    )


@register(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (free surface) with grouping-id disambiguation
    of rolled-up vs real NULL levels."""
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("long")
        .alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "grouping_sets_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (free surface): disjoint marginals plus grand
    total in one pass — Catalyst expands to a single Expand+Aggregate."""
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "topk_parts_by_revenue",
    """
    SELECT p.p_brand, p.p_type,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand, p.p_type
    ORDER BY revenue DESC, p_brand, p_type LIMIT 5
    """,
)
def topk_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join + top-k (free surface): the dimension side is
    broadcast, so the fact scan never shuffles before aggregation."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "p_brand", "p_type")
        .limit(5)
    )


@register(
    "docs_source_quality",
    """
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source, lang
    """,
)
def docs_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality rollup per (source, lang) — the shape of a
    training-data curation dashboard query."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("total_tokens"),
    )


@register(
    "docs_length_quantiles",
    """
    SELECT lang, source,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25_chars,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
           round(avg(n_chars), 6) AS mean_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def docs_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of document length per
    (lang, source) — the distribution profile a curation pipeline reads
    before setting length cutoffs. Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` both interpolate linearly (type R-7), so values
    hash-match.

    Scale note: exact percentile carries each group's values to the
    reducer — right for per-stratum profiling where groups are bounded
    (languages × sources). For percentiles over *unbounded* groups at
    100 TB, swap in ``percentile_approx`` (t-digest sketch, partial-
    aggregable) — same call site, documented trade."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "docs_domain_importance",
    """
    WITH tok AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS l
        FROM documents),
    ex AS (SELECT doc_id, (lang = 'zh') AS is_t, unnest(l) AS token FROM tok),
    bg AS (SELECT token, CAST(count(*) AS BIGINT) AS cb,
                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
           FROM ex GROUP BY token),
    st AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(cb) AS BIGINT) AS nb,
                  CAST(sum(ct) AS BIGINT) AS nt FROM bg),
    vocab AS (
        SELECT token,
               CAST(round(((ct + 1.0) * (nb + v)) / ((cb + 1.0) * (nt + v))
                          * 1000000.0) AS BIGINT) AS r6
        FROM bg, st WHERE cb >= 2),
    scored AS (
        SELECT e.doc_id,
               coalesce(vb.r6, CAST(round((1.0 * (st.nb + st.v))
                   / (1.0 * (st.nt + st.v)) * 1000000.0) AS BIGINT)) AS r6
        FROM ex e LEFT JOIN vocab vb USING (token), st),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored_tokens,
               CAST(sum(r6) AS BIGINT) AS s
        FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_scored_tokens, 0) AS BIGINT) AS n_scored_tokens,
           CASE WHEN a.n_scored_tokens > 0
                THEN CAST((2 * a.s + a.n_scored_tokens)
                          // (2 * a.n_scored_tokens) AS DOUBLE) / 1000000.0
           END AS importance
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def docs_domain_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (functions/dsir.py): mean Laplace-
    smoothed token likelihood ratio of each document against a target
    domain (here lang='zh' exemplars) vs the whole corpus. Vocab build
    and scoring are two corpus scans, both shuffles partial-aggregable,
    vocab broadcast with min_count tail pruning (OOV smoothing path
    exercised by the pruned singletons)."""
    docs = load_table(spark, "documents", sf_dir)
    return dsir.domain_importance(
        docs, F.col("lang") == "zh", min_count=2
    )


#: synthetic edge documents unioned into docs_gopher_filter so the
#: driver run itself proves the null / empty / 1-token / repetitive /
#: dominated / short-token paths (not just unit tests): (doc_id, text)
_GOPHER_EDGE_ROWS = [
    (9000001, None),  # -> 'null' (would be 'keep' without the leading rule)
    (9000002, ""),  # -> 'too_short', n=0 (split('') must not yield [''])
    (9000003, "lonetoken"),  # -> 'too_short', n=1 (bigram guard)
    (9000004, "  spaced   out tokens   here  ok yes no maybe deep end  "),
    (9000005, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    (9000006, "aa aa aa bb cc dd ee ff gg hh"),  # -> 'dominated'
    (9000007, "a b c d e f g h i j k l"),  # -> 'token_len' (mean len 1.0)
]

_GOPHER_EDGE_VALUES = ", ".join(
    f"({i}, {'CAST(NULL AS VARCHAR)' if t is None else repr(t)})"
    for i, t in _GOPHER_EDGE_ROWS
)


@register(
    "docs_gopher_filter",
    f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_GOPHER_EDGE_VALUES}) v(doc_id, text)
    ),
    tok AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS l
        FROM base
    ),
    st AS (
        SELECT doc_id, text, l,
               len(l) AS n,
               len(list_distinct(l)) AS nd,
               CASE WHEN len(l) >= 2
                    THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                    ELSE CAST([] AS VARCHAR[]) END AS bi,
               CASE WHEN len(l) > 0
                    THEN list_sum(list_transform(l, t -> length(t))) * 1.0 / len(l)
               END AS mean_raw
        FROM tok
    ),
    topc AS (
        SELECT doc_id, max(c) AS top_cnt FROM (
            SELECT doc_id, t, count(*) AS c
            FROM (SELECT doc_id, unnest(l) AS t FROM st)
            GROUP BY doc_id, t)
        GROUP BY doc_id
    )
    SELECT st.doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CASE WHEN n > 0 THEN round((n - nd) * 1.0 / n, 6) END AS dup_token_frac,
           CASE WHEN len(bi) > 0
                THEN round((len(bi) - len(list_distinct(bi))) * 1.0 / len(bi), 6)
                WHEN n IS NOT NULL THEN 0.0 END AS dup_bigram_frac,
           CASE WHEN n > 0 THEN round(topc.top_cnt * 1.0 / n, 6) END AS top_token_frac,
           round(mean_raw, 6) AS mean_token_len,
           CASE WHEN text IS NULL THEN 'null'
                WHEN n < 10 THEN 'too_short'
                WHEN n > 100000 THEN 'too_long'
                WHEN mean_raw < 2.0 OR mean_raw > 12.0 THEN 'token_len'
                WHEN round((n - nd) * 1.0 / n, 6) > 0.6 THEN 'repetitive'
                WHEN round(topc.top_cnt * 1.0 / n, 6) > 0.2 THEN 'dominated'
                ELSE 'keep' END AS quality_verdict
    FROM st LEFT JOIN topc USING (doc_id)
    """,
)
def docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 quality-filter battery (functions/quality.py) over the
    corpus plus synthetic edge documents, as ONE shuffle-free scan —
    repetition stats, mean token length, and the verdict CASE chain all
    fuse into a single whole-stage-codegen'd projection
    (tests/test_plans.py asserts no Exchange in this plan)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # size-adaptive spread (guide §2): the whole battery is per-row
    # expression CPU, so on a big low-row-group source the one cheap
    # exchange moves that CPU off the single scan task; small scans
    # keep the pinned shuffle-free plan (spread is None there)
    spread = spread_partitions(spark, docs)
    if spread:
        docs = docs.repartition(spread, "doc_id")
    edges = spark.createDataFrame(
        _GOPHER_EDGE_ROWS, schema="doc_id long, text string"
    )
    out = ql.gopher_filter(docs.unionByName(edges))
    return out.select(
        "doc_id", "n_tokens", "dup_token_frac", "dup_bigram_frac",
        "top_token_frac", "mean_token_len", "quality_verdict",
    )


#: synthetic PII rows for docs_pii_redact (ids avoid the injection
#: residues below): exercise every pattern + multi-match + null text
_PII_EDGE_ROWS = [
    (9100001, "mail a@b.co and c.d+e@f-g.org now"),
    (9100002, "ip 8.8.8.8 and 255.255.255.255 mixed 1.2.3.4"),
    (9100003, "tel +1-555-123-4567 or +82-1234-5678 end"),
    (9100004, "no pii here at all"),
    (9100005, None),
]

_PII_EDGE_VALUES = ", ".join(
    f"({i}, {'CAST(NULL AS VARCHAR)' if t is None else repr(t)})"
    for i, t in _PII_EDGE_ROWS
)


@register(
    "docs_pii_redact",
    f"""
    WITH aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.' || CAST(doc_id % 100 AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call +1-555-123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                       ELSE '' END AS text
        FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_PII_EDGE_VALUES}) v(doc_id, text)
    ),
    e AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{ql.EMAIL_RE}', 0)) AS BIGINT) AS n_emails,
               regexp_replace(text, '{ql.EMAIL_RE}', '<EMAIL>', 'g') AS t1
        FROM aug
    ),
    i AS (
        SELECT doc_id, n_emails,
               CAST(len(regexp_extract_all(t1, '{ql.IPV4_RE}', 0)) AS BIGINT) AS n_ips,
               regexp_replace(t1, '{ql.IPV4_RE}', '<IP>', 'g') AS t2
        FROM e
    ),
    p AS (
        SELECT doc_id, n_emails, n_ips,
               CAST(len(regexp_extract_all(t2, '{ql.PHONE_RE}', 0)) AS BIGINT) AS n_phones,
               regexp_replace(t2, '{ql.PHONE_RE}', '<PHONE>', 'g') AS t3
        FROM i
    )
    SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS redacted_md5 FROM p
    """,
)
def docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/quality.py) over the corpus with
    deterministic synthetic PII injected by doc_id residue (the raw
    corpus has none), plus edge rows covering every pattern and NULL.
    Single shuffle-free scan; md5 of the scrubbed text keeps the
    comparison exact without shipping full documents."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call +1-555-123-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    edges = spark.createDataFrame(_PII_EDGE_ROWS, schema="doc_id long, text string")
    base = docs.withColumn("text", injected).unionByName(edges)
    out = ql.pii_redact(base, "text")
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


@register(
    "corpus_merge_upsert",
    """
    WITH existing AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8
    ),
    incoming AS (
        SELECT doc_id, 'v2 ' || text AS text FROM documents WHERE doc_id % 10 IN (4, 5)
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 8
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 2
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 9
        UNION ALL
        SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 10 = 9
    ),
    kept AS (
        SELECT e.* FROM existing e
        WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.doc_id = e.doc_id)
    ),
    updates AS (
        SELECT i.* FROM incoming i
        WHERE EXISTS (SELECT 1 FROM existing e WHERE e.doc_id = i.doc_id)
    ),
    ins_dk AS (
        SELECT i.*,
               COALESCE(md5(text), 'null:' || CAST(doc_id AS VARCHAR)) AS dk
        FROM incoming i
        WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.doc_id = i.doc_id)
    ),
    ins_dedup AS (
        SELECT doc_id, text, dk FROM ins_dk
        QUALIFY row_number() OVER (PARTITION BY dk ORDER BY doc_id) = 1
    ),
    corpus_md5 AS (
        SELECT md5(text) AS m FROM kept WHERE text IS NOT NULL
        UNION ALL
        SELECT md5(text) FROM updates WHERE text IS NOT NULL
    ),
    inserts AS (
        SELECT d.doc_id, d.text FROM ins_dedup d
        WHERE d.dk NOT IN (SELECT m FROM corpus_md5)
    )
    SELECT doc_id, 'kept' AS origin, md5(text) AS content_md5 FROM kept
    UNION ALL
    SELECT doc_id, 'update' AS origin, md5(text) FROM updates
    UNION ALL
    SELECT doc_id, 'insert' AS origin, md5(text) FROM inserts
    """,
)
def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus merge (operators/merge.corpus_merge): upsert
    a synthetic change batch into the corpus with content-level dedup
    against the live index. The batch is carved deterministically from
    the fixture so every merge path fires: residues 4/5 re-arrive with
    changed text (update), residue 8 brings fresh ids+content
    (insert), ids+1e6 bring KNOWN content under new ids (dropped by
    the content guard), and ids+2e6/+3e6 carry the same content twice
    within the batch (within-batch collapse, lowest id wins). The
    corpus side never shuffles — every join broadcasts the
    batch-derived side (plan-asserted in tests/test_plans.py)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = (
        docs.filter((F.col("doc_id") % 10).isin(4, 5))
        .withColumn("text", F.concat(F.lit("v2 "), F.col("text")))
        .unionByName(docs.filter(F.col("doc_id") % 10 == 8))
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 2)
            .withColumn("doc_id", F.col("doc_id") + 1000000)
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 9)
            .withColumn("doc_id", F.col("doc_id") + 2000000)
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 9)
            .withColumn("doc_id", F.col("doc_id") + 3000000)
        )
    )
    from decaton_spark.operators.merge import corpus_merge

    merged = corpus_merge(existing, incoming, key="doc_id", text_col="text")
    return merged.select(
        "doc_id", "origin", F.md5("text").alias("content_md5")
    )


def _neardup_merge_oracle(bands: int = 4, k: int = 3, threshold: float = 0.8) -> str:
    jacc = (
        "round(len(list_intersect(sa.grams, sb.grams)) * 1.0 / "
        "(len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams))), 6)"
    )
    return f"""
    WITH existing AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8
    ),
    incoming AS (
        SELECT doc_id, 'v2 ' || text AS text FROM documents WHERE doc_id % 10 = 4
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 8
        UNION ALL
        SELECT doc_id + 4000000, text || ' qq' FROM documents WHERE doc_id % 10 = 1
        UNION ALL
        SELECT doc_id + 5000000, text || ' zz' FROM documents WHERE doc_id % 10 = 9
        UNION ALL
        SELECT doc_id + 6000000, text || ' zz ww' FROM documents WHERE doc_id % 10 = 9
    ),
    kept AS (
        SELECT e.* FROM existing e
        WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.doc_id = e.doc_id)
    ),
    updates AS (
        SELECT i.* FROM incoming i
        WHERE EXISTS (SELECT 1 FROM existing e WHERE e.doc_id = i.doc_id)
    ),
    ins_dk AS (
        SELECT i.*,
               COALESCE(md5(text), 'null:' || CAST(doc_id AS VARCHAR)) AS dk
        FROM incoming i
        WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.doc_id = i.doc_id)
    ),
    ins_dedup AS (
        SELECT doc_id, text, dk FROM ins_dk
        QUALIFY row_number() OVER (PARTITION BY dk ORDER BY doc_id) = 1
    ),
    corpus_md5 AS (
        SELECT md5(text) AS m FROM kept WHERE text IS NOT NULL
        UNION ALL
        SELECT md5(text) FROM updates WHERE text IS NOT NULL
    ),
    ins2 AS (
        SELECT d.doc_id, d.text FROM ins_dedup d
        WHERE d.dk NOT IN (SELECT m FROM corpus_md5)
    ),
    corpus AS (
        SELECT doc_id, text FROM kept
        UNION ALL SELECT doc_id, text FROM updates
    ),
    {_minhash_sigs_cte(bands, k, source="corpus", suffix="_c")},
    {_minhash_sigs_cte(bands, k, source="ins2", suffix="_i")},
    cand AS (
        SELECT c.doc_id AS id_a, i.doc_id AS id_b
        FROM sigs_c c JOIN sigs_i i ON c.band = i.band AND c.sig = i.sig
        UNION
        SELECT a.doc_id, b.doc_id FROM sigs_i a JOIN sigs_i b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sets AS (
        SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams FROM corpus
        UNION ALL
        SELECT doc_id, list_distinct(string_split(text, ' ')) FROM ins2
    ),
    rejected AS (
        SELECT DISTINCT cand.id_b FROM cand
        JOIN sets sa ON sa.id = cand.id_a
        JOIN sets sb ON sb.id = cand.id_b
        WHERE {jacc} >= {threshold}
    ),
    inserts AS (
        SELECT doc_id, text FROM ins2
        WHERE doc_id NOT IN (SELECT id_b FROM rejected)
    )
    SELECT doc_id, 'kept' AS origin, md5(text) AS content_md5 FROM kept
    UNION ALL
    SELECT doc_id, 'update' AS origin, md5(text) FROM updates
    UNION ALL
    SELECT doc_id, 'insert' AS origin, md5(text) FROM inserts
    """


@register("corpus_merge_neardup", _neardup_merge_oracle())
def corpus_merge_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-guarded incremental merge
    (operators/merge.corpus_merge_neardup): corpus_merge_upsert's
    upsert semantics plus LSH-banded rejection of inserts that are
    verified near-dups (unigram Jaccard >= 0.8) of a post-update
    corpus doc or of a lower-keyed batch sibling. Fixture fires every
    path: residue 4 updates ('v2' texts), residue 8 fresh inserts,
    ids+4e6 re-bring residue-1 content with one extra token (caught by
    the near-dup guard, NOT by md5), and ids+5e6/+6e6 carry two
    different perturbations of residue-9 text (insert-vs-insert
    near-dup — lower key survives). The oracle replays the banding
    with the same sigs CTE the dedup queries pin."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = (
        docs.filter(F.col("doc_id") % 10 == 4)
        .withColumn("text", F.concat(F.lit("v2 "), F.col("text")))
        .unionByName(docs.filter(F.col("doc_id") % 10 == 8))
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1)
            .withColumn("doc_id", F.col("doc_id") + 4000000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" qq")))
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 9)
            .withColumn("doc_id", F.col("doc_id") + 5000000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 9)
            .withColumn("doc_id", F.col("doc_id") + 6000000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz ww")))
        )
    )
    from decaton_spark.operators.merge import corpus_merge_neardup as _op

    merged = _op(
        existing, incoming, key="doc_id", text_col="text",
        k=3, bands=4, threshold=0.8,
    )
    return merged.select(
        "doc_id", "origin", F.md5("text").alias("content_md5")
    )


@register(
    "semi_anti_customers",
    """
    SELECT 'with_orders' AS cohort, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS cohort, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (free surface): EXISTS / NOT EXISTS as
    left_semi / left_anti — no row multiplication, build side broadcast."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_custkey")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_orders").alias("cohort"), "n")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_orders").alias("cohort"), "n")
    return with_orders.unionByName(without)


@register(
    "pivot_event_types",
    """
    SELECT CAST(user_id AS VARCHAR) AS key,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (free surface): per-user event-type histogram as columns."""
    ev = load_table(spark, "events", sf_dir)
    out = (
        ev.groupBy(F.col("user_id").cast("string").alias("key"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return out.fillna(0)


@register(
    "events_last_touch_attribution",
    """
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS touch_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id,
           p.user_id,
           coalesce(c.touch_id, -1) AS touch_id,
           coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS gap_us
    FROM p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's latest click at-or-before purchase time (the marketing
    analytics primitive), with the click→purchase gap in microseconds;
    unattributed purchases (no prior click) keep -1 sentinels.

    Built on the engine's as-of join (operators/asof.py — one shuffle
    + in-group sort, no range cross-join). Clicks collapse to one row
    per (user, ts) with the max event_id first, which both makes the
    as-of tie-break deterministic and matches the oracle's native ASOF
    JOIN resolution. Gap uses unix_micros vs epoch_us (identical
    truncation — the verified cross-engine timestamp-diff rule)."""
    from decaton_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("touch_id"))
        .withColumnRenamed("ts", "click_ts")
        .withColumn("_join_key", F.col("user_id"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("_join_key", F.col("user_id"))
    )
    joined = asof_join(
        purchases, clicks,
        on="_join_key", left_ts="ts", right_ts="click_ts",
        right_cols=["touch_id", "click_ts"],
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce("touch_id", F.lit(-1)).alias("touch_id"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("click_ts"), F.lit(-1)
        ).alias("gap_us"),
    )


@register(
    "asof_join_enrichment",
    """
    WITH ords AS (
        SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate)
    SELECT e.event_id,
           CAST(e.user_id AS VARCHAR) AS key,
           coalesce(o.o_orderkey, -1) AS last_orderkey,
           coalesce(strftime(o.o_orderdate, '%Y-%m-%d'), 'none') AS last_orderdate
    FROM events e
    ASOF LEFT JOIN ords o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time enrichment): each event joined to the
    user's latest order at event time. Spark lacks ASOF JOIN; the
    operator builds it with one shuffle + in-group sort (see
    operators/asof.py). Oracle = DuckDB's native ASOF JOIN."""
    from decaton_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    orders = (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        ev.withColumn("_join_key", F.col("user_id")),
        orders.withColumn("_join_key", F.col("o_custkey")),
        on="_join_key",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        F.col("user_id").cast("string").alias("key"),
        F.coalesce("o_orderkey", F.lit(-1)).alias("last_orderkey"),
        F.coalesce(
            F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("none")
        ).alias("last_orderdate"),
    )


@register(
    "range_join_errors",
    """
    WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id
               FROM events WHERE event_type = 'purchase'),
    e AS (SELECT user_id, ts AS e_ts, event_id AS e_id
          FROM events WHERE event_type = 'error'),
    pairs AS (
        SELECT p.user_id, p.p_id
        FROM p JOIN e ON p.user_id = e.user_id
         AND epoch_ms(e.e_ts) >= epoch_ms(p.p_ts) - 600000
         AND epoch_ms(e.e_ts) <  epoch_ms(p.p_ts))
    SELECT user_id, count(*) AS n_pairs,
           count(DISTINCT p_id) AS n_purchases
    FROM pairs GROUP BY user_id
    """,
)
def range_join_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: errors in the 10 minutes before each
    purchase by the same user. Bucketed equi-join construction (see
    operators/asof.range_join) — no inequality nested-loop join."""
    from decaton_spark.operators.asof import range_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"), F.col("event_id").alias("e_id")
    )
    pairs = range_join(
        purchases,
        errors,
        on="user_id",
        left_ts="p_ts",
        right_ts="e_ts",
        lower_ms=-600_000,
        upper_ms=0,
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("p_id").alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes, adapted to the driver's reduced schema
# (no partsupp/shipmode/commitdate/phone columns; part<->supplier links
# derive from lineitem). Completes the relational surface: correlated
# min, multi-join agg, scalar-subquery HAVING, conditional agg, outer
# join distribution, distinct-count agg, correlated avg, disjunctive
# predicates, nested semi-join, anti-join + global scalar.
# ---------------------------------------------------------------------------


@register(
    "q2_min_acctbal_supplier",
    """
    WITH links AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ranked AS (
        SELECT p.p_partkey, p.p_name, s.s_acctbal, s.s_suppkey,
               row_number() OVER (PARTITION BY p.p_partkey
                                  ORDER BY s.s_acctbal, s.s_suppkey) AS rn
        FROM links j
        JOIN part p ON p.p_partkey = j.l_partkey
        JOIN supplier s ON s.s_suppkey = j.l_suppkey
        WHERE p.p_type = 'STANDARD' AND p.p_size <= 10)
    SELECT p_partkey, p_name, s_acctbal AS best_acctbal,
           s_suppkey AS best_suppkey
    FROM ranked WHERE rn = 1
    """,
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated min): for each STANDARD small part, the
    lowest-balance supplier that ever shipped it. The correlated subquery
    is decorrelated to min(struct(...)) — a partial-aggregatable
    map-side combine, no window sort — with (acctbal, suppkey) as the
    deterministic tiebreak."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    s = load_table(spark, "supplier", sf_dir)
    links = li.select("l_partkey", "l_suppkey").distinct()
    best = (
        links.join(F.broadcast(p), links.l_partkey == p.p_partkey)
        .join(F.broadcast(s), links.l_suppkey == s.s_suppkey)
        .groupBy("p_partkey", "p_name")
        .agg(F.min(F.struct("s_acctbal", "s_suppkey")).alias("m"))
    )
    return best.select(
        "p_partkey",
        "p_name",
        F.col("m.s_acctbal").alias("best_acctbal"),
        F.col("m.s_suppkey").alias("best_suppkey"),
    )


@register(
    "q9_nation_year_profit",
    """
    SELECT n.n_name,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for widget
    parts. part/supplier/nation broadcast; the part-name predicate is
    applied before the join so only matching partkeys reach the fact
    shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").contains("widget"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            "n_name", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(F.sum(rev).cast("double").alias("profit"))
    )


@register(
    "q8_market_share",
    """
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))
                         ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
           / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE)
               AS mkt_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of ECONOMY-part
    revenue sold to ASIA customers, per order year. Every dimension
    (part, customer→nation→region chain, supplier→nation) broadcasts;
    both nation legs reuse one scan under different aliases; the
    conditional/total revenue pair comes out of ONE fact aggregation
    (no second pass, no join of two aggregates). Division of two
    decimal-exact sums — identical doubles on both engines, so no
    rounding is needed."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "ECONOMY")
    cn = n.select(
        F.col("n_nationkey").alias("cn_nationkey"),
        F.col("n_regionkey").alias("cn_regionkey"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("sn_name"),
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,6)"
    )
    nat_rev = F.sum(
        F.when(F.col("sn_name") == "NATION_3", rev).otherwise(
            F.lit(0).cast("decimal(24,6)")
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_nationkey"))
        .join(F.broadcast(r), F.col("cn_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (nat_rev.cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue.
    The shipdate predicate is pushed to the scan; per-supplier revenue
    is one partial-aggregable groupBy; the scalar max broadcasts back
    onto the (|suppliers|-sized) aggregate — equality on exact DECIMAL,
    so the tie semantics match the oracle bit-for-bit."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,6)"
                )
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q11_revenue_concentration",
    """
    WITH pr AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS part_rev
        FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT sum(part_rev) AS total_rev, count(*) AS n_parts FROM pr)
    SELECT pr.l_partkey, pr.part_rev
    FROM pr, tot
    WHERE pr.part_rev * tot.n_parts > tot.total_rev * 1.5
    """,
)
def q11_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (scalar-subquery HAVING): parts holding more than
    1.5x the mean per-part revenue share — a scale-invariant threshold,
    meaningful at any SF. The global total is a 1-row aggregate
    broadcast into the filter — no second scan of the fact table.

    The per-part sums are exact decimals cast to double, so the double
    total and threshold are bit-identical across engines."""
    li = load_table(spark, "lineitem", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    pr = li.groupBy("l_partkey").agg(F.sum(rev).cast("double").alias("part_rev"))
    tot = pr.agg(
        F.sum("part_rev").alias("total_rev"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pr.crossJoin(F.broadcast(tot))
        .filter(F.col("part_rev") * F.col("n_parts") > F.col("total_rev") * 1.5)
        .select("l_partkey", "part_rev")
    )


@register(
    "q12_priority_by_returnflag",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional aggregation): high- vs low-priority
    line counts per return flag (the reduced schema has no shipmode, so
    returnflag is the category)."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer, including
    zero-order customers via the left outer join."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q16_supplier_variety",
    """
    WITH links AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT j.l_suppkey) AS supplier_cnt
    FROM links j JOIN part p ON p.p_partkey = j.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size),
    with NOT-predicates on the dimension. The part filter is applied
    before the broadcast join; distinct-count partial-aggregates."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    links = li.select("l_partkey", "l_suppkey").distinct()
    return (
        links.join(F.broadcast(p), links.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_qty_revenue",
    """
    WITH pq AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey)
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n
    FROM lineitem l
    JOIN pq ON pq.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.2 * pq.avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated avg): revenue from orders far below a
    part's mean quantity. The correlated subquery is decorrelated into a
    per-part aggregate joined back to the fact — one extra shuffle of the
    (partkey, avg) pairs only; the per-part mean is an exact decimal sum
    divided once, engine-identical at any partition order."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pq, li.l_partkey == pq.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (HAVING over grouped fact, joined back to dims):
    orders with total quantity > 250 (top ~1%) and their customers. The HAVING
    shrinks the fact to a handful of orderkeys before any join, so both
    joins broadcast the small side."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    qty = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    big = (
        li.groupBy("l_orderkey")
        .agg(qty.alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates. The
    brand/size disjunction prunes the broadcast part side; the combined
    OR is evaluated post-join inside codegen (no UDF)."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (
            (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
        )
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35))
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q20_qualified_suppliers",
    """
    WITH shipped AS (
        SELECT l.l_suppkey,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS red_qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
        GROUP BY l.l_suppkey)
    SELECT s.s_suppkey, s.s_name, sh.red_qty
    FROM supplier s JOIN shipped sh ON sh.l_suppkey = s.s_suppkey
    WHERE sh.red_qty > 50
    """,
)
def q20_qualified_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join): suppliers who moved > 50 units
    of red parts. The inner aggregate runs over the part-filtered fact;
    its result (≤ |supplier| rows) broadcasts into the outer join."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").startswith("red"))
    s = load_table(spark, "supplier", sf_dir)
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("red_qty")
        )
        .filter(F.col("red_qty") > 50)
    )
    return s.join(F.broadcast(shipped), s.s_suppkey == shipped.l_suppkey).select(
        "s_suppkey", "s_name", "red_qty"
    )


@register(
    "q22_idle_wealthy_customers",
    """
    WITH avg_bal AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS ab
        FROM customer WHERE c_acctbal > 0)
    SELECT c.c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c.c_mktsegment
    """,
)
def q22_idle_wealthy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (none since 2000-01-01), by market segment. NOT EXISTS is a
    left-anti join on the filtered orders custkey projection (the date
    predicate pushes to the orders scan); the global mean is a broadcast
    1-row aggregate."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the last of the 22; adapted lateness = shipped
    >60 days after order date since this lineitem has no commit/receipt
    dates): suppliers who were the SOLE late supplier on a finalized
    multi-supplier order.

    The textbook form is a double correlated EXISTS/NOT EXISTS
    self-join on lineitem; Catalyst would plan that as two extra joins
    of the full fact against itself. Instead both subqueries
    decorrelate into per-order supplier counts — n_suppliers and
    n_late_suppliers — because for a late line l1: "EXISTS another
    supplier" ⇔ n_suppliers >= 2 and "NOT EXISTS another late
    supplier" ⇔ n_late_suppliers = 1 (l1's own supplier is late, so
    it is the one). The counts come from a TWO-LEVEL aggregate —
    (orderkey, suppkey) max(is_late), then orderkey count/sum — not
    from two countDistincts, which would plan an Expand that doubles
    the shuffled rows; both levels partial-aggregate, and level 2's
    shuffle carries one row per (order, supplier) — already collapsed,
    far below the line-level Expand output. Measured 1.5x faster
    warm, 3x cold (Expand's codegen is the cold cost).

    The annotated fact is consumed twice (count chain + late-line
    probe). Round 9 (VERDICT r8 optional #7): the eager
    localCheckpoint — executor-local storage, a 100 TB liability — is
    replaced by a repartition on l_orderkey, and Catalyst then plans
    each consumer independently WITH pushdown: the late-line probe
    pushes the lateness predicate all the way into its own fact scan
    (shuffling only late lines), while the count chain shuffles the
    full annotated fact once and partial-aggregates on it — orderkey
    partitioning satisfies both aggregate levels (subset rule) and the
    join-back, so neither branch adds a further fact-sized exchange.
    (ReuseExchange does NOT fire here — the pushed filter makes the
    two exchange subtrees differ — and that is the better trade:
    measured medians at sf0.1, 0.99 s vs 1.08 s for the checkpoint
    form, because the probe branch's scan-level filter removes far
    more rows than the shared materialization saved.) At 100 TB: two
    co-partitioned scans of a bucketable fact (one heavily filtered),
    the two-level partial agg, one join-back on orderkey, and a
    broadcast supplier dim — no fact self-join, no checkpoint."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, "supplier", sf_dir)
    joined = (
        li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        )
        .select("l_orderkey", "l_suppkey", "is_late")
        .repartition("l_orderkey")
    )
    per_supp = joined.groupBy(
        F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey")
    ).agg(F.max("is_late").alias("supp_late"))
    per_order = per_supp.groupBy("okey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).alias("n_late"),
    )
    waiting = (
        joined.filter(F.col("is_late"))
        .join(per_order, F.col("l_orderkey") == F.col("okey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "heavy_hitters_keys",
    f"""
    WITH {TASKS_CTE}
    SELECT key, count(*) AS cnt FROM tasks
    GROUP BY key HAVING count(*) >= 70
    """,
)
def heavy_hitters_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the task stream's keys (count >= 70)
    via pigeonhole candidates → CM-sketch prune → exact verify — the
    batch analog of the reference's burst-key detection
    (PerKeyQuotaManager.record(),
    processor/.../runtime/internal/PerKeyQuotaManager.java:112-135).
    The oracle is the plain GROUP BY/HAVING; the Spark plan never
    materializes the full key dictionary (see
    functions/sketches.heavy_hitters for the no-false-negative
    argument and the 100 TB shuffle bounds)."""
    return sk.heavy_hitters(_tasks(spark, sf_dir), "key", threshold=70)


@register(
    "text_bm25_search",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(CAST(dl AS DECIMAL(28,0))) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    matched AS (
        SELECT t.doc_id,
               round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * (t.tf * (1.2 + 1))
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)),
                     6) AS contrib
        FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        WHERE t.term IN ('spark', 'join', 'window')),
    scored AS (
        SELECT doc_id,
               CAST(sum(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS score,
               count(*) AS n_terms_hit
        FROM matched GROUP BY doc_id),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scored)
    SELECT rank, doc_id, score, n_terms_hit FROM ranked WHERE rank <= 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical full-text retrieval: Okapi BM25 top-10 for the query
    {spark, join, window} over the documents corpus. See
    text.bm25_search for the 100 TB plan shape (materialized (doc,
    term, tf) partial aggregate feeding dl/df/scoring, broadcast
    corpus stats, query-term isin() pushed to the tf rows, TakeOrdered
    top-k) and the rounded-DECIMAL order-independent score sum."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.bm25_search(
        docs, ["spark", "join", "window"], top_k=10,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


@register(
    "docs_lm_score",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    corpus AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ct FROM tf GROUP BY term),
    total AS (SELECT CAST(sum(CAST(ct AS DECIMAL(28,0))) AS DOUBLE) AS t_total
              FROM corpus),
    scored AS (
        SELECT t.doc_id, t.tf,
               round(t.tf * ln(c.ct / s.t_total), 6) AS contrib
        FROM tf t JOIN corpus c USING (term) CROSS JOIN total s)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE)
                 / sum(tf), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality signal: each document's mean
    token log-probability under the corpus's own unigram distribution
    (low = rare-token-heavy/noisy, high = boilerplate). See
    text.lm_score for the plan shape — same materialized-tf skeleton
    as tf-idf, order-independent rounded-DECIMAL sums."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.lm_score(docs)


@register(
    "docs_ccnet_buckets",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    corpus AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ct FROM tf GROUP BY term),
    total AS (SELECT CAST(sum(CAST(ct AS DECIMAL(28,0))) AS DOUBLE) AS t_total
              FROM corpus),
    scored AS (
        SELECT t.doc_id, t.tf,
               round(t.tf * ln(c.ct / s.t_total), 6) AS contrib
        FROM tf t JOIN corpus c USING (term) CROSS JOIN total s),
    lmdoc AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               round(CAST(sum(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE)
                     / sum(tf), 6) AS avg_logprob
        FROM scored GROUP BY doc_id),
    tiled AS (
        SELECT l.doc_id, d.lang, n_tokens, avg_logprob,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY avg_logprob DESC, l.doc_id) AS tile
        FROM lmdoc l JOIN documents d USING (doc_id))
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(floor(CAST(sum(CAST(round(avg_logprob * 1000000) AS BIGINT))
                           AS DOUBLE) / count(*)) AS BIGINT) AS mean_logprob_micro
    FROM tiled GROUP BY lang, tile
    """,
)
def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing per language: the
    corpus-unigram LM score cut into per-language tertiles
    (``quality.ccnet_buckets``) — head is what CCNet keeps, tail is
    what it drops, and the cut is per-language because perplexity is
    only rank-comparable within one language. One ntile window per
    language partition (never a global sort) on top of the
    materialized-tf LM skeleton; the mean score is floor() of an
    exact-in-double micro-unit quotient, so the rollup is
    bit-replayable in SQL."""
    docs = load_table(spark, "documents", sf_dir)
    return ql.ccnet_buckets(docs, n_buckets=3)


@register(
    "events_resample_gapfill",
    f"""
    WITH {TASKS_CTE},
    base AS (
        SELECT key,
               CAST(floor(meta_timestamp_millis / {HOUR_MS}) * {HOUR_MS} AS BIGINT)
                   AS bucket_ms,
               event_value AS v
        FROM tasks),
    span AS (SELECT key, min(bucket_ms) AS lo, max(bucket_ms) AS hi
             FROM base GROUP BY key),
    grid AS (SELECT key, unnest(range(lo, hi + 1, {HOUR_MS})) AS bucket_ms
             FROM span),
    agg AS (SELECT key, bucket_ms, count(*) AS n_events,
                   round(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
                         / count(*), 6) AS bucket_value
            FROM base GROUP BY key, bucket_ms)
    SELECT g.key, g.bucket_ms,
           CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
           a.bucket_value,
           last_value(a.bucket_value IGNORE NULLS) OVER (
               PARTITION BY g.key ORDER BY g.bucket_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_value
    FROM grid g LEFT JOIN agg a
      ON a.key = g.key AND a.bucket_ms = g.bucket_ms
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample + gap-fill: the task stream
    regularized onto a dense per-key hourly grid with the per-bucket
    mean value forward-filled (LOCF) across empty buckets. See
    operators/timeseries.resample_gapfill for the 100 TB shape
    (distributed sequence() grid from per-key spans, partial-agg
    bucket means, co-partitioned left join, one bounded per-key
    window)."""
    from decaton_spark.operators.timeseries import resample_gapfill

    return resample_gapfill(_tasks(spark, sf_dir))


@register(
    "emb_label_centroid_drift",
    """
    WITH comp AS (
        SELECT label, i AS dim,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS v
        FROM embeddings, generate_series(1, 64) AS s(i)),
    lab AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS lv
            FROM comp GROUP BY label, dim),
    gcent AS (SELECT dim, CAST(sum(v) AS BIGINT) AS gv
             FROM comp GROUP BY dim),
    n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label),
    dots AS (
        SELECT l.label,
               CAST(sum(CAST(l.lv AS HUGEINT) * g.gv) AS DOUBLE) AS dot,
               CAST(sum(CAST(l.lv AS HUGEINT) * l.lv) AS DOUBLE) AS nl,
               CAST(sum(CAST(g.gv AS HUGEINT) * g.gv) AS DOUBLE) AS ng
        FROM lab l JOIN gcent g USING (dim) GROUP BY l.label)
    SELECT d.label, n.n_vecs,
           round(d.dot / (sqrt(d.nl) * sqrt(d.ng)), 4) AS cosine_to_global
    FROM dots d JOIN n USING (label)
    """,
)
def emb_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding observability: per-label centroid vs the global corpus
    centroid (cosine) — the drift/imbalance monitor a training-data
    pipeline runs over its embedding store (a label/source whose
    centroid swings away from the corpus signals distribution shift;
    cosine(mean_l, mean_g) = cosine(sum_l, sum_g) by scale invariance,
    so no per-dimension division ever happens).

    Cross-engine exactness without float-sum order dependence: each
    component is snapped to a scaled integer (round(v*1e7) — identical
    IEEE double → identical bigint in both engines), so every
    cross-row sum is EXACT integer arithmetic (order-free), and the
    dot/norm products run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    — exact up to ~1e38, far above the ~1e25 worst case here. One
    double division at the end, rounded.

    Scale shape (10^9 vectors): posexplode is a narrow projection
    (embedding + label only, scan-pruned); both centroid aggregates
    are partial-agg groupBys with tiny outputs (|labels|·64 and 64
    rows); the join broadcasts the 64-row global centroid; the final
    per-label reduce is 64 rows per label. No UDF, no driver
    round-trip, no full-vector shuffle."""
    emb = load_table(spark, "embeddings", sf_dir)
    return sim.centroid_drift(emb)


@register(
    "emb_lang_centroid_drift",
    """
    WITH ej AS MATERIALIZED (
        SELECT d.lang AS lang, e.embedding AS embedding
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    comp AS (
        SELECT lang, i AS dim,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS v
        FROM ej, generate_series(1, 64) AS s(i)),
    lab AS (SELECT lang, dim, CAST(sum(v) AS BIGINT) AS lv
            FROM comp GROUP BY lang, dim),
    gcent AS (SELECT dim, CAST(sum(v) AS BIGINT) AS gv
             FROM comp GROUP BY dim),
    n AS (SELECT lang, count(*) AS n_vecs FROM ej GROUP BY lang),
    dots AS (
        SELECT l.lang,
               CAST(sum(CAST(l.lv AS HUGEINT) * g.gv) AS DOUBLE) AS dot,
               CAST(sum(CAST(l.lv AS HUGEINT) * l.lv) AS DOUBLE) AS nl,
               CAST(sum(CAST(g.gv AS HUGEINT) * g.gv) AS DOUBLE) AS ng
        FROM lab l JOIN gcent g USING (dim) GROUP BY l.lang)
    SELECT d.lang, n.n_vecs,
           round(d.dot / (sqrt(d.nl) * sqrt(d.ng)), 4) AS cosine_to_global
    FROM dots d JOIN n USING (lang)
    """,
)
def emb_lang_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table drift monitor: document embeddings joined to their
    document metadata (vec_id = doc_id) and the per-LANGUAGE centroid
    compared to the global corpus centroid — the same integer-exact
    machinery as the label drift monitor, grouped by a dimension that
    lives in a DIFFERENT table (the doc⋈embedding equi-join is the
    only addition; the metadata side prunes to two columns)."""
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    joined = emb.join(
        docs, emb["vec_id"] == docs["doc_id"]
    ).select("lang", "embedding")
    return sim.centroid_drift(joined, group_col="lang")


@register(
    "events_percent_rank",
    """
    SELECT event_id, event_type, value,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value)
    """,
)
def events_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions (percent_rank + cume_dist)
    per event within its event_type — completes the rank-family window
    coverage (row_number/rank/ntile/lag already verified elsewhere).
    No rounding needed: both engines compute the same (rank-1)/(n-1)
    and peers/n rationals from identical integer counts, giving
    bit-identical doubles. One shuffle+sort per event_type partition;
    the window is unbounded-frame rank-only (no running buffers)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "hybrid_search_rrf",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(CAST(dl AS DECIMAL(28,0))) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    matched AS (
        SELECT t.doc_id,
               round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * (t.tf * (1.2 + 1))
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)),
                     6) AS contrib
        FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        WHERE t.term IN ('spark', 'join', 'window')),
    lex_scored AS (
        SELECT doc_id,
               CAST(sum(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS score
        FROM matched GROUP BY doc_id),
    lex AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
                   AS r_lex
        FROM lex_scored QUALIFY r_lex <= 50),
    c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < 16),
    {_kmeans_iter_sql('c0', 'c1')},
    {_kmeans_iter_sql('c1', 'c2')},
    cent AS (SELECT cid, cv FROM c2),
    ascore AS (
        SELECT e.vec_id, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
    assign AS (
        SELECT vec_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore),
    cellv AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probe AS (
        SELECT cid AS cell,
               row_number() OVER (ORDER BY cos DESC, cid) AS rn
        FROM ascore WHERE vec_id = 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sem_scored AS (
        SELECT e.vec_id AS doc_id,
               round({_dot64('qv', 'e.embedding')}
                     / ({_NORM.format(v='qv')}
                        * {_NORM.format(v='e.embedding')}), 4) + 0.0 AS cosine
        FROM embeddings e
             JOIN cellv cl ON e.vec_id = cl.vec_id
             JOIN probe p ON cl.cell = p.cell AND p.rn <= 4
             CROSS JOIN q
        WHERE e.vec_id <> 0),
    sem AS (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
                   AS r_sem
        FROM sem_scored QUALIFY r_sem <= 50),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
               COALESCE(1.0 / (60 + l.r_lex), 0.0)
               + COALESCE(1.0 / (60 + s.r_sem), 0.0) AS rrf
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
    SELECT doc_id, r_lex, r_sem, rrf,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
    FROM fused QUALIFY rank <= 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25
    top-50 for {spark, join, window}) and semantic (cosine top-50 for
    query vector 0) candidate lists — the standard two-tower serving
    stack composed from two already-verified operators.

    RRF(d) = Σ_lists 1/(60 + rank_list(d)) is pure integer-rank
    arithmetic evaluated in ONE row-local expression after a full
    outer join of the two ≤50-row lists, so the fused scores are
    bit-identical across engines with no rounding and no cross-row
    float sums. The semantic tower is the IVF path (trained-centroid
    store, nlist=16, nprobe=4) — the shape a 100 TB deployment runs:
    cell assignment is a shuffle-free projection, the probe join is a
    broadcast equi-join on cell, never a corpus-wide nested loop. The
    oracle replays training + probing bit-for-bit (same fragments as
    ``ann_ivf_topk``). At scale both candidate lists are TakeOrdered
    top-k outputs (driver-size) and the fusion join is trivially
    broadcast (materialized-tf BM25 on the lexical side)."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    lex = tx.bm25_search(
        docs, ["spark", "join", "window"], top_k=50,
        num_partitions=spark.sparkContext.defaultParallelism,
    ).select(
        "doc_id", F.col("rank").alias("r_lex")
    )
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    sem = sim.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") == 0),
        k=50,
        nlist=16,
        nprobe=4,
        centroids=cents,
        num_partitions=spark.sparkContext.defaultParallelism,
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem"))
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return fused.withColumn("rank", F.row_number().over(w))


@register(
    "array_functions_bridge",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           array_to_string(toks[1:3], ' ') AS first3,
           list_sort(toks)[1] AS min_tok,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           list_contains(toks, 'spark') AS has_spark,
           CAST(list_position(toks, 'spark') AS BIGINT) AS pos_spark,
           toks[-1] AS last_tok,
           array_to_string(list_reverse(toks)[1:2], '|') AS rev2,
           CAST(list_reduce(list_prepend(0,
                    list_transform(toks, x -> length(x))),
                (a, b) -> a + b) AS BIGINT) AS total_chars,
           CAST(len(list_filter(toks, x -> length(x) > 4)) AS INT) AS n_long,
           array_to_string(list_transform(toks[1:2], x -> upper(x)), ' ')
               AS upper2
    FROM t
    """,
)
def array_functions_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/lambda function library parity (free surface): slice,
    sort, distinct, contains/position, negative indexing, reverse,
    fold (aggregate), filter, transform — engine-identical over the
    token arrays. All narrow projections (no shuffle); the lambda
    forms stay JVM-side Catalyst HigherOrderFunctions, never Python."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.element_at(F.array_sort(toks), 1).alias("min_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_position(toks, "spark").alias("pos_spark"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_join(F.slice(F.reverse(toks), 1, 2), "|").alias("rev2"),
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda a, x: a + F.length(x).cast("bigint"),
        ).alias("total_chars"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long"),
        F.array_join(
            F.transform(F.slice(toks, 1, 2), F.upper), " "
        ).alias("upper2"),
    )


@register(
    "map_functions_bridge",
    """
    WITH t AS (
        SELECT event_id,
               map(['type', 'user'],
                   [event_type, CAST(user_id AS VARCHAR)]) AS m
        FROM events WHERE event_id < 500)
    SELECT event_id,
           CAST(cardinality(m) AS INT) AS n_entries,
           array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
           element_at(m, 'type')[1] AS type_val,
           element_at(m, 'user')[1] AS user_val,
           array_to_string(list_sort(map_values(m)), ',') AS vals_sorted
    FROM t
    """,
)
def map_functions_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function parity (free surface): construction
    (create_map), cardinality, key/value enumeration, and per-key
    extraction — engine-identical over a map column built from the
    event stream. (DuckDB's element_at on MAP yields a one-element
    list; the oracle unwraps it with [1].) Narrow projection, no
    shuffle, no Python."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 500)
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("user"),
        F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.size(m).alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, F.lit("type")).alias("type_val"),
        F.element_at(m, F.lit("user")).alias("user_val"),
        F.array_join(F.array_sort(F.map_values(m)), ",").alias("vals_sorted"),
    )


@register(
    "window_functions_bridge",
    """
    SELECT event_id, event_type, value,
           lag(value) OVER wn AS prev_value,
           lead(value) OVER wn AS next_value,
           first_value(event_id) OVER wf AS first_id,
           last_value(event_id) OVER wf AS last_id,
           nth_value(event_id, 3) OVER wf AS third_id
    FROM events
    WINDOW wn AS (PARTITION BY event_type ORDER BY value, event_id),
           wf AS (PARTITION BY event_type ORDER BY value, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
    """,
)
def window_functions_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window-function parity (free surface): lag/lead and
    first/last/nth_value with explicit ROWS frames over a totally
    ordered (value, event_id) window — completes the window-function
    family (rank variants verified in events_percent_rank and
    elsewhere). One shuffle per event_type partition."""
    ev = load_table(spark, "events", sf_dir)
    wn = Window.partitionBy("event_type").orderBy("value", "event_id")
    wf = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.lag("value").over(wn).alias("prev_value"),
        F.lead("value").over(wn).alias("next_value"),
        F.first("event_id").over(wf).alias("first_id"),
        F.last("event_id").over(wf).alias("last_id"),
        F.nth_value("event_id", 3).over(wf).alias("third_id"),
    )


@register(
    "docs_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln(({md5_long("CAST(doc_id AS VARCHAR)", 8)} + 1)
                  / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS es_key
        FROM documents),
    ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY es_key DESC, doc_id) AS rank
        FROM keyed)
    SELECT rank, doc_id, n_chars FROM ranked WHERE rank <= 100
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each doc gets key ln(u)/w with
    u = content-stable md5-uniform in (0,1] and w = n_chars; the
    top-k by key IS a weighted sample — longer docs proportionally
    likelier — yet fully reproducible across engines, runs, and
    partitionings (no RNG, no seed drift). The training-data
    "sample by quality/length weight" primitive.

    Scale shape: one narrow projection (md5 + ln per row, codegen),
    then a distributed TakeOrdered top-k — no global sort, no window
    over the corpus. The ln/division runs on identical IEEE doubles
    in both engines (identical md5-derived u), so the selected set is
    bit-stable; the continuous key makes ties measure-zero, with
    doc_id as the formal tiebreak."""
    docs = load_table(spark, "documents", sf_dir)
    u = (
        F.expr(md5_long("CAST(doc_id AS STRING)", 8)) + F.lit(1)
    ) / F.lit(4294967296.0)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars").cast("double")).alias("es_key"),
    )
    top = keyed.orderBy(F.col("es_key").desc(), F.col("doc_id").asc()).limit(100)
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "n_chars")
    )


@register(
    "docs_normalize",
    """
    SELECT doc_id,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text,
           CAST(length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                AS INT) AS norm_len,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
               AS norm_md5
    FROM documents
    """,
)
def docs_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization — the normalize step every dedup/quality
    pipeline runs before hashing (lowercase, trim, whitespace
    collapse) plus the canonical md5 the exact-dedup stage consumes.
    Pure shuffle-free projection; regexp stays JVM-side codegen."""
    docs = load_table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


@register(
    "lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           l_quantity AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt, the inverse of pivot_event_types):
    four lineitem measures to (measure, value) rows via the native
    unpivot operator — a narrow 4×-row generator, no shuffle, with
    the filter still pushed to the scan. Oracle replays it as the
    portable UNION ALL form."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    ).withColumn(
        "measure",
        F.expr("substring(measure, 3)"),  # l_quantity -> quantity
    )


@register(
    "set_ops_all_variants",
    """
    WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id FROM events WHERE event_type = 'click'),
    ex AS (SELECT user_id FROM p EXCEPT ALL SELECT user_id FROM c),
    ix AS (SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM c)
    SELECT 'except_all' AS op, user_id, count(*) AS multiplicity
    FROM ex GROUP BY user_id
    UNION ALL
    SELECT 'intersect_all', user_id, count(*) FROM ix GROUP BY user_id
    """,
)
def set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (EXCEPT ALL / INTERSECT ALL — the
    bag-semantics complement to the distinct set ops verified in
    set_ops_purchasers_no_errors): per-user purchase multiplicities
    minus / intersected with click multiplicities. Both plan as a
    single hash aggregation of tagged counts — no sort, partial-agg
    map-side."""
    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    c = ev.filter(F.col("event_type") == "click").select("user_id")
    ex = (
        p.exceptAll(c)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "user_id", "multiplicity")
    )
    ix = (
        p.intersectAll(c)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "user_id", "multiplicity")
    )
    return ex.unionByName(ix)


@register(
    "datetime_functions_bridge",
    """
    SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
               AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
                    '%Y-%m-%d') AS plus3m,
           CAST(date_diff('day', DATE '2000-01-01',
                          CAST(o_orderdate AS DATE)) AS INT) AS days_since_y2k
    FROM orders WHERE o_orderkey < 500
    """,
)
def datetime_functions_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function parity (free surface): trunc, last_day,
    day-of-week (Spark's 1=Sunday vs DuckDB's 0=Sunday bridged with
    +1), ISO week, quarter, day-of-year, add_months, and day diffs
    from a fixed epoch. Outputs are date-strings/ints (never raw
    timestamps — cross-engine NANO/timezone hazards); the fixture
    dates are midnight-aligned so day arithmetic is crossing-free."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
        F.dayofyear(d).alias("doy"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.datediff(F.to_date(d), F.lit("2000-01-01").cast("date")).alias(
            "days_since_y2k"
        ),
    )


@register(
    "lateral_top_orders",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c.c_custkey < 50
    """,
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (per-customer top-2 orders by price) —
    the SQL front door's lateral-subquery surface, decorrelated by
    Catalyst into a ranked join (the group_topn_orders plan) rather
    than a per-row re-execution. Uses the engine's register_views +
    spark.sql path to exercise the SQL text itself."""
    from decaton_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey < 50
        """
    )


@register(
    "null_semantics_bridge",
    """
    WITH t AS (
        SELECT event_id, nullif(event_type, 'click') AS maybe_null, value
        FROM events WHERE event_id < 500)
    SELECT event_id, maybe_null,
           (maybe_null IS NOT DISTINCT FROM 'purchase') AS nullsafe_eq,
           (maybe_null IS DISTINCT FROM 'purchase') AS nullsafe_ne,
           (maybe_null IS NULL) AS is_null,
           count(*) OVER (PARTITION BY maybe_null) AS group_size,
           row_number() OVER (ORDER BY maybe_null ASC NULLS FIRST,
                              event_id) AS rn_nulls_first,
           row_number() OVER (ORDER BY maybe_null DESC NULLS LAST,
                              event_id) AS rn_nulls_last
    FROM t
    """,
)
def null_semantics_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics parity — the classic cross-engine divergence
    points made explicit: null-safe equality (Spark ``<=>`` ≡ SQL
    ``IS NOT DISTINCT FROM``), NULL grouping in window partitions
    (both engines group NULLs together), and EXPLICIT null ordering
    (Spark defaults NULLS FIRST on ASC, DuckDB defaults NULLS LAST —
    any engine-portable sort must spell it out, as these do)."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 500)
    t = ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("click")).alias("maybe_null"),
        "value",
    )
    wg = Window.partitionBy("maybe_null")
    w1 = Window.orderBy(
        F.col("maybe_null").asc_nulls_first(), F.col("event_id").asc()
    )
    w2 = Window.orderBy(
        F.col("maybe_null").desc_nulls_last(), F.col("event_id").asc()
    )
    return t.select(
        "event_id",
        "maybe_null",
        F.col("maybe_null").eqNullSafe(F.lit("purchase")).alias("nullsafe_eq"),
        (~F.col("maybe_null").eqNullSafe(F.lit("purchase"))).alias(
            "nullsafe_ne"
        ),
        F.col("maybe_null").isNull().alias("is_null"),
        F.count(F.lit(1)).over(wg).alias("group_size"),
        F.row_number().over(w1).alias("rn_nulls_first"),
        F.row_number().over(w2).alias("rn_nulls_last"),
    )


@register(
    "text_tokenize_ids",
    """
    WITH counts AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    vocab AS (
        SELECT token,
               row_number() OVER (ORDER BY count(*) DESC, token) AS token_id
        FROM counts GROUP BY token
        QUALIFY token_id <= 200),
    toks AS (
        SELECT doc_id, u.s.token AS token, u.s.pos AS pos
        FROM (SELECT doc_id,
                     unnest(list_transform(string_split(text, ' '),
                            (x, i) -> {'token': x, 'pos': i})) AS s
              FROM documents) u),
    mapped AS (
        SELECT t.doc_id, t.pos,
               CAST(COALESCE(v.token_id, 0) AS BIGINT) AS tid
        FROM toks t LEFT JOIN vocab v USING (token))
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(count(*) FILTER (WHERE tid = 0) AS INT) AS n_oov,
           array_to_string(list(tid ORDER BY pos), ' ') AS input_ids
    FROM mapped GROUP BY doc_id
    """,
)
def text_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization to input_ids — the vocab-APPLY step between
    build_vocab and pack_sequences: every document becomes its ordered
    token-id array under the frequency-ranked top-200 vocabulary, with
    out-of-vocabulary tokens mapped to id 0 and counted.

    Order preservation without nondeterministic collect_list: ids
    aggregate as (pos, id) structs through sort_array — identical to
    the oracle's ``list(... ORDER BY pos)`` at any partitioning.

    Scale shape: the vocab is a bounded TakeOrdered (|top_k| rows)
    broadcast to the token join (OOV = left-join miss); the per-doc
    reassembly is one partial-agg groupBy of (pos, id) structs. At
    100 TB the vocab table is the persisted tokenizer artifact."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = tx.build_vocab(docs, top_k=200).select("token", "token_id")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    mapped = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(0)).cast("bigint").alias("tid"),
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(F.when(F.col("tid") == 0, 1).otherwise(0))
            .cast("int")
            .alias("n_oov"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("tid")))
                    ),
                    lambda s: s["tid"],
                ),
                " ",
            ).alias("input_ids"),
        )
    )


@register(
    "dedup_cluster_stats",
    f"""
    WITH groups AS ({_near_full_oracle()}),
    sizes AS (
        SELECT group_id, count(*) AS group_size
        FROM groups GROUP BY group_id)
    SELECT CAST(group_size AS INT) AS group_size,
           count(*) AS n_groups,
           CAST(group_size * count(*) AS BIGINT) AS docs_in_tier,
           CAST((group_size - 1) * count(*) AS BIGINT) AS removable_docs
    FROM sizes GROUP BY group_size
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the near-dup CLUSTER SIZE distribution —
    how many duplicate groups of each size exist, how many documents
    they hold, and how many a keep-one-per-group policy removes. The
    report a curation run publishes before committing a dedup pass
    (a sudden giant cluster = boilerplate or a crawler loop). Two
    tiny aggregations over the dedup_near_full component output."""
    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    groups = dd.connected_components(edges)
    sizes = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select(
            F.col("group_size").cast("int").alias("group_size"),
            "n_groups",
            (F.col("group_size") * F.col("n_groups"))
            .cast("bigint")
            .alias("docs_in_tier"),
            ((F.col("group_size") - 1) * F.col("n_groups"))
            .cast("bigint")
            .alias("removable_docs"),
        )
    )


@register(
    "corpus_token_histogram",
    """
    WITH n AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    b AS (
        SELECT CAST(floor(n_tokens / 10) * 10 AS BIGINT) AS bucket,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS tokens
        FROM n GROUP BY 1)
    SELECT bucket, n_docs, tokens,
           CAST(sum(n_docs) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_docs,
           CAST(sum(tokens) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens
    FROM b
    """,
)
def corpus_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: tokens-per-document histogram (width-10
    buckets) with cumulative doc and token counts — the length
    distribution every mixture/packing decision starts from. One
    partial-agg groupBy of |buckets| rows; the cumulative window runs
    over the aggregated histogram only (tiny), never the corpus."""
    docs = load_table(spark, "documents", sf_dir)
    n = docs.select(
        (F.floor(F.size(F.split(F.col("text"), " ")) / 10) * 10)
        .cast("bigint")
        .alias("bucket"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    b = n.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return b.select(
        "bucket",
        "n_docs",
        "tokens",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("tokens").over(w).cast("bigint").alias("cum_tokens"),
    )


@register(
    "events_top_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path analysis: the event-type transition matrix
    (Markov edge counts) over each user's time-ordered stream — the
    input to funnel discovery and next-action models. One per-user
    window (ordered by (ts, event_id) for total order) and one
    partial-agg groupBy of |types|² rows."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _hll_oracle() -> str:
    m = 1 << 10
    alpha = 0.7213 / (1 + 1.079 / m)
    h16 = md5_long("CAST(user_id AS VARCHAR)", 4)
    h32 = md5_long("CAST(user_id AS VARCHAR)", 8, salt="hllw|")
    return f"""
    WITH regs AS (
        SELECT event_type,
               {h16} % {m} AS reg,
               max(CASE WHEN {h32} = 0 THEN 33
                        ELSE instr(lpad(bin({h32}), 32, '0'), '1')
                   END) AS max_rho
        FROM events GROUP BY event_type, reg),
    per_group AS (
        SELECT event_type,
               sum(pow(2.0, -max_rho)) AS present_sum,
               count(*) AS n_regs
        FROM regs GROUP BY event_type),
    est AS (
        SELECT event_type, n_regs,
               (CAST({alpha} AS DOUBLE) * {m} * {m})
                   / (present_sum + ({m} - n_regs)) AS raw_e
        FROM per_group),
    corrected AS (
        SELECT event_type, n_regs,
               CASE WHEN raw_e <= 2.5 * {m} AND ({m} - n_regs) > 0
                    THEN CAST({m} AS DOUBLE)
                         * ln(CAST({m} AS DOUBLE) / ({m} - n_regs))
                    ELSE raw_e END AS e
        FROM est),
    exact AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY event_type)
    SELECT c.event_type, round(c.e, 4) AS hll_estimate,
           CAST(c.n_regs AS BIGINT) AS n_registers,
           x.exact_distinct
    FROM corrected c JOIN exact x USING (event_type)
    """


@register("events_hll_distinct", _hll_oracle())
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine HyperLogLog: per-event-type distinct-user estimate
    whose registers, correction branch, and final double are replayed
    BIT-EXACTLY by the DuckDB oracle (md5-derived registers + exact
    power-of-two register sums — see sketches.hll_distinct). The exact
    distinct count rides along, so the ~1.04/sqrt(1024) accuracy
    contract is itself part of the hash-checked output. 1024 register
    rows per group regardless of key cardinality — the bounded-memory
    distinct count a 100 TB key space needs."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    # hash-spread by (type, user) before the two towers: the
    # md5-register projection and the exact-distinct partial agg
    # otherwise run at the scan's split count (single-task at sf0.1,
    # round-9 stage audit), and co-locating (type, user) lets the
    # distinct partial deduplicate completely map-side.
    ev = ev.repartition(
        spark.sparkContext.defaultParallelism, "event_type", "user_id"
    )
    est = sk.hll_distinct(ev, "user_id", ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (functions/bpe.py)
# ---------------------------------------------------------------------------

_BPE_MERGES = 10


def _bpe_merges_oracle(n: int) -> str:
    from decaton_spark.functions import bpe as _bpe

    sel = (
        "SELECT * FROM ("
        + " UNION ALL ".join(
            f"SELECT CAST({i} AS INTEGER) AS merge_rank, p1 AS left_sym, "
            f"p2 AS right_sym, p1 || p2 AS merged, c AS pair_count FROM w{i}"
            for i in range(n)
        )
        + ")"
    )
    return _bpe.bpe_oracle_sql(n, sel)


@register("text_bpe_merges", _bpe_merges_oracle(_BPE_MERGES))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the first 10 learned merges
    with their pair counts (see functions/bpe.py for the map-reduce
    shape: ONE corpus scan into a checkpointed word histogram, then
    each round is a small partial-aggregated pair count over the
    vocabulary + a single-row driver round-trip). The DuckDB oracle
    replays the entire training loop as one unrolled 10-round SQL
    statement — argmax tie-breaks are lexicographic and bit-identical
    cross-engine. Beyond-reference LLM-pipeline operator."""
    from decaton_spark.functions import bpe

    docs = load_table(spark, "documents", sf_dir)
    trained = bpe.bpe_train(docs, num_merges=_BPE_MERGES)
    rows = [(i, p1, p2, p1 + p2, c) for i, (p1, p2, c) in enumerate(trained)]
    return spark.createDataFrame(
        rows,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def _bpe_compression_oracle(n: int) -> str:
    from decaton_spark.functions import bpe as _bpe

    sel = f"""
, ws AS (
    SELECT source, w AS word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT source, unnest(regexp_extract_all(lower(text), '{_bpe.WORD_RE}')) AS w
          FROM documents)
    GROUP BY source, w)
SELECT source, n_words, symbols_before, symbols_after,
       CAST((1000000 * symbols_before) // symbols_after AS BIGINT) AS compression_ppm
FROM (
    SELECT ws.source,
           CAST(sum(ws.cnt) AS BIGINT) AS n_words,
           CAST(sum(ws.cnt * (length(ws.word) + 1)) AS BIGINT) AS symbols_before,
           CAST(sum(ws.cnt * ((length(s.state)
                - length(replace(s.state, '||', ''))) // 2 + 1)) AS BIGINT)
               AS symbols_after
    FROM ws JOIN s{n} s USING (word)
    GROUP BY ws.source)
"""
    return _bpe.bpe_oracle_sql(n, "").rstrip() + sel


@register("docs_bpe_compression", _bpe_compression_oracle(_BPE_MERGES))
def docs_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-compression report for the trained BPE merges:
    symbols per corpus before (chars + EOW) vs after applying the 10
    learned merges, with the compression ratio as an exact
    parts-per-million integer ((1e6 * before) div after — both counts
    strictly positive, so Spark's truncating div and DuckDB's flooring
    // agree). The apply path is pure JVM string work over the
    per-source word histogram — the corpus is never re-scanned per
    merge, and the oracle replays training + application in one
    statement."""
    from decaton_spark.functions import bpe

    docs = load_table(spark, "documents", sf_dir)
    trained = bpe.bpe_train(docs, num_merges=_BPE_MERGES)
    merges = [(p1, p2) for p1, p2, _ in trained]
    words = (
        docs.select(
            "source",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(bpe.WORD_RE), F.lit(0))
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per = words.select(
        "source",
        "cnt",
        (F.length("word") + 1).cast("long").alias("sym0"),
        bpe.symbols_per_word(F.col("word"), merges).alias("symn"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("sym0")).alias("symbols_before"),
            F.sum(F.col("cnt") * F.col("symn")).alias("symbols_after"),
        )
        .withColumn(
            "compression_ppm",
            F.expr("(1000000 * symbols_before) div symbols_after"),
        )
    )


_AB_ARM = "((CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 8, 1)) - 1 AS BIGINT) * 1) % 2)"
_AB_VAR_A = "(CAST(n_a AS DOUBLE) * CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1))"
_AB_VAR_B = "(CAST(n_b AS DOUBLE) * CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1))"


@register(
    "events_ab_welch_ttest",
    f"""
    WITH ab AS (
        SELECT event_type,
               CASE WHEN {_AB_ARM} = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events),
    abst AS (
        SELECT event_type,
               CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
               CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
               CAST(coalesce(sum(v)     FILTER (arm = 'A'), 0) AS BIGINT) AS sa,
               CAST(coalesce(sum(v)     FILTER (arm = 'B'), 0) AS BIGINT) AS sb,
               CAST(coalesce(sum(v * v) FILTER (arm = 'A'), 0) AS BIGINT) AS qa,
               CAST(coalesce(sum(v * v) FILTER (arm = 'B'), 0) AS BIGINT) AS qb
        FROM ab GROUP BY event_type),
    abv AS (
        SELECT *,
               {_AB_VAR_A} AS va,
               {_AB_VAR_B} AS vb
        FROM abst)
    SELECT event_type, n_a, n_b, sa AS sum_centi_a, sb AS sum_centi_b,
           CASE WHEN n_a >= 2 AND n_b >= 2 THEN
               round((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
                     / sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)), 6)
           END AS t_stat,
           CASE WHEN n_a >= 2 AND n_b >= 2 THEN
               round(((va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
                      * (va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)))
                     / ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE))
                            / (CAST(n_a AS DOUBLE) - 1)
                        + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE))
                            / (CAST(n_b AS DOUBLE) - 1)), 4)
           END AS welch_dof
    FROM abv
    """,
)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic md5-parity assignment of
    users to arms (sticky, RNG-free, engine-replayable), then a
    per-event-type two-sample Welch t-test on the event value —
    ``stats.welch_ttest``. ONE partial-aggregable pass collects exact
    integer sufficient statistics (centi-quantized Σv, Σv², counts as
    conditional aggregates — no pivot, no second scan of the fact);
    the t/dof formulas then run as one canonical double expression on
    identical inputs, which IEEE 754 makes engine-identical."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    # size-adaptive spread (guide §2): the md5 arm assignment runs
    # per event BEFORE the sufficient-statistics partial agg, i.e. in
    # the scan stage — on a big low-row-group source that whole pass
    # is one task without the spread
    spread = spread_partitions(spark, ev)
    if spread:
        ev = ev.repartition(spread, "event_id")
    armed = ev.withColumn("arm", st.hash_arm("CAST(user_id AS STRING)"))
    return st.welch_ttest(armed, group_cols=["event_type"], unit=100)


@register(
    "events_rfm_segments",
    """
    WITH rp AS (
        SELECT user_id, epoch_ms(ts) AS ms,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'),
    rper AS (
        SELECT user_id, max(ms) AS last_ms,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(v) AS BIGINT) AS monetary_centi
        FROM rp GROUP BY user_id),
    ranch AS (SELECT max(last_ms) AS amax FROM rper),
    rsc AS (
        SELECT user_id, freq, monetary_centi,
               (amax - last_ms) // 86400000 AS recency_days
        FROM rper, ranch),
    rtile AS (
        SELECT *,
               ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
               ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_score,
               ntile(4) OVER (ORDER BY monetary_centi DESC, user_id) AS m_score
        FROM rsc)
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(freq) AS BIGINT) AS total_freq,
           CAST(sum(monetary_centi) AS BIGINT) AS total_monetary_centi
    FROM rtile GROUP BY 1
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over purchase events: per-user
    recency/frequency/monetary quartile scores (``stats.rfm_scores``,
    score 1 = best, user-id tiebreaks) rolled up to segment counts and
    exact centi revenue. The quartile windows run over the per-user
    aggregate — the fact table reduces in one partial-agg pass first —
    and the segment rollup is partial-aggregable (≤64 groups)."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    src = ev.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    scores = st.rfm_scores(src)
    return scores.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("freq").cast("long").alias("total_freq"),
        F.sum("monetary_centi").cast("long").alias("total_monetary_centi"),
    )


@register(
    "corpus_snapshot_diff",
    """
    WITH sd_old AS (
        SELECT doc_id, md5(text) AS old_hash
        FROM documents WHERE doc_id % 11 <> 3),
    sd_new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 13 = 2 THEN text || ' v2'
                        ELSE text END) AS new_hash
        FROM documents WHERE doc_id % 11 <> 7),
    sd AS (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.old_hash <> n.new_hash THEN 'changed'
                    ELSE 'unchanged' END AS change
        FROM sd_old o FULL OUTER JOIN sd_new n ON o.doc_id = n.doc_id)
    SELECT change, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM sd GROUP BY change
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff (``merge.snapshot_diff``): classify every id
    across two snapshot versions as added / removed / changed /
    unchanged — the audit table a release pipeline publishes with each
    corpus bump. The two versions derive deterministically from the
    fixture (different residue drops, a ' v2' content edit on the
    13-residue class). Hashes are per-side projections so the payload
    never rides the shuffle; the classifier is ONE full-outer equi-join
    on the id, and the rollup is partial-aggregable (4 groups)."""
    from decaton_spark.operators.merge import snapshot_diff

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 11 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    d = snapshot_diff(old, new)
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "events_ab_cuped",
    f"""
    WITH cu_ev AS (
        SELECT event_type, user_id,
               CASE WHEN {_AB_ARM} = 0 THEN 'A' ELSE 'B' END AS arm,
               epoch_ms(ts) AS ms,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
    cu_b AS (SELECT (min(ms) + max(ms)) // 2 AS mid FROM cu_ev),
    cu_u AS (
        SELECT event_type, arm,
               CAST(round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 100)
                    AS BIGINT) AS x4,
               CAST(round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) * 100)
                    AS BIGINT) AS y4
        FROM (
            SELECT event_type, user_id, arm,
                   count(*) FILTER (ms < mid) AS n1,
                   coalesce(sum(v) FILTER (ms < mid), 0) AS s1,
                   count(*) FILTER (ms >= mid) AS n2,
                   coalesce(sum(v) FILTER (ms >= mid), 0) AS s2
            FROM cu_ev, cu_b GROUP BY event_type, user_id, arm)
        WHERE n1 > 0 AND n2 > 0),
    cu_m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x4 AS HUGEINT)) AS sx,
               sum(CAST(y4 AS HUGEINT)) AS sy,
               sum(CAST(x4 * x4 AS HUGEINT)) AS sxx,
               sum(CAST(y4 * y4 AS HUGEINT)) AS syy,
               sum(CAST(x4 * y4 AS HUGEINT)) AS sxy,
               CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS na,
               CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS nb,
               sum(CAST(x4 AS HUGEINT)) FILTER (arm = 'A') AS sxa,
               sum(CAST(x4 AS HUGEINT)) FILTER (arm = 'B') AS sxb,
               sum(CAST(y4 AS HUGEINT)) FILTER (arm = 'A') AS sya,
               sum(CAST(y4 AS HUGEINT)) FILTER (arm = 'B') AS syb
        FROM cu_u GROUP BY event_type),
    cu_f AS (
        SELECT event_type, n,
               CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS covn,
               CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vxn,
               CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vyn,
               na, nb,
               CAST(sxa AS DOUBLE) AS dsxa, CAST(sxb AS DOUBLE) AS dsxb,
               CAST(sya AS DOUBLE) AS dsya, CAST(syb AS DOUBLE) AS dsyb
        FROM cu_m)
    SELECT event_type, n AS n_users,
           CASE WHEN na > 0 AND nb > 0 AND vxn > 0 AND vyn > 0 THEN
               round(covn / vxn, 6) END AS theta,
           CAST(CASE WHEN na > 0 AND nb > 0 AND vxn > 0 AND vyn > 0 THEN
               round(covn * covn / (vxn * vyn) * 1000000) END AS BIGINT)
               AS variance_reduction_ppm,
           CASE WHEN na > 0 AND nb > 0 AND vxn > 0 AND vyn > 0 THEN
               round((dsya / CAST(na AS DOUBLE) - dsyb / CAST(nb AS DOUBLE))
                     / 100, 4) END AS effect_raw,
           CASE WHEN na > 0 AND nb > 0 AND vxn > 0 AND vyn > 0 THEN
               round(((dsya / CAST(na AS DOUBLE) - dsyb / CAST(nb AS DOUBLE))
                      - (covn / vxn)
                        * (dsxa / CAST(na AS DOUBLE) - dsxb / CAST(nb AS DOUBLE)))
                     / 100, 4) END AS effect_cuped
    FROM cu_f
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (``stats.cuped_adjustment``): per
    event type, regress each user's experiment-period outcome on their
    pre-period covariate (global ts-midpoint split), report θ, the
    variance reduction CUPED buys (corr² — derived from the SAME moment
    sums, no second pass over adjusted values), and the raw vs adjusted
    treatment effect. Two partial-agg passes (user reduce, moment
    reduce); every ratio is a canonical double formula over exact
    DECIMAL integer moments."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        "event_type",
        "user_id",
        st.hash_arm("CAST(user_id AS STRING)").alias("arm"),
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return st.cuped_adjustment(src)


@register(
    "docs_zipf_fit",
    """
    WITH zf_tf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS ct
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term <> '' GROUP BY term),
    zf_top AS (SELECT * FROM zf_tf ORDER BY ct DESC, term LIMIT 100),
    zf_xy AS (
        SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY ct DESC, term)
                                  AS DOUBLE)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(CAST(ct AS DOUBLE)) * 1000000) AS BIGINT) AS y
        FROM zf_top),
    zf_m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x * x AS HUGEINT)) AS sxx,
               sum(CAST(y * y AS HUGEINT)) AS syy,
               sum(CAST(x * y AS HUGEINT)) AS sxy
        FROM zf_xy),
    zf_f AS (
        SELECT n,
               CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS covn,
               CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vxn,
               CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vyn,
               CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy
        FROM zf_m)
    SELECT n AS n_terms,
           round(covn / vxn, 6) AS slope,
           round((dsy - (covn / vxn) * dsx) / CAST(n AS DOUBLE) / 1e6, 6)
               AS intercept,
           CAST(round(covn * covn / (vxn * vyn) * 1000000) AS BIGINT) AS r2_ppm
    FROM zf_f
    """,
)
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-spectrum drift gauge (``tx.zipf_fit``): the
    least-squares Zipf slope/intercept/R² of ln(freq) vs ln(rank) over
    the top-100 terms. One partial-agg term count, a bounded top-k,
    and a ≤100-row regression on exact micro-quantized logs — the
    whole fit is a canonical double formula over integer moments."""
    docs = load_table(spark, "documents", sf_dir)
    return tx.zipf_fit(docs, top_k=100)


@register(
    "dedup_minhash_accuracy",
    f"""
    WITH ma_tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    ma_sh AS (SELECT doc_id,
        list_distinct(list_transform(range(greatest(len(l) - 2, 1)),
            i -> array_to_string(l[i+1:i+3], chr(31)))) AS sh
        FROM ma_tok),
    ma_h AS (SELECT doc_id,
        list_transform(sh, s -> md5(s)) AS h1,
        list_transform(sh, s -> md5('mh2:' || s)) AS h2
        FROM ma_sh),
    ma_mh AS (SELECT doc_id, [
        {", ".join(f"list_min(list_transform(h{src}, h -> {hex_to_long('h', start=1 + 8 * b, ndigits=8)}))" for src in (1, 2) for b in range(4))}
        ] AS mh FROM ma_h),
    ma_cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.mh AS mh_a, b.mh AS mh_b
        FROM ma_mh a JOIN ma_mh b
          ON a.doc_id < b.doc_id
         AND (a.mh[1] = b.mh[1] OR a.mh[2] = b.mh[2]
              OR a.mh[3] = b.mh[3] OR a.mh[4] = b.mh[4])),
    ma_j AS (
        SELECT id_a, id_b, mh_a, mh_b,
               round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                     (len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh))), 6) AS jacc
        FROM ma_cand JOIN ma_sh sa ON sa.doc_id = ma_cand.id_a
                     JOIN ma_sh sb ON sb.doc_id = ma_cand.id_b)
    SELECT id_a, id_b,
           CAST(round(jacc * 1000) AS BIGINT) AS jacc_pml,
           CAST(125 * len(list_filter(range(8),
                i -> mh_a[i + 1] = mh_b[i + 1])) AS BIGINT) AS est_pml,
           abs(CAST(round(jacc * 1000) AS BIGINT)
               - CAST(125 * len(list_filter(range(8),
                     i -> mh_a[i + 1] = mh_b[i + 1])) AS BIGINT)) AS err_pml
    FROM ma_j
    """,
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy gauge for the MinHash estimator — "measure,
    don't guess" applied to the dedup infrastructure itself: for every
    LSH candidate pair, the m=8 slot-match Jaccard ESTIMATE
    (``dd.minhash_values``, 125-pml resolution) side by side with the
    exact 3-gram-shingle Jaccard and the absolute error. A pipeline
    reads this before trusting a banding threshold at a new shingle
    size or corpus mix. All joins are id/band equi-joins over the
    bounded candidate set."""
    from pyspark import StorageLevel

    from decaton_spark.functions.hashing import hex_to_long_spark

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4, num_partitions=par
    ).localCheckpoint(eager=False)
    # the exact-Jaccard verify and the m=8 estimator read the SAME
    # 3-shingle set, so both per-document payloads (gram array + mh
    # slots) build in ONE pass into one partitioning-preserving
    # persist and the candidate stream crosses exactly TWO exchanges
    # (id_a leg, id_b re-key) — the operator-composed form ran three
    # separate pair passes (verify join, estimator join, final
    # (id_a, id_b) join) whose exchanges owned the x100 wall
    # (round-10 stage profile: 29 s + 20 s pair-shuffle stages).
    # Expressions replicate dd.verify_pairs_jaccard (n=3, threshold
    # 0.0) and dd.minhash_values (k=3) exactly; the oracle is
    # unchanged.
    sh = dd.word_shingles("_t", 3)
    slots = [
        F.expr(
            f"array_min(transform(_h{src}, "
            f"h -> {hex_to_long_spark('h', start=1 + 8 * b, ndigits=8)}))"
        )
        for src in (1, 2)
        for b in range(4)
    ]
    side = (
        docs.select(F.col("doc_id").alias("id"), F.col("text").alias("_t"))
        .repartition(par, "id")
        .withColumn("grams", sh)
        .withColumn("_h1", F.expr("transform(grams, s -> md5(s))"))
        .withColumn(
            "_h2", F.expr("transform(grams, s -> md5(concat('mh2:', s)))")
        )
        .select("id", "grams", F.array(*slots).alias("mh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    paired = (
        cand.repartition(par, "id_a")
        .join(
            side.select(
                F.col("id").alias("id_a"),
                F.col("grams").alias("grams_a"),
                F.col("mh").alias("mh_a"),
            ).hint("SHUFFLE_HASH"),
            "id_a",
        )
        .join(
            side.select(
                F.col("id").alias("id_b"),
                F.col("grams").alias("grams_b"),
                F.col("mh").alias("mh_b"),
            ).hint("SHUFFLE_HASH"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jacc = F.round(inter * F.lit(1.0) / union, 6)
    out = (
        paired.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= 0.0)
        .withColumn(
            "est_pml",
            F.expr(
                "125 * aggregate(zip_with(mh_a, mh_b,"
                " (a, b) -> IF(a = b, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ),
        )
        .withColumn("jacc_pml", F.round(F.col("jaccard") * 1000).cast("long"))
    )
    return out.select(
        "id_a",
        "id_b",
        "jacc_pml",
        "est_pml",
        F.abs(F.col("jacc_pml") - F.col("est_pml")).alias("err_pml"),
    )


@register(
    "events_ab_conversion_ztest",
    f"""
    WITH zt_u AS (
        SELECT user_id,
               CASE WHEN {_AB_ARM} = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS converted
        FROM events GROUP BY user_id),
    zt_a AS (
        SELECT CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
               CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
               CAST(coalesce(sum(converted) FILTER (arm = 'A'), 0) AS BIGINT)
                   AS conv_a,
               CAST(coalesce(sum(converted) FILTER (arm = 'B'), 0) AS BIGINT)
                   AS conv_b
        FROM zt_u)
    SELECT n_a, n_b, conv_a, conv_b,
           (1000 * conv_a) // n_a AS rate_a_pml,
           (1000 * conv_b) // n_b AS rate_b_pml,
           CASE WHEN n_a > 0 AND n_b > 0
                 AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
           THEN round(
               (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt(((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                       / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                      * (1 - (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                      * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE))), 6)
           END AS z_stat
    FROM zt_a
    """,
)
def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-rate A/B readout: per-user purchase conversion under
    the same md5-parity assignment, tested with the pooled two-
    proportion z statistic (``stats.conversion_ztest``) — the binary
    sibling of the Welch readout. One partial-agg user reduce + one
    conditional-aggregate pass; rates exact per-mille, z a canonical
    double formula over the four counts."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("converted")
    ).withColumn("arm", st.hash_arm("CAST(user_id AS STRING)"))
    return st.conversion_ztest(per_user)


@register(
    "events_k_anonymity",
    """
    WITH ka_q AS (
        SELECT event_type,
               (epoch_ms(ts) // 3600000) % 24 AS hour_of_day,
               CAST(floor(value / 50.0) AS BIGINT) AS value_band
        FROM events WHERE value IS NOT NULL),
    ka_g AS (
        SELECT event_type, hour_of_day, value_band,
               CAST(count(*) AS BIGINT) AS sz
        FROM ka_q GROUP BY 1, 2, 3)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(*) FILTER (sz < 5) AS BIGINT) AS groups_below_k,
           CAST(coalesce(sum(sz) FILTER (sz < 5), 0) AS BIGINT) AS rows_at_risk,
           min(sz) AS min_group_size
    FROM ka_g GROUP BY event_type
    """,
)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gauge (k=5): bucket every event by its
    quasi-identifier tuple (type, hour-of-day, 50-unit value band) and
    report, per event type, how many buckets — and how many rows —
    fall below the k threshold, i.e. are re-identifiable in a data
    release. Two partial-agg passes (QI bucket count, per-type
    rollup); the hour is pure epoch arithmetic (no session-timezone
    dependence), and the value band is a nonneg floor division."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    q = ev.select(
        "event_type",
        F.expr("(unix_millis(ts) DIV 3600000) % 24").alias("hour_of_day"),
        F.floor(F.col("value") / 50.0).cast("long").alias("value_band"),
    )
    g = q.groupBy("event_type", "hour_of_day", "value_band").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    below = F.col("sz") < 5
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count(F.when(below, 1)).cast("long").alias("groups_below_k"),
        F.coalesce(F.sum(F.when(below, F.col("sz"))), F.lit(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("sz").alias("min_group_size"),
    )


@register(
    "tpch_referential_audit",
    """
    WITH ra_oc AS (
        SELECT CAST(count(*) AS BIGINT) AS n_child,
               CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS n_orphans
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
    ra_lo AS (
        SELECT CAST(count(*) AS BIGINT) AS n_child,
               CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
    ra_ls AS (
        SELECT CAST(count(*) AS BIGINT) AS n_child,
               CAST(count(*) FILTER (s.s_suppkey IS NULL) AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey)
    SELECT 'orders->customer' AS fk_edge, n_child, n_orphans,
           (1000000 * n_orphans) // n_child AS orphan_ppm FROM ra_oc
    UNION ALL
    SELECT 'lineitem->orders', n_child, n_orphans,
           (1000000 * n_orphans) // n_child FROM ra_lo
    UNION ALL
    SELECT 'lineitem->supplier', n_child, n_orphans,
           (1000000 * n_orphans) // n_child FROM ra_ls
    """,
)
def tpch_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the fact schema's FK edges:
    orphan counts and exact ppm rates for orders→customer,
    lineitem→orders, lineitem→supplier — the ingestion gate that
    catches a partial dimension load before queries silently drop
    rows through inner joins. Each edge is one left join where BOTH
    sides carry only their key column (pruned scans — the shuffle
    moves 8-byte keys, never payloads; AQE broadcasts whichever parent
    actually fits instead of hardcoding a fact-sized broadcast),
    aggregated to a single row."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey")

    def edge(child, key, parent, pkey, name):
        j = child.select(F.col(key)).join(
            parent, child[key] == parent[pkey], "left"
        )
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.count(F.when(F.col(pkey).isNull(), 1)).cast("long").alias("n_orphans"),
        ).withColumn("orphan_ppm", F.expr("(1000000 * n_orphans) DIV n_child"))

    return (
        edge(o, "o_custkey", c, "c_custkey", "orders->customer")
        .unionAll(edge(li.select("l_orderkey"), "l_orderkey",
                       o.select("o_orderkey"), "o_orderkey", "lineitem->orders"))
        .unionAll(edge(li.select("l_suppkey"), "l_suppkey",
                       s, "s_suppkey", "lineitem->supplier"))
    )


@register(
    "regex_functions_bridge",
    """
    SELECT doc_id,
           regexp_extract(text, 's[a-z]+n', 0) AS first_sn_word,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
           regexp_replace(substr(text, 1, 40), '[aeiou]', '_', 'g') AS devoweled,
           CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS INT) AS n_ta_words,
           CASE WHEN regexp_matches(text, '(query|scan) (big|slow)')
                THEN 1 ELSE 0 END AS has_slow_scan,
           CASE WHEN regexp_matches(text, '^[a-z]')
                THEN 1 ELSE 0 END AS starts_lower
    FROM documents WHERE doc_id < 200
    """,
)
def regex_functions_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-function parity bridge: pins the regex subset the quality/
    PII/normalization layers stand on — extraction with group indexing,
    global replacement, match counting via extract_all, boolean match,
    and anchors — to identical behavior across Java regex (Spark) and
    RE2 (DuckDB). Restricted to the dialect intersection (character
    classes, alternation, quantifiers, anchors; no lookaround or
    backreferences, which the two flavors DO disagree on — the bridge
    documents the safe envelope). Pure projection, pruned scan."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "s[a-z]+n", 0).alias("first_sn_word"),
        F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]", "_").alias(
            "devoweled"
        ),
        F.size(F.expr("regexp_extract_all(text, 'ta[a-z]+', 0)")).alias(
            "n_ta_words"
        ),
        F.when(F.col("text").rlike("(query|scan) (big|slow)"), 1)
        .otherwise(0)
        .alias("has_slow_scan"),
        F.when(F.col("text").rlike("^[a-z]"), 1).otherwise(0).alias("starts_lower"),
    )


@register(
    "events_ab_mannwhitney",
    f"""
    WITH mw_v AS (
        SELECT event_type,
               CASE WHEN {_AB_ARM} = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
    mw_pv AS (
        SELECT event_type, v,
               CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS ca,
               CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS cb
        FROM mw_v GROUP BY 1, 2),
    mw_r AS (
        SELECT event_type, ca, cb, ca + cb AS t,
               coalesce(sum(ca + cb) OVER (
                   PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM mw_pv),
    mw_a AS (
        SELECT event_type,
               CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               sum(CAST(ca * (2 * below + t + 1) AS HUGEINT)) AS r2a,
               sum(CAST(t * t * t - t AS HUGEINT)) AS tie
        FROM mw_r GROUP BY 1),
    mw_f AS (
        SELECT event_type, n_a, n_b,
               CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
               CAST(r2a AS DOUBLE) AS dr2a,
               CAST(tie AS DOUBLE) AS dtie,
               CAST(n_a AS DOUBLE) AS dna, CAST(n_b AS DOUBLE) AS dnb,
               CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS dn
        FROM mw_a)
    SELECT event_type, n_a, n_b, u2_a,
           CASE WHEN n_a > 0 AND n_b > 0
                 AND dna * dnb / 12 * ((dn + 1) - dtie / (dn * (dn - 1))) > 0
           THEN round(
               ((dr2a - dna * (dna + 1)) - dna * dnb)
               / (2 * sqrt(dna * dnb / 12
                           * ((dn + 1) - dtie / (dn * (dn - 1))))), 6)
           END AS z_stat
    FROM mw_f
    """,
)
def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based A/B readout: per-event-type Mann–Whitney U between
    the md5-parity arms (``stats.mannwhitney_u``) — the outlier-robust
    nonparametric sibling of the Welch readout for skewed value
    metrics. The rank pass runs over DISTINCT VALUES (partial-agg
    count per (type, value) + a window over the bounded value list),
    doubled average ranks keep ties integer-exact, and the
    tie-corrected normal z evaluates in one canonical double formula."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    armed = ev.select(
        "event_type",
        st.hash_arm("CAST(user_id AS STRING)").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return st.mannwhitney_u(armed, group_cols=["event_type"])


@register(
    "events_theilsen_trend",
    """
    WITH th_b AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    th_p AS (
        SELECT a.event_type,
               round((CAST(b.s AS DOUBLE) - CAST(a.s AS DOUBLE))
                     / (CAST(b.h AS DOUBLE) - CAST(a.h AS DOUBLE)), 6) AS slope,
               a.h AS x1, b.h AS x2
        FROM th_b a JOIN th_b b
          ON a.event_type = b.event_type AND a.h < b.h),
    th_r AS (
        SELECT event_type, slope, x1, x2,
               count(*) OVER (PARTITION BY event_type) AS n_pairs,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, x1, x2) AS rn
        FROM th_p),
    th_n AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
        FROM th_b GROUP BY 1)
    SELECT th_n.event_type, n_points,
           CAST(n_pairs AS BIGINT) AS n_pairs, slope AS median_slope
    FROM th_r JOIN th_n USING (event_type)
    WHERE rn = (n_pairs + 1) // 2
    """,
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend per event type: the Theil–Sen median of pairwise
    slopes over the HOURLY value series (``stats.theilsen_trend``) —
    the fit one pathological hour cannot drag, unlike least squares.
    Pair cost is buckets² per group by construction (the series is
    pre-aggregated); the median is the deterministic lower median with
    (slope, x1, x2) tie-breaking, so the whole estimate replays in
    SQL."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    hourly = ev.select(
        "event_type",
        F.expr("unix_millis(ts) DIV 3600000").alias("h"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).groupBy("event_type", "h").agg(F.sum("v").cast("long").alias("s"))
    return st.theilsen_trend(hourly, group_cols=["event_type"], x_col="h", y_col="s")


@register(
    "orders_benford_audit",
    """
    WITH bf AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0),
    bft AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bf)
    SELECT digit, CAST(count(*) AS BIGINT) AS n_obs,
           (1000 * count(*)) // total AS obs_pml,
           CAST(round(1000 * ln(1 + 1.0 / digit) / ln(10)) AS BIGINT)
               AS benford_pml
    FROM bf, bft GROUP BY digit, total
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    fabricated-data / unit-mix-up detector: observed first-significant-
    digit shares vs Benford's log expectation, side by side per digit.
    Digit extraction goes through the exact centi BIGINT's string form
    (no floating log10 near power-of-ten boundaries); shares are exact
    per-mille integer DIV; one partial-agg scan + a 1-row total."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 0)
    dig = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    total = dig.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        dig.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.expr("(1000 * n_obs) DIV total").cast("long").alias("obs_pml"),
            F.round(1000 * F.log(1 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)))
            .cast("long")
            .alias("benford_pml"),
        )
    )


@register(
    "orders_gini_by_nation",
    """
    WITH gi_c AS (
        SELECT c.c_nationkey AS nationkey, o.o_custkey AS member_id,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    gi_r AS (
        SELECT nationkey, v,
               row_number() OVER (PARTITION BY nationkey
                                  ORDER BY v, member_id) AS i
        FROM gi_c),
    gi_a AS (
        SELECT nationkey, CAST(count(*) AS BIGINT) AS n_members,
               sum(CAST(v AS HUGEINT)) AS sx,
               sum(CAST(i AS HUGEINT) * CAST(v AS HUGEINT)) AS six
        FROM gi_r GROUP BY 1)
    SELECT g.nationkey, n.n_name AS nation, n_members,
           CAST(sx AS BIGINT) AS total_value,
           CAST(CASE WHEN n_members > 0 AND sx > 0 THEN
               round((2 * CAST(six AS DOUBLE)
                      - (CAST(n_members AS DOUBLE) + 1) * CAST(sx AS DOUBLE))
                     / (CAST(n_members AS DOUBLE) * CAST(sx AS DOUBLE))
                     * 1000000)
           END AS BIGINT) AS gini_micro
    FROM gi_a g JOIN nation n ON g.nationkey = n.n_nationkey
    """,
)
def orders_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration inequality per nation: the exact rank-form
    Gini coefficient over per-customer order totals
    (``stats.gini_concentration``) — the gauge that distinguishes "a
    few whales" from broad demand, which q11's top-k share cannot.
    The rank window runs over the per-customer aggregate partitioned
    by nation; Σ i·x accumulates in DECIMAL/HUGEINT; micro-unit
    output."""
    from decaton_spark.functions import stats as st

    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    per_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"),
                 F.col("o_custkey").alias("member_id"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    g = st.gini_concentration(per_cust, group_cols=["nationkey"])
    return g.join(F.broadcast(n), g["nationkey"] == n["n_nationkey"]).select(
        "nationkey",
        F.col("n_name").alias("nation"),
        "n_members",
        "total_value",
        "gini_micro",
    )


@register(
    "corpus_term_jsd",
    """
    WITH js_o AS (
        SELECT unnest(string_split(text, ' ')) AS term
        FROM documents WHERE doc_id % 11 <> 3),
    js_n AS (
        SELECT unnest(string_split(CASE WHEN doc_id % 13 = 2
                                        THEN text || ' v2' ELSE text END, ' ')) AS term
        FROM documents WHERE doc_id % 11 <> 7),
    js_co AS (SELECT term, CAST(count(*) AS BIGINT) AS co FROM js_o GROUP BY term),
    js_cn AS (SELECT term, CAST(count(*) AS BIGINT) AS cn FROM js_n GROUP BY term),
    js_t AS (
        SELECT coalesce(o.term, n.term) AS term,
               coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
        FROM js_co o FULL OUTER JOIN js_cn n ON o.term = n.term),
    js_tot AS (
        SELECT CAST(sum(co) AS DOUBLE) AS to_, CAST(sum(cn) AS DOUBLE) AS tn_
        FROM js_t),
    js_c AS (
        SELECT term,
               round(
                 0.5 * (CASE WHEN co > 0 THEN (co / to_)
                         * ln((co / to_) / ((co / to_ + cn / tn_) / 2))
                        ELSE 0 END
                      + CASE WHEN cn > 0 THEN (cn / tn_)
                         * ln((cn / tn_) / ((co / to_ + cn / tn_) / 2))
                        ELSE 0 END), 9) AS contrib
        FROM js_t, js_tot)
    SELECT CAST(count(*) AS BIGINT) AS n_terms_union,
           round(CAST(sum(CAST(contrib AS DECIMAL(38,9))) AS DOUBLE), 6) AS jsd_nats
    FROM js_c
    """,
)
def corpus_term_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus snapshots: Jensen–Shannon
    divergence of the term frequency distributions (same deterministic
    version derivation as ``corpus_snapshot_diff``) — the scalar a
    release pipeline alerts on when the word mix moves, complementing
    the row-level diff and the Zipf shape gauge. Per-term contributions
    round to 9dp and sum as DECIMAL (order-free, the lm_score
    discipline); one full-outer equi-join of two partial-agg term
    counts."""
    docs = load_table(spark, "documents", sf_dir)
    old_t = (
        docs.filter(F.col("doc_id") % 11 != 3)
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )
    new_t = (
        docs.filter(F.col("doc_id") % 11 != 7)
        .select(
            F.explode(
                F.split(
                    F.when(
                        F.col("doc_id") % 13 == 2,
                        F.concat(F.col("text"), F.lit(" v2")),
                    ).otherwise(F.col("text")),
                    " ",
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    t = (
        old_t.join(new_t, "term", "full_outer")
        .select(
            "term",
            F.coalesce("co", F.lit(0)).alias("co"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    tot = t.agg(
        F.sum("co").cast("double").alias("to_"),
        F.sum("cn").cast("double").alias("tn_"),
    )
    p = F.col("co") / F.col("to_")
    q = F.col("cn") / F.col("tn_")
    m = (p + q) / 2
    contrib = F.round(
        0.5
        * (
            F.when(F.col("co") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.when(F.col("cn") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
        ),
        9,
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(contrib.alias("contrib"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_union"),
            F.round(
                F.sum(F.col("contrib").cast("decimal(38,9)")).cast("double"), 6
            ).alias("jsd_nats"),
        )
    )


@register(
    "corpus_release_audit",
    """
    WITH ra_old AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3),
    ra_new AS (
        SELECT doc_id, CASE WHEN doc_id % 13 = 2 THEN text || ' v2'
                            ELSE text END AS text
        FROM documents WHERE doc_id % 11 <> 7),
    ra_d AS (
        SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                    ELSE 'unchanged' END AS change
        FROM ra_old o FULL OUTER JOIN ra_new n ON o.doc_id = n.doc_id),
    ra_dc AS (
        SELECT CAST(count(*) FILTER (change = 'added') AS BIGINT) AS n_added,
               CAST(count(*) FILTER (change = 'removed') AS BIGINT) AS n_removed,
               CAST(count(*) FILTER (change = 'changed') AS BIGINT) AS n_changed,
               CAST(count(*) FILTER (change = 'unchanged') AS BIGINT) AS n_unchanged
        FROM ra_d),
    ra_co AS (SELECT term, CAST(count(*) AS BIGINT) AS co FROM
              (SELECT unnest(string_split(text, ' ')) AS term FROM ra_old)
              GROUP BY term),
    ra_cn AS (SELECT term, CAST(count(*) AS BIGINT) AS cn FROM
              (SELECT unnest(string_split(text, ' ')) AS term FROM ra_new)
              GROUP BY term),
    ra_t AS (
        SELECT coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
        FROM ra_co o FULL OUTER JOIN ra_cn n ON o.term = n.term),
    ra_tot AS (SELECT CAST(sum(co) AS DOUBLE) AS to_,
                      CAST(sum(cn) AS DOUBLE) AS tn_ FROM ra_t),
    ra_j AS (
        SELECT round(CAST(sum(CAST(round(
                 0.5 * (CASE WHEN co > 0 THEN (co / to_)
                         * ln((co / to_) / ((co / to_ + cn / tn_) / 2))
                        ELSE 0 END
                      + CASE WHEN cn > 0 THEN (cn / tn_)
                         * ln((cn / tn_) / ((co / to_ + cn / tn_) / 2))
                        ELSE 0 END), 9) AS DECIMAL(38,9))) AS DOUBLE), 6)
               AS jsd_nats
        FROM ra_t, ra_tot),
    ra_ztop AS (
        SELECT term, cn AS ct FROM ra_cn WHERE term <> ''
        ORDER BY cn DESC, term LIMIT 100),
    ra_zxy AS (
        SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY ct DESC, term)
                                  AS DOUBLE)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(CAST(ct AS DOUBLE)) * 1000000) AS BIGINT) AS y
        FROM ra_ztop),
    ra_zm AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x * x AS HUGEINT)) AS sxx,
               sum(CAST(x * y AS HUGEINT)) AS sxy
        FROM ra_zxy),
    ra_z AS (
        SELECT round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6)
               AS new_zipf_slope
        FROM ra_zm)
    SELECT n_added, n_removed, n_changed, n_unchanged, jsd_nats, new_zipf_slope
    FROM ra_dc, ra_j, ra_z
    """,
)
def corpus_release_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus release gate, composed: row-level snapshot diff
    counts (``merge.snapshot_diff``), term-distribution JSD drift, and
    the candidate version's Zipf slope — ONE row a release pipeline
    thresholds before publishing a corpus bump. The diff keeps the
    production ``snapshot_diff`` shape (hash/full-outer — two real
    releases are independent tables); the vocabulary work is SHARED:
    one corpus scan posexplodes both versions' term arrays
    (position < |old terms| tags ownership — no per-element lambda),
    one partial-agg shuffle builds the joint (term, co, cn) table, and
    that staged table feeds the JSD totals, the JSD sum, AND the Zipf
    regression (``zipf_fit_from_counts``) — replacing the round-6
    form's two corpus explodes + full-outer vocab join + third corpus
    explode (3 explodes/3 shuffles → 1/1). Local fixture walls barely
    move (~1.35 → ~1.26 s interleaved A/B at sf0.1 — the diff scans
    and fixed job overhead dominate at 50k docs); the shuffle/scan
    elimination is the 100 TB win. Values oracle-identical at sf0.1.
    The term arrays MUST be staged in their own projection before the
    generator: inlined, ``split(text)`` is evaluated three times per
    row (size + both concat arms — no CSE across the generator
    boundary; measured 3× slower). The composition is three 1-row
    broadcasts."""
    from decaton_spark.operators.merge import snapshot_diff

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 11 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    dc = snapshot_diff(old, new).agg(
        *[
            F.count(F.when(F.col("change") == c, 1))
            .cast("long")
            .alias(f"n_{c}")
            for c in ("added", "removed", "changed", "unchanged")
        ]
    )

    # shared vocabulary scan: both membership filters and the v2 text
    # edit are per-row expressions over ONE documents scan; a version's
    # term array is empty when the doc is outside that version, and
    # posexplode over the concatenation tags each term by position
    # (pos < n_old ⇒ old-version term). NULL text yields NULL arrays ⇒
    # concat NULL ⇒ the doc contributes no terms, exactly as the old
    # per-version explode dropped it from both sides.
    empty = F.array().cast("array<string>")
    arrs = docs.select(
        F.when(F.col("doc_id") % 11 != 3, F.split("text", " "))
        .otherwise(empty)
        .alias("oa"),
        F.when(
            F.col("doc_id") % 11 != 7,
            F.split(
                F.when(
                    F.col("doc_id") % 13 == 2,
                    F.concat(F.col("text"), F.lit(" v2")),
                ).otherwise(F.col("text")),
                " ",
            ),
        )
        .otherwise(empty)
        .alias("na"),
    )
    tagged = arrs.select(
        F.size("oa").alias("n_old"),
        F.posexplode(F.concat("oa", "na")).alias("pos", "term"),
    )
    # vocabulary-sized; staged because THREE consumers read it (the
    # totals row, the JSD sum, and the Zipf top-k)
    t = (
        tagged.groupBy("term")
        .agg(
            F.sum((F.col("pos") < F.col("n_old")).cast("long"))
            .cast("long")
            .alias("co"),
            F.sum((F.col("pos") >= F.col("n_old")).cast("long"))
            .cast("long")
            .alias("cn"),
        )
    ).localCheckpoint(eager=False)
    tot = t.agg(
        F.sum("co").cast("double").alias("to_"),
        F.sum("cn").cast("double").alias("tn_"),
    )
    p, q = F.col("co") / F.col("to_"), F.col("cn") / F.col("tn_")
    m = (p + q) / 2
    contrib = F.round(
        0.5
        * (
            F.when(F.col("co") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.when(F.col("cn") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
        ),
        9,
    )
    jsd = (
        t.crossJoin(F.broadcast(tot))
        .select(contrib.alias("c"))
        .agg(
            F.round(
                F.sum(F.col("c").cast("decimal(38,9)")).cast("double"), 6
            ).alias("jsd_nats")
        )
    )
    # Zipf regression straight off the staged vocab: cn IS the new
    # version's term-frequency table (zipf_fit's own tf), so the third
    # corpus explode is gone
    zslope = tx.zipf_fit_from_counts(
        t.filter((F.col("cn") > 0) & (F.col("term") != "")).select(
            "term", F.col("cn").alias("ct")
        ),
        top_k=100,
    ).select(F.col("slope").alias("new_zipf_slope"))
    return dc.crossJoin(F.broadcast(jsd)).crossJoin(F.broadcast(zslope))


def _fertility_oracle(n: int) -> str:
    from decaton_spark.functions import bpe as _bpe

    symn = "((length(s.state) - length(replace(s.state, '||', ''))) // 2 + 1)"
    sel = f"""
, fw AS (
    SELECT lang, w AS word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT lang, unnest(regexp_extract_all(lower(text), '{_bpe.WORD_RE}')) AS w
          FROM documents)
    GROUP BY lang, w),
fper AS (
    SELECT fw.lang,
           CAST(sum(fw.cnt) AS BIGINT) AS n_words,
           CAST(sum(fw.cnt * length(fw.word)) AS BIGINT) AS n_chars,
           CAST(sum(fw.cnt * {symn}) AS BIGINT) AS bpe_tokens
    FROM fw JOIN s{n} s USING (word)
    GROUP BY fw.lang),
fg AS (SELECT CAST(sum(bpe_tokens) AS BIGINT) AS gt,
              CAST(sum(n_words) AS BIGINT) AS gw FROM fper)
SELECT lang, n_words, n_chars, bpe_tokens,
       CAST((1000000 * bpe_tokens) // n_words AS BIGINT) AS fertility_ppm,
       CAST((1000000 * n_chars) // bpe_tokens AS BIGINT) AS chars_per_token_ppm,
       CAST((1000 * ((1000000 * bpe_tokens) // n_words))
            // ((1000000 * gt) // gw) AS BIGINT) AS rel_fertility_pml
FROM fper, fg
"""
    return _bpe.bpe_oracle_sql(n, "").rstrip() + sel


@register("text_fertility_by_lang", _fertility_oracle(_BPE_MERGES))
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fairness audit: per-language BPE fertility (tokens per
    word, ppm), characters per token, and fertility relative to the
    corpus average (per-mille) — the gauge multilingual-pretraining
    pipelines read to catch a tokenizer that fragments some languages
    2-3× harder than English (those languages pay more compute per
    character and fit less text per context window).

    All ratios are positive-integer DIV (truncate = floor cross-engine);
    the relative ratio divides the two ppm gauges, never the raw token
    products, so it cannot overflow at corpus scale. Same
    histogram-apply skeleton as ``docs_bpe_compression``: the corpus is
    scanned once into a word histogram; merges apply as JVM string work
    per distinct word."""
    from decaton_spark.functions import bpe

    docs = load_table(spark, "documents", sf_dir)
    trained = bpe.bpe_train(docs, num_merges=_BPE_MERGES)
    merges = [(p1, p2) for p1, p2, _ in trained]
    words = (
        docs.select(
            "lang",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(bpe.WORD_RE), F.lit(0))
            ).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per = words.select(
        "lang",
        "cnt",
        F.length("word").cast("long").alias("wlen"),
        bpe.symbols_per_word(F.col("word"), merges).alias("symn"),
    )
    per_lang = per.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.col("wlen")).cast("long").alias("n_chars"),
        F.sum(F.col("cnt") * F.col("symn")).cast("long").alias("bpe_tokens"),
    )
    g = per_lang.agg(
        F.sum("bpe_tokens").alias("gt"), F.sum("n_words").alias("gw")
    )
    return (
        per_lang.crossJoin(F.broadcast(g))
        .withColumn("fertility_ppm", F.expr("(1000000 * bpe_tokens) div n_words"))
        .withColumn(
            "chars_per_token_ppm", F.expr("(1000000 * n_chars) div bpe_tokens")
        )
        .withColumn(
            "rel_fertility_pml",
            F.expr("(1000 * fertility_ppm) div ((1000000 * gt) div gw)"),
        )
        .select(
            "lang", "n_words", "n_chars", "bpe_tokens",
            "fertility_ppm", "chars_per_token_ppm", "rel_fertility_pml",
        )
    )


def _bpe_vocab_oracle(n: int, top_k: int) -> str:
    from decaton_spark.functions import bpe as _bpe

    sel = f"""
, sym AS (
    SELECT unnest(string_split(substr(state, 2, length(state) - 2), '||')) AS symbol,
           cnt
    FROM s{n}),
agg AS (
    SELECT symbol, CAST(sum(cnt) AS BIGINT) AS n_occurrences
    FROM sym GROUP BY symbol
    ORDER BY n_occurrences DESC, symbol LIMIT {top_k})
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol) AS INTEGER)
           AS token_id,
       symbol, n_occurrences
FROM agg
"""
    return _bpe.bpe_oracle_sql(n, "").rstrip() + sel


@register("text_bpe_symbol_vocab", _bpe_vocab_oracle(_BPE_MERGES, 30))
def text_bpe_symbol_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped tokenizer artifact: after training 10 BPE merges,
    the top-30 subword symbols by corpus occurrence with dense
    frequency-ranked ids (the symbol table an encoder loads). Same
    TakeOrdered-bounded ranking discipline as text_vocab_build — the
    window runs over <=30 rows, never the vocabulary; symbol counts
    come from the word histogram (corpus scanned once), weighted by
    word frequency. Oracle replays training + segmentation + ranking
    in one statement."""
    from decaton_spark.functions import bpe

    docs = load_table(spark, "documents", sf_dir)
    trained = bpe.bpe_train(docs, num_merges=_BPE_MERGES)
    merges = [(p1, p2) for p1, p2, _ in trained]
    words = bpe.word_histogram(docs)
    sym = words.select(
        F.explode(
            bpe.state_symbols(bpe.merged_state(F.col("word"), merges))
        ).alias("symbol"),
        "cnt",
    )
    top = (
        sym.groupBy("symbol")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "symbol")
        .limit(30)
    )
    w = Window.orderBy(F.desc("n_occurrences"), "symbol")
    return top.withColumn("token_id", F.row_number().over(w).cast("int")).select(
        "token_id", "symbol", "n_occurrences"
    )


_KMV_K = 32
_KMV_SCALE = 16**12


@register(
    "events_kmv_distinct",
    f"""
    WITH dv AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS user_id
        FROM events WHERE user_id IS NOT NULL),
    h AS (
        SELECT event_type, user_id, {md5_long("user_id", 12)} AS h FROM dv),
    r AS (
        SELECT event_type, h,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY h, user_id) AS rn
        FROM h),
    per AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_in_sketch,
               max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth
        FROM r WHERE rn <= {_KMV_K}
        GROUP BY event_type),
    ex AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type)
    SELECT p.event_type, n_in_sketch,
           CAST(CASE WHEN n_in_sketch < {_KMV_K} THEN n_in_sketch
                ELSE ({_KMV_K - 1} * CAST({_KMV_SCALE} AS BIGINT)) // kth
                END AS BIGINT) AS kmv_distinct_est,
           exact_distinct
    FROM per p JOIN ex USING (event_type)
    """,
)
def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-family) distinct-user estimate
    per event type, in exact integer arithmetic the DuckDB oracle
    replays bit-for-bit — the second cross-engine-exact cardinality
    sketch alongside HLL (sketches.kmv_sketch: bottom-32 md5 order
    statistics of the DISTINCT user set; mergeable because the
    bottom-k of a union is the bottom-k of concatenated bottom-ks).
    The exact count rides along, so the ~1/sqrt(k) accuracy contract
    is itself hash-checked. Unlike HLL's 1024 registers this sketch
    is 32 rows/group and doubles as a deterministic uniform sample of
    the values."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    sk_rows = sk.kmv_sketch(ev, "user_id", ["event_type"], k=_KMV_K)
    est = sk.kmv_distinct_estimate(sk_rows, ["event_type"], k=_KMV_K)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


@register(
    "events_kmv_sample_median",
    f"""
    WITH rows_h AS (
        SELECT event_type, value,
               {md5_long("CAST(event_id AS VARCHAR)", 12)} AS h,
               CAST(event_id AS VARCHAR) AS rid
        FROM events WHERE value IS NOT NULL),
    r AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY h, rid) AS rn
        FROM rows_h),
    s AS (SELECT * FROM r WHERE rn <= 64),
    med AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, rn) AS vr,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM s),
    ex AS (
        SELECT event_type, median(value) AS exact_median
        FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS sample_n,
           m.value AS sample_median,
           ex.exact_median
    FROM med m JOIN ex USING (event_type)
    WHERE m.vr = (m.n + 1) // 2
    """,
)
def events_kmv_sample_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch's second face: hashing ROW identities (event_id)
    instead of values makes the bottom-k a deterministic uniform row
    sample, and its order statistics estimate value quantiles — here
    the lower-median of a 64-row sample per event type, replayed
    bit-for-bit by the oracle (no RNG, no seed drift; the sample is a
    pure function of the data). The exact median rides along to make
    the accuracy visible. At 100 TB this is the two-shuffle quantile
    path when percentile_approx's t-digest is not replayable enough:
    bottom-k election per group, then order statistics over <=k rows.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "value",
        F.col("event_id").cast("string").alias("rid"),
    ).where(F.col("value").isNotNull())
    # size-adaptive hash-spread by row id before the md5 sample-hash
    # projection — it otherwise runs at the scan's split count
    # (single-row-group x100 fixture: one straggler task did all the
    # work; spread measured 58.5 → 11.2 s there), while the tiny
    # sf0.1 scan keeps its old single-stage plan; the bottom-k windows
    # and the exact median re-shuffle by event_type regardless.
    spread = spread_partitions(spark, ev)
    if spread:
        ev = ev.repartition(spread, "rid")
    h = F.expr(md5_long("rid", 12))
    w = Window.partitionBy("event_type").orderBy("h", "rid")
    sample = (
        ev.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
    )
    wv = Window.partitionBy("event_type").orderBy("value", "rn")
    med = (
        sample.withColumn("vr", F.row_number().over(wv))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
        .filter(F.col("vr") == F.expr("(n + 1) div 2"))
    )
    exact = ev.groupBy("event_type").agg(
        F.expr("median(value)").alias("exact_median")
    )
    return (
        med.select(
            "event_type",
            F.col("n").cast("long").alias("sample_n"),
            F.col("value").alias("sample_median"),
        )
        .join(exact, "event_type")
    )


@register(
    "dedup_spans_intradoc",
    """
    WITH sp AS (
        SELECT doc_id,
               list_transform(
                   range(0, CAST(ceil(len(string_split(coalesce(text, ''), ' ')) / 16.0) AS INT)),
                   i -> array_to_string(
                       string_split(coalesce(text, ''), ' ')[i * 16 + 1 : i * 16 + 16], ' ')
               ) AS spans
        FROM documents),
    k AS (
        SELECT doc_id, spans,
               list_filter(spans,
                   (x, i) -> list_position(spans[1:i-1], x) = 0) AS kept
        FROM sp)
    SELECT doc_id,
           CAST(len(spans) AS BIGINT) AS n_spans,
           CAST(len(kept) AS BIGINT) AS n_spans_kept,
           array_to_string(kept, ' ') AS dedup_text
    FROM k
    """,
)
def dedup_spans_intradoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document duplicate-span removal (the other half of the
    C4 line-dedup rule — `dedup_spans` is the across-corpus half): a
    span repeated inside the same document keeps only its first
    occurrence. ZERO shuffles — the whole operator is an index-lambda
    array filter projection (see dedup.intradoc_span_dedup), so at
    100 TB it runs at scan parallelism with no exchange at all. DuckDB
    replays the same election with its own index lambda."""
    docs = load_table(spark, "documents", sf_dir)
    return dd.intradoc_span_dedup(docs)


_ESUB_W = 8  # exact-substring window, scaled to the ~100-token fixture
# docs (Lee et al. 2022 use 50-token windows on web-scale text)


def _esub_ctes(source: str = "documents") -> str:
    """CTE chain ``toks .. esub_stats`` replaying exact-substring
    duplication stats over ``source`` — shared by the standalone query
    and the curation-v2 composition."""
    return f"""toks AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
        FROM {source}),
    win AS (
        SELECT doc_id,
               unnest(range(len(t) - {_ESUB_W} + 1)) AS s,
               t
        FROM toks WHERE len(t) >= {_ESUB_W}),
    hashed AS (
        SELECT doc_id, s, s + {_ESUB_W - 1} AS e,
               md5(array_to_string(t[s + 1 : s + {_ESUB_W}], chr(31))) AS h
        FROM win),
    dup AS (
        SELECT h FROM hashed GROUP BY h HAVING count(*) >= 2),
    flagged AS (
        SELECT hashed.* FROM hashed JOIN dup USING (h)),
    runmax AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pmax
        FROM flagged),
    ids AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS UNBOUNDED PRECEDING) AS gid
        FROM runmax),
    per_island AS (
        SELECT doc_id, gid, min(s) AS a, max(e) AS b, count(*) AS nw
        FROM ids GROUP BY doc_id, gid),
    esub_stats AS (
        SELECT doc_id,
               CAST(sum(nw) AS BIGINT) AS n_dup_windows,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(b - a + 1) AS BIGINT) AS flagged_tokens
        FROM per_island GROUP BY doc_id)"""


@register(
    "dedup_exact_substring",
    f"""
    WITH {_esub_ctes()}
    SELECT doc_id, n_dup_windows, n_islands, flagged_tokens
    FROM esub_stats
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (Lee et al. 2022): every
    8-token sliding window hashed; windows repeated anywhere in the
    corpus mark their spans, overlapping spans merge into maximal
    islands per document. The suffix-array algorithm re-expressed as
    |tokens|-row hash grouping — 3 shuffles total, the dup-hash join
    reuses the groupBy partitioning, island merge is a per-doc window
    (see ``dedup.exact_substring_stats``)."""
    docs = load_table(spark, "documents", sf_dir)
    return dd.exact_substring_stats(
        docs,
        window=_ESUB_W,
        min_count=2,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


@register(
    "docs_curation_pipeline_v2",
    f"""
    WITH {_esub_ctes("documents")},
    ntok AS (
        SELECT doc_id,
               CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS nt
        FROM documents),
    heavy AS (
        SELECT s.doc_id FROM esub_stats s JOIN ntok USING (doc_id)
        WHERE 2 * s.flagged_tokens > ntok.nt),
    stage1 AS (
        SELECT d.* FROM documents d LEFT JOIN heavy h USING (doc_id)
        WHERE h.doc_id IS NULL),
    {_bloom_ctes("stage1 WHERE doc_id % 97 <> 0")},
    corpus1 AS (SELECT * FROM stage1 WHERE doc_id % 97 <> 0),
    clean AS (
        SELECT c.* FROM corpus1 c LEFT JOIN bloom_flagged f USING (doc_id)
        WHERE f.doc_id IS NULL),
    {_temp_ctes("clean")}
    {_TEMP_SUMMARY_SELECT}
    """,
)
def docs_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 curation pass, composed end-to-end from this
    round's operators: (1) exact-substring CUT — drop documents whose
    merged duplicated islands cover more than half their tokens (the
    Lee et al. cut-list applied at doc granularity); (2) Bloom-bitmap
    decontamination against the frozen eval set (constant-memory, over
    the surviving corpus only); (3) α = 1/2 temperature mixture over
    what remains. Reports the per-language mixture summary
    (cutoff, n_docs_kept, tokens_kept) of the final corpus.

    Stage shapes are preserved under composition (the v1 pipeline's
    contract): substring stats keep their 3-shuffle plan, the Bloom
    probe stays join-free, the mixture broadcasts |langs| cutoffs.
    ``stage1`` and ``clean`` are each staged through ONE
    localCheckpoint — downstream stages consume them 2-4 times and
    would otherwise re-run the |tokens|-row substring pipeline per
    consumer (the v1/merge staging lesson). The oracle is the three
    operators' own CTE fragments chained over the same stage
    boundaries — one engine definition per stage, two consumers."""
    from decaton_spark.functions import sampling as smp

    dp = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "documents", sf_dir)
    ntok = docs.select(
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("nt"),
    )
    stats = dd.exact_substring_stats(
        docs, window=_ESUB_W, min_count=2, num_partitions=dp
    )
    heavy = (
        stats.join(ntok, "doc_id")
        .filter(2 * F.col("flagged_tokens") > F.col("nt"))
        .select("doc_id")
    )
    stage1 = docs.join(heavy, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus1 = stage1.filter(F.col("doc_id") % 97 != 0)
    flagged = ql.bloom_decontaminate(
        corpus1,
        bench,
        n=_DECON_N,
        m_bits=_BLOOM_M_BITS,
        k=_BLOOM_K,
        num_partitions=dp,
    ).select("doc_id")
    clean = corpus1.join(flagged, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    return smp.temperature_mixture_summary(clean, divisor=_TEMP_DIV)


@register(
    "docs_curation_pipeline_v3",
    f"""
    WITH vpr AS (
        SELECT doc_id, source, md5(text) AS text_hash,
               CASE source WHEN 'src5' THEN 0 WHEN 'src12' THEN 1
                           WHEN 'src0' THEN 2 ELSE 1000000 END AS r
        FROM documents),
    vpe AS (
        SELECT min(struct_pack(r := r, id := doc_id)) AS e
        FROM vpr GROUP BY text_hash),
    v_stage1 AS MATERIALIZED (
        SELECT d.* FROM documents d
        JOIN (SELECT e.id AS doc_id FROM vpe) k USING (doc_id)),
    {_minhash_sigs_cte(source="v_stage1", suffix="_v3")},
    v_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs_v3 a JOIN sigs_v3 b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    v_sets AS MATERIALIZED (
        SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams
        FROM v_stage1),
    v_cont AS (
        SELECT DISTINCT CASE WHEN len(sa.grams) < len(sb.grams)
                          OR (len(sa.grams) = len(sb.grams) AND id_a > id_b)
                        THEN id_a ELSE id_b END AS doc_id
        FROM v_cand
        JOIN v_sets sa ON sa.id = v_cand.id_a
        JOIN v_sets sb ON sb.id = v_cand.id_b
        WHERE (CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) * 1000)
              // least(len(sa.grams), len(sb.grams)) >= 700),
    v_stage2 AS MATERIALIZED (
        SELECT s.* FROM v_stage1 s LEFT JOIN v_cont c USING (doc_id)
        WHERE c.doc_id IS NULL),
    v_dg AS (
        SELECT doc_id, unnest({_decon_shingles_sql(3)}) AS gram FROM v_stage2),
    v_gh AS MATERIALIZED (SELECT doc_id, md5(gram) AS h FROM v_dg),
    v_first AS (SELECT h, min(doc_id) AS first_doc FROM v_gh GROUP BY h),
    v_nov AS (
        SELECT doc_id,
               (CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                     AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS pml
        FROM v_gh JOIN v_first USING (h) GROUP BY doc_id),
    v_stage3 AS MATERIALIZED (
        SELECT s.* FROM v_stage2 s JOIN v_nov n USING (doc_id)
        WHERE n.pml >= 200),
    {_topic_ctes()},
    topic_docs AS MATERIALIZED (
        SELECT s.doc_id, s.text,
               COALESCE(CASE WHEN t.total_hits > 0 THEN b.topic END,
                        'untagged') AS lang
        FROM v_stage3 s
        JOIN (SELECT * FROM tt_best WHERE rn = 1) b ON s.doc_id = b.doc_id
        JOIN tt_tot t ON s.doc_id = t.doc_id),
    {_temp_ctes("topic_docs")}
    SELECT t.lang AS topic,
           CAST(t.cutoff AS BIGINT) AS cutoff,
           count(*) FILTER (WHERE d.hv < t.cutoff) AS n_docs_kept,
           CAST(coalesce(sum(d.n_tokens) FILTER (WHERE d.hv < t.cutoff), 0)
                AS BIGINT) AS tokens_kept
    FROM doc_tokens d JOIN thresh t USING (lang)
    GROUP BY t.lang, t.cutoff
    """,
)
def docs_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-band curation pass, composed end-to-end: (1)
    source-priority exact dedup (curated copy survives, not the
    first-ingested); (2) directional containment dedup on LSH
    candidates (drop quoted-inside duplicates Jaccard misses); (3)
    per-document novelty gate (≥ 20% first-seen 3-grams among the
    survivors); (4) topic-conditioned α = 1/2 temperature mixture over
    what remains. Reports the per-topic mixture summary of the final
    corpus.

    Stage shapes preserved under composition: one partial-agg election
    per dedup stage, candidate joins bucket-bounded, novelty's gram
    stream single-checkpointed inside its own operator, the tagger a
    projection, the mixture a |topics|-row broadcast. ``stage1`` and
    ``stage2`` are staged through ONE localCheckpoint each — the
    banding + gram-set + novelty consumers would otherwise re-run the
    upstream lineage per consumer (the v2/merge staging lesson)."""
    from decaton_spark.functions import sampling as smp

    dp = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "documents", sf_dir)
    keep1 = dd.exact_dups_by_priority(
        docs, {"src5": 0, "src12": 1, "src0": 2}
    ).select(F.col("keep_id").alias("doc_id"))
    stage1 = docs.join(keep1, "doc_id").localCheckpoint(eager=False)
    cand = dd.minhash_candidate_pairs(stage1, k=3, bands=4, num_partitions=dp)
    contained = (
        dd.verify_pairs_containment(stage1, cand, n=1, threshold_pml=700)
        .select(F.col("contained_id").alias("doc_id"))
        .distinct()
    )
    stage2 = stage1.join(contained, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    nov_keep = (
        ql.novelty_stats(stage2, n=3)
        .filter(F.col("novelty_pml") >= 200)
        .select("doc_id")
    )
    stage3 = stage2.join(nov_keep, "doc_id")
    tagged = tx.topic_tag(stage3, _TOPIC_DICT, carry=("text",)).select(
        "doc_id",
        "text",
        F.coalesce(F.col("topic"), F.lit("untagged")).alias("lang"),
    )
    out = smp.temperature_mixture_summary(tagged, divisor=_TEMP_DIV)
    return out.withColumnRenamed("lang", "topic")


# ---------------------------------------------------------------------------
# Feature-engineering / warehouse-maintenance band (round-4 continuation):
# the training-table prep steps between "curated corpus" and "model input"
# — leakage-safe categorical encoding, multi-touch label attribution,
# versioned dimension maintenance, behavior-chain steady state, seasonal
# profiles, and fuzzy record linkage.
# ---------------------------------------------------------------------------


@register(
    "events_target_encoding",
    """
    WITH te_b AS (
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) % 16 AS cat,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL),
    te_s AS (
        SELECT cat, CAST(sum(y) AS BIGINT) AS sc, CAST(count(*) AS BIGINT) AS nc
        FROM te_b GROUP BY 1),
    te_g AS (
        SELECT CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS gm FROM te_b)
    SELECT b.event_id, b.cat,
           (s.sc - b.y + 20 * g.gm) // (s.nc - 1 + 20) AS enc_loo_centi
    FROM te_b b JOIN te_s s USING (cat), te_g g
    """,
)
def events_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of a categorical feature
    (the ML-table prep step that leaks if done naively): category =
    ``props.k % 16``, target = the centi-exact event value, encoding =
    ``(Σ_cat y − y_i + m·ȳ_global) / (n_cat − 1 + m)`` with m=20 —
    each row's own target is excluded from its encoding (the
    leakage-safe form) and thin categories shrink toward the global
    mean instead of memorizing noise.

    All arithmetic is integer: centi targets, integer global mean,
    one integer DIV at the end — bit-replayable in SQL. Precondition
    (asserted by the fixture, value ≥ 0): numerators stay non-negative
    so trunc-DIV == floor-`//` (the `events_value_winsorized` lesson).

    100 TB shape: one partial-agg scan builds the |categories|-row
    stats and the 1-row global mean; both broadcast back onto the
    fact — the fact table itself never shuffles.

    Round-9 (guide §4/§5: pay the expensive expression once): the JSON
    parse is the whole cost of this query (measured 0.39 s per scan at
    sf0.1) and the old plan ran it THREE times — stats, global mean and
    the probe side each re-parsed ``props``. Now the parsed fact is
    staged once (lazy localCheckpoint; cluster: persist) and the global
    mean derives from the per-category stats instead of its own corpus
    scan (``sum(sc) DIV sum(nc)`` — sums of per-group integer sums are
    the global sums, exact). Measured 1.19 s → 0.73 s warm, identical
    rows."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "event_id",
        (F.from_json(F.col("props"), "k BIGINT")["k"] % 16).alias("cat"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    ).localCheckpoint(eager=False)
    # stats is consumed twice (the global-mean derivation and the
    # broadcast join side); the lazy checkpoint keeps it ONE
    # |categories|-row aggregation instead of a duplicated subtree
    # re-aggregating the fact per consumer (plan-pinned at ≤2 shuffles
    # in tests/test_plans.py::test_feature_band_plan_shapes)
    stats = (
        base.groupBy("cat")
        .agg(
            F.sum("y").cast("long").alias("sc"),
            F.count(F.lit(1)).cast("long").alias("nc"),
        )
        .localCheckpoint(eager=False)
    )
    glob = stats.agg(
        F.expr("CAST(sum(sc) AS BIGINT) DIV sum(nc)").cast("long").alias("gm")
    )
    return (
        base.join(F.broadcast(stats), "cat")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_id",
            "cat",
            F.expr("(sc - y + 20 * gm) DIV (nc - 1 + 20)")
            .cast("long")
            .alias("enc_loo_centi"),
        )
    )


@register(
    "events_linear_attribution",
    """
    WITH la_c AS (
        SELECT event_id AS conv_id, user_id, epoch_ms(ts) AS cms
        FROM events WHERE event_type = 'purchase'),
    la_t AS (
        SELECT user_id, event_type AS channel, epoch_ms(ts) AS tms
        FROM events WHERE event_type IN ('view', 'click')),
    la_h AS (
        SELECT c.conv_id, t.channel,
               count(*) OVER (PARTITION BY c.conv_id) AS conv_touches
        FROM la_c c JOIN la_t t
          ON c.user_id = t.user_id
         AND t.tms <= c.cms AND t.tms > c.cms - 604800000)
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(1000000 // conv_touches) AS BIGINT) AS credit_micro,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions
    FROM la_h GROUP BY channel
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the equal-credit counterpart
    of ``events_last_touch_attribution``: every view/click in the 7-day
    window before a purchase shares that conversion's credit equally.
    Credit is integer micro-units (``1000000 DIV n_touches`` per
    touch), so channel totals are exact sums, not float shares whose
    addition order matters.

    100 TB shape: TWO bounded-range windows over each user's merged
    touch/conversion stream — a backward pass puts the 7-day touch
    count (and per-channel flags) on every conversion, a forward pass
    sums each touch's received credit and pair count from the
    conversions ahead of it. ONE shuffle on user_id, linear in
    events. The obvious conv⋈touch user join is NOT used: Spark
    materializes the full per-user cross product before the time
    filter — the x100 ladder measured it 384x super-linear (290 s)
    before this rewrite, the third instance of the per-user-density
    join trap (PIT features and calibration were the others)."""
    ev = load_table(spark, "events", sf_dir)
    win = 7 * DAY_MS
    stream = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        (F.col("event_type") == "purchase").alias("is_conv"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "channel"
        ),
    )
    wprec = (
        Window.partitionBy("user_id").orderBy("ms").rangeBetween(-(win - 1), 0)
    )
    wfoll = (
        Window.partitionBy("user_id").orderBy("ms").rangeBetween(0, win - 1)
    )
    back = stream.select(
        "*",
        F.count(F.when(~F.col("is_conv"), 1)).over(wprec).alias("cnt_t"),
        F.count(F.when(F.col("channel") == "view", 1))
        .over(wprec)
        .alias("cnt_view"),
        F.count(F.when(F.col("channel") == "click", 1))
        .over(wprec)
        .alias("cnt_click"),
    ).withColumn(
        "conv_credit",
        F.when(
            F.col("is_conv") & (F.col("cnt_t") > 0),
            F.expr("1000000 DIV cnt_t"),
        ),
    )
    fwd = back.select(
        "*",
        F.sum("conv_credit").over(wfoll).alias("credit_f"),
        F.count(F.when(F.col("is_conv") & (F.col("cnt_t") > 0), 1))
        .over(wfoll)
        .alias("pairs_f"),
    )
    one = fwd.agg(
        *[
            agg
            for ch in ("view", "click")
            for agg in (
                F.sum(F.when(F.col("channel") == ch, F.col("pairs_f")))
                .cast("long")
                .alias(f"nt_{ch}"),
                F.sum(F.when(F.col("channel") == ch, F.col("credit_f")))
                .cast("long")
                .alias(f"cr_{ch}"),
                F.sum(
                    F.when(F.col("is_conv") & (F.col(f"cnt_{ch}") > 0), 1)
                )
                .cast("long")
                .alias(f"nc_{ch}"),
            )
        ]
    )
    rows = None
    for ch in ("view", "click"):
        r = one.select(
            F.lit(ch).alias("channel"),
            F.coalesce(F.col(f"nt_{ch}"), F.lit(0)).alias("n_touches"),
            F.coalesce(F.col(f"cr_{ch}"), F.lit(0)).alias("credit_micro"),
            F.coalesce(F.col(f"nc_{ch}"), F.lit(0)).alias("n_conversions"),
        )
        rows = r if rows is None else rows.unionByName(r)
    # channels with zero pairs are absent in the pair-join semantics
    return rows.filter(F.col("n_touches") > 0)


@register(
    "customer_scd2_merge",
    """
    WITH sc_d AS (
        SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_centi
        FROM customer),
    sc_b AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN acctbal_centi + 10000
                    ELSE acctbal_centi END AS acctbal_centi
        FROM sc_d WHERE c_custkey % 5 = 0),
    sc_ch AS (
        SELECT b.c_custkey, b.acctbal_centi AS new_bal
        FROM sc_b b JOIN sc_d d USING (c_custkey)
        WHERE b.acctbal_centi IS DISTINCT FROM d.acctbal_centi)
    SELECT d.c_custkey, d.acctbal_centi,
           CAST(0 AS BIGINT) AS valid_from_ms,
           CASE WHEN ch.c_custkey IS NULL THEN CAST(NULL AS BIGINT)
                ELSE CAST(86400000 AS BIGINT) END AS valid_to_ms
    FROM sc_d d LEFT JOIN sc_ch ch ON d.c_custkey = ch.c_custkey
    UNION ALL
    SELECT c_custkey, new_bal, CAST(86400000 AS BIGINT), CAST(NULL AS BIGINT)
    FROM sc_ch
    """,
)
def customer_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (``operators/merge.scd2_merge``):
    a batch re-sends ~20% of customer records — half with a changed
    balance (keys % 10 = 0, +100.00), half byte-identical (keys
    % 10 = 5). Changed keys close their current row at the batch
    timestamp and open a new version; identical re-sends mint NOTHING
    (change detection via null-safe attribute compare, not blind
    upsert — the property naive MERGE implementations get wrong).

    The oracle replays the close-and-insert semantics declaratively
    (LEFT JOIN + UNION ALL), so the hash match proves the merge
    contract, not the implementation.

    100 TB shape: the dimension never shuffles — the batch broadcasts
    into one left join against the current rows and all three output
    legs are projections of that single joined frame
    (``corpus_merge``'s topology, with version history retained)."""
    from decaton_spark.operators.merge import scd2_merge

    c = load_table(spark, "customer", sf_dir)
    dim = c.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_centi"),
        F.lit(0).cast("long").alias("valid_from_ms"),
        F.lit(None).cast("long").alias("valid_to_ms"),
    )
    batch = dim.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("acctbal_centi") + 10000
        )
        .otherwise(F.col("acctbal_centi"))
        .alias("acctbal_centi"),
    )
    return scd2_merge(
        dim,
        batch,
        key="c_custkey",
        compare_cols=["acctbal_centi"],
        batch_ts_ms=DAY_MS,
    )


def _markov_oracle(iters: int = 20) -> str:
    """Unrolled power-iteration oracle: 20 fixed iterations as chained
    CTEs (recursive CTEs forbid the GROUP BY each step needs). Each
    step is normalized to one row per state so mass additions happen
    BEFORE the next step's integer DIV — the same order the Spark-side
    driver loop uses (floor on non-negative masses == trunc). Every
    step is MATERIALIZED: DuckDB inlines plain CTEs per reference, and
    each step references its predecessor twice — unmaterialized, the
    tree re-expands 2^20 scans of the base table."""
    parts = [
        """
    WITH mk_seq AS (
        SELECT user_id, event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events),
    mk_tr AS MATERIALIZED (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        FROM mk_seq WHERE dst IS NOT NULL GROUP BY 1, 2),
    mk_rt AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS total FROM mk_tr GROUP BY 1),
    mk_t AS MATERIALIZED (SELECT tr.src, tr.dst, tr.cnt, rt.total
             FROM mk_tr tr JOIN mk_rt rt USING (src)),
    mk_states AS MATERIALIZED (
        SELECT DISTINCT src AS state FROM mk_tr
        UNION SELECT DISTINCT dst FROM mk_tr),
    mk_k AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mk_states),
    mk_v0 AS MATERIALIZED (SELECT state, 1000000000 // n AS mass FROM mk_states, mk_k)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    mk_v{i}r AS MATERIALIZED (
        SELECT t.dst AS state, (v.mass * t.cnt) // t.total AS mass
        FROM mk_v{i - 1} v JOIN mk_t t ON v.state = t.src
        UNION ALL
        SELECT v.state, v.mass FROM mk_v{i - 1} v
        WHERE v.state NOT IN (SELECT src FROM mk_t)),
    mk_v{i} AS MATERIALIZED (
        SELECT state, CAST(sum(mass) AS BIGINT) AS mass
        FROM mk_v{i}r GROUP BY state)"""
        )
    parts.append(
        f"""
    SELECT s.state, CAST(coalesce(v.mass, 0) AS BIGINT) AS mass_ppb
    FROM mk_states s LEFT JOIN mk_v{iters} v ON s.state = v.state"""
    )
    return "".join(parts)


@register("events_markov_stationary", _markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type transition
    chain: where does user behavior settle if today's transition
    matrix keeps acting? 20 synchronous power-iteration steps from the
    uniform vector, all in integer parts-per-billion (per-edge
    ``(mass·cnt) DIV row_total``, summed — integer sums are
    order-free, so the result is bit-identical however the work is
    distributed). Dangling states keep their own mass (self-loop).

    100 TB shape: the DISTRIBUTED work is the lag/lead transition
    extraction and the (src,dst) count — one window shuffle on
    user_id + one partial-agg. The matrix itself is |event_types|² ≤
    a few hundred cells regardless of row count, so the driver-side
    iteration is a bounded collect (the IVF-centroid pattern), not a
    scale risk. The oracle unrolls the same 20 steps as chained CTEs."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    rows = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )  # bounded: ≤ |event_types|² rows by construction
    states = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    totals: dict[str, int] = {}
    for r in rows:
        totals[r["src"]] = totals.get(r["src"], 0) + r["cnt"]
    k = len(states)
    mass = {s: 10**9 // k for s in states}
    for _ in range(20):
        new = {s: 0 for s in states}
        for r in rows:
            new[r["dst"]] += (mass[r["src"]] * r["cnt"]) // totals[r["src"]]
        for s in states:
            if s not in totals:  # dangling: keep own mass
                new[s] += mass[s]
        mass = new
    return spark.createDataFrame(
        sorted(mass.items()), "state string, mass_ppb long"
    )


@register(
    "events_seasonality_hod",
    """
    WITH sh_h AS (
        SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hod FROM events),
    sh_c AS (
        SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_events
        FROM sh_h GROUP BY 1, 2),
    sh_t AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
        FROM sh_h GROUP BY 1)
    SELECT c.event_type, c.hod, c.n_events,
           (24000 * c.n_events) // t.n_total AS share_pml
    FROM sh_c c JOIN sh_t t USING (event_type)
    """,
)
def events_seasonality_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type: each (type, hour)
    cell's share of the type's traffic, normalized so 1000 per-mille =
    exactly uniform (>1000 = the type's hot hours). Hours come from
    epoch-ms arithmetic (``DIV 3600000 % 24``), never calendar
    functions — timezone-free, identical in both engines (the
    TZ=Asia/Tokyo certification lesson).

    100 TB shape: two partial-agg scans collapse to |types|·24 and
    |types| rows; the totals broadcast back. Nothing bigger than the
    profile itself ever moves."""
    ev = load_table(spark, "events", sf_dir)
    h = ev.select(
        "event_type",
        (F.expr("unix_millis(ts) DIV 3600000") % 24).alias("hod"),
    )
    cells = h.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    tot = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return cells.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hod",
        "n_events",
        F.expr("(24000 * n_events) DIV n_total").cast("long").alias("share_pml"),
    )


@register(
    "parts_fuzzy_linkage",
    """
    WITH fl_p AS (
        SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS blk FROM part),
    fl_pairs AS (
        SELECT a.blk, a.p_partkey AS key_a, b.p_partkey AS key_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM fl_p a JOIN fl_p b
          ON a.blk = b.blk AND a.p_partkey < b.p_partkey),
    fl_sized AS (
        SELECT blk, CAST(count(*) AS BIGINT) AS n_pairs FROM fl_pairs GROUP BY 1),
    fl_ranked AS (
        SELECT blk, key_a, key_b, dist,
               row_number() OVER (PARTITION BY blk
                                  ORDER BY dist, key_a, key_b) AS rn
        FROM fl_pairs WHERE dist <= 4)
    SELECT r.blk, r.key_a, r.key_b, r.dist, s.n_pairs
    FROM fl_ranked r JOIN fl_sized s USING (blk) WHERE r.rn <= 3
    """,
)
def parts_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (Fellegi–Sunter's blocking step +
    an edit-distance field comparator): part records block on the name
    noun, candidate pairs form ONLY within a block, and
    ``levenshtein`` scores each pair; the 3 tightest links per block
    (deterministic (dist, key, key) tie-break) surface for review,
    alongside the block's total candidate count — the audit number
    that tells you if a block is degenerating toward all-pairs.

    100 TB shape: the pair generator is a bucketed EQUI-join on the
    blocking key (Σ block² comparisons, never corpus²) — the same
    bound the MinHash-LSH dedup path pins; the top-k is a per-block
    window over pre-filtered (dist ≤ 4) pairs, no global sort. Skewed
    blocks are the known failure mode; the n_pairs column is the
    gauge, and the SNM 2-char-block lesson (staged candidates) is the
    fix when one fires."""
    p = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        "p_name",
        F.element_at(F.split(F.col("p_name"), " "), 2).alias("blk"),
    )
    # salt the pair join: the block key alone has ~8 distinct values, so
    # an unsalted join caps parallelism at 8 tasks (x100 ladder: 76 s
    # with 24 idle cores). One side keys by (blk, key % NS), the other
    # replicates across the NS salts — every pair produced exactly
    # once, levenshtein work spread over blocks × NS tasks (the
    # salted_agg trade: replicate the small side, spread the compute).
    ns = 8
    a = p.select(
        F.col("blk"),
        (F.col("p_partkey") % ns).cast("int").alias("salt"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    ).repartition(
        spark.sparkContext.defaultParallelism, "blk", "salt"
    )  # the dimension is one scan split; Spark broadcasts the b side, so
    # WITHOUT this the whole pair loop runs in that single task (x100
    # ladder: 76 s on one core) — the explicit exchange moves only the
    # 4-column dimension once and unlocks blocks×NS-way compute
    b = p.select(
        F.col("blk").alias("blk_b"),
        F.explode(F.sequence(F.lit(0), F.lit(ns - 1))).alias("salt_b"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    # the comparator must run ONCE per surviving pair, and only after
    # the cheap cuts (round-10, guide §1.2 per-task work): the old
    # `filter(dist <= 4)` was pushed INTO the join condition, where it
    # ran levenshtein on every (blk, salt) candidate BEFORE the
    # key_a < key_b conjunct and then twice more (condition + project)
    # on survivors — ~118M evaluations for ~11M needed. Now the join
    # carries only cheap predicates (ordering cut, then the exact
    # lower bound levenshtein >= |len(a)-len(b)|), and the banded
    # threshold form — O(len*4) work instead of O(len^2), NULL past
    # the cut via nullif(-1) — is evaluated once in the projection.
    # The dist <= 4 cut moves to after the window as dist IS NOT NULL
    # (NULLs sort last, so surviving ranks are unchanged).
    pairs = a.join(
        b,
        (F.col("blk") == F.col("blk_b"))
        & (F.col("salt") == F.col("salt_b"))
        & (F.col("key_a") < F.col("key_b"))
        & (
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(4)
        ),
    ).select(
        "blk",
        "key_a",
        "key_b",
        F.nullif(F.levenshtein("name_a", "name_b", 4), F.lit(-1))
        .cast("long")
        .alias("dist"),
    )
    # n_pairs = C(block_size, 2) — arithmetic on the block sizes, so the
    # expensive levenshtein join has exactly ONE consumer
    sized = p.groupBy("blk").agg(
        F.expr("(count(*) * (count(*) - 1)) DIV 2").cast("long").alias("n_pairs")
    )
    w = Window.partitionBy("blk").orderBy(
        F.asc_nulls_last("dist"), "key_a", "key_b"
    )
    ranked = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & F.col("dist").isNotNull())
        .drop("rn")
    )
    return ranked.join(F.broadcast(sized), "blk").select(
        "blk", "key_a", "key_b", "dist", "n_pairs"
    )


# Poisson(λ=1) CDF thresholds scaled to u32 space (floor(cum·2³²)) — the
# per-(row, resample) multiplicity lottery of the Poisson bootstrap.
_BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)


def _boot_weight_sql(cast_ty: str) -> str:
    """weight ∈ {0..5} for (event_id, b): md5-uniform u32 through the
    Poisson(1) inverse CDF (tail mass lands on 5). ``cast_ty`` is
    'STRING' for Spark, 'VARCHAR' for DuckDB — same bytes hashed."""
    u = md5_long(f"concat(CAST(event_id AS {cast_ty}), ':', CAST(b AS {cast_ty}))")
    t = _BOOT_T
    return (
        f"CASE WHEN {u} < {t[0]} THEN 0 WHEN {u} < {t[1]} THEN 1 "
        f"WHEN {u} < {t[2]} THEN 2 WHEN {u} < {t[3]} THEN 3 "
        f"WHEN {u} < {t[4]} THEN 4 ELSE 5 END"
    )


@register(
    "events_bootstrap_ci",
    f"""
    WITH bc_b AS (
        SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL),
    bc_r AS (
        SELECT event_type, b.b,
               CAST({_boot_weight_sql("VARCHAR")} AS BIGINT) AS w, y
        FROM bc_b CROSS JOIN (SELECT unnest(range(32)) AS b) b),
    bc_m AS (
        SELECT event_type, b,
               CAST(sum(w * y) AS BIGINT) // CAST(sum(w) AS BIGINT) AS mean_centi
        FROM bc_r GROUP BY 1, 2 HAVING sum(w) > 0),
    bc_rn AS (
        SELECT event_type, mean_centi,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY mean_centi, b) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nr
        FROM bc_m),
    bc_ci AS (
        SELECT event_type, CAST(max(nr) AS BIGINT) AS n_resamples,
               CAST(max(CASE WHEN rn = 2 THEN mean_centi END) AS BIGINT)
                   AS boot_lo_centi,
               CAST(max(CASE WHEN rn = nr - 1 THEN mean_centi END) AS BIGINT)
                   AS boot_hi_centi
        FROM bc_rn GROUP BY 1),
    bc_p AS (
        SELECT event_type,
               CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS point_mean_centi
        FROM bc_b GROUP BY 1)
    SELECT p.event_type, p.point_mean_centi, c.n_resamples,
           c.boot_lo_centi, c.boot_hi_centi
    FROM bc_p p JOIN bc_ci c USING (event_type)
    """,
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the per-type mean —
    THE bootstrap that works at 100 TB (Chamandy et al., Google 2012):
    instead of materializing B resampled datasets, each row draws an
    independent Poisson(1) multiplicity per resample, so one scan
    computes all B=32 resample means as weighted partial aggregates.
    The multiplicity lottery is md5-deterministic per (row, resample)
    — no RNG, bit-replayable, partition-invariant.

    The band is the (2nd, 31st) order statistic of the 32 resample
    means (~94% central coverage), tie-broken by resample index.
    Integer centi arithmetic end-to-end; value ≥ 0 in the fixture so
    trunc-DIV == floor.

    100 TB shape: the 32× row expansion is map-side only (explode +
    partial agg in the same stage); the shuffle carries ≤
    |types|·32·|partitions| partial rows, not data. The per-type
    window orders 32 rows. Nothing global ever sorts."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    # spread the md5-heavy explode stage across all cores: the source
    # may have fewer scan splits than cores (the SNM shingling lesson);
    # the pre-shuffle moves only (type, id, y) triples once and is
    # repaid 32-fold on the hash stage (x100 ladder: one straggler task
    # burned 10 CPU-minutes before this)
    bs = base.repartition(spark.sparkContext.defaultParallelism).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(31)))
    )
    res = (
        bs.withColumn("w", F.expr(_boot_weight_sql("STRING")).cast("long"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("y")).cast("long").alias("swy"),
            F.sum("w").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            F.expr("swy DIV sw").cast("long").alias("mean_centi"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("mean_centi", "b")
    wn = Window.partitionBy("event_type")
    ci = (
        res.withColumn("rn", F.row_number().over(w))
        .withColumn("nr", F.count(F.lit(1)).over(wn))
        .groupBy("event_type")
        .agg(
            F.max("nr").cast("long").alias("n_resamples"),
            F.max(F.when(F.col("rn") == 2, F.col("mean_centi")))
            .cast("long")
            .alias("boot_lo_centi"),
            F.max(F.when(F.col("rn") == F.col("nr") - 1, F.col("mean_centi")))
            .cast("long")
            .alias("boot_hi_centi"),
        )
    )
    point = base.groupBy("event_type").agg(
        F.expr("CAST(sum(y) AS BIGINT) DIV count(*)")
        .cast("long")
        .alias("point_mean_centi")
    )
    return point.join(F.broadcast(ci), "event_type").select(
        "event_type",
        "point_mean_centi",
        "n_resamples",
        "boot_lo_centi",
        "boot_hi_centi",
    )


@register(
    "events_ab_diff_in_diff",
    f"""
    WITH dd_m AS (
        SELECT (CAST(min(epoch_ms(ts)) AS BIGINT)
                + CAST(max(epoch_ms(ts)) AS BIGINT)) // 2 AS mid
        FROM events WHERE value IS NOT NULL),
    dd_b AS (
        SELECT event_type,
               CASE WHEN {_AB_ARM} = 0 THEN 1 ELSE 0 END AS treated,
               CASE WHEN epoch_ms(ts) >= m.mid THEN 1 ELSE 0 END AS post,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events, dd_m m WHERE value IS NOT NULL),
    dd_c AS (
        SELECT event_type,
               CAST(count(*) FILTER (treated = 1 AND post = 0) AS BIGINT) AS n_t_pre,
               CAST(count(*) FILTER (treated = 1 AND post = 1) AS BIGINT) AS n_t_post,
               CAST(count(*) FILTER (treated = 0 AND post = 0) AS BIGINT) AS n_c_pre,
               CAST(count(*) FILTER (treated = 0 AND post = 1) AS BIGINT) AS n_c_post,
               CAST(sum(y) FILTER (treated = 1 AND post = 0) AS BIGINT) AS s_t_pre,
               CAST(sum(y) FILTER (treated = 1 AND post = 1) AS BIGINT) AS s_t_post,
               CAST(sum(y) FILTER (treated = 0 AND post = 0) AS BIGINT) AS s_c_pre,
               CAST(sum(y) FILTER (treated = 0 AND post = 1) AS BIGINT) AS s_c_post
        FROM dd_b GROUP BY 1),
    dd_f AS (
        SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
               CASE WHEN n_t_pre > 0 THEN s_t_pre // n_t_pre END AS m_t_pre,
               CASE WHEN n_t_post > 0 THEN s_t_post // n_t_post END AS m_t_post,
               CASE WHEN n_c_pre > 0 THEN s_c_pre // n_c_pre END AS m_c_pre,
               CASE WHEN n_c_post > 0 THEN s_c_post // n_c_post END AS m_c_post
        FROM dd_c)
    SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
           m_t_pre AS mean_t_pre_centi, m_t_post AS mean_t_post_centi,
           m_c_pre AS mean_c_pre_centi, m_c_post AS mean_c_post_centi,
           (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_centi
    FROM dd_f
    """,
)
def events_ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: per event type, the treated
    arm's pre→post mean shift minus the control arm's — the
    causal-inference workhorse when treatment switches on mid-stream
    and raw post-period deltas would absorb the trend both arms share.
    Arms are the experiment system's sticky md5-parity assignment
    (``stats.hash_arm``, same salt as the Welch/CUPED/z-test band);
    pre/post splits at the observed time-range midpoint.

    100 TB shape: ONE conditional-aggregation pass (the Welch shape) —
    the 2×2 cell design collapses map-side into eight partial sums per
    type; the midpoint is a 1-row broadcast. Integer centi means
    (cells guarded against emptiness); the DiD contrast is arithmetic
    over the four cell means."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    mid = ev.agg(
        F.expr(
            "(CAST(min(unix_millis(ts)) AS BIGINT)"
            " + CAST(max(unix_millis(ts)) AS BIGINT)) DIV 2"
        ).alias("mid")
    )
    base = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(
            st.hash_arm("CAST(user_id AS STRING)") == "A", F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("treated"),
        (F.unix_millis("ts") >= F.col("mid")).cast("int").alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )

    def cell(t: int, p: int, agg: str) -> F.Column:
        cond = (F.col("treated") == t) & (F.col("post") == p)
        if agg == "n":
            return F.sum(F.when(cond, 1).otherwise(0)).cast("long")
        return F.sum(F.when(cond, F.col("y"))).cast("long")

    cells = base.groupBy("event_type").agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        cell(1, 0, "s").alias("s_t_pre"),
        cell(1, 1, "s").alias("s_t_post"),
        cell(0, 0, "s").alias("s_c_pre"),
        cell(0, 1, "s").alias("s_c_post"),
    )
    m = {
        f"m_{a}_{p}": F.expr(
            f"CASE WHEN n_{a}_{p} > 0 THEN s_{a}_{p} DIV n_{a}_{p} END"
        ).cast("long")
        for a in ("t", "c")
        for p in ("pre", "post")
    }
    return cells.select(
        "event_type",
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        m["m_t_pre"].alias("mean_t_pre_centi"),
        m["m_t_post"].alias("mean_t_post_centi"),
        m["m_c_pre"].alias("mean_c_pre_centi"),
        m["m_c_post"].alias("mean_c_post_centi"),
        (
            (m["m_t_post"] - m["m_t_pre"]) - (m["m_c_post"] - m["m_c_pre"])
        ).alias("did_centi"),
    )


@register(
    "retrieval_mrr_eval",
    f"""
    WITH mr_q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 8),
    mr_c AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, label AS nlabel
        FROM embeddings),
    mr_s AS (
        SELECT query_id, neighbor_id, nlabel, qlabel,
               round({_DOT_QC} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}), 4)
                   AS cosine
        FROM mr_c, mr_q WHERE neighbor_id <> query_id),
    mr_r AS (
        SELECT query_id, nlabel, qlabel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM mr_s)
    SELECT query_id,
           CAST(min(rank) FILTER (nlabel = qlabel) AS BIGINT)
               AS first_rel_rank,
           1000000 // CAST(min(rank) FILTER (nlabel = qlabel) AS BIGINT)
               AS rr_micro
    FROM mr_r GROUP BY query_id
    """,
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR companion to ``retrieval_ndcg_eval``: the rank of each
    query's FIRST relevant neighbor (same label) under the exact
    cosine ranking, and its reciprocal in exact micro units.

    The rank is computed WITHOUT ranking the corpus: elect the best
    relevant neighbor per query (max_by over (cosine, -id) — one
    partial-agg reduction), then count the candidates ordered strictly
    ahead of it. Two bounded aggregations replace the global top-k
    window — at 100 TB the corpus streams through twice map-side and
    shuffles only |queries|-row partials (the oracle uses the naive
    window form precisely so the hash match proves the count-better
    trick equals the true rank)."""
    emb = load_table(spark, "embeddings", sf_dir)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        sim.norm(F.col("embedding")).alias("q_norm"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        sim.norm(F.col("embedding")).alias("c_norm"),
        F.col("label").alias("clabel"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "clabel",
            "qlabel",
            F.round(
                sim.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ).alias("cosine"),
        )
    )
    best = (
        scored.filter(F.col("clabel") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(
            F.max(F.struct(F.col("cosine"), (-F.col("neighbor_id")).alias("nid")))
            .alias("b")
        )
        .select(
            "query_id",
            F.col("b.cosine").alias("best_cos"),
            (-F.col("b.nid")).alias("best_id"),
        )
    )
    ahead = (
        scored.join(F.broadcast(best), "query_id")
        .select(
            "query_id",
            (
                (F.col("cosine") > F.col("best_cos"))
                | (
                    (F.col("cosine") == F.col("best_cos"))
                    & (F.col("neighbor_id") < F.col("best_id"))
                )
            )
            .cast("long")
            .alias("is_ahead"),
        )
        .groupBy("query_id")
        .agg((F.sum("is_ahead") + 1).cast("long").alias("first_rel_rank"))
    )
    return ahead.select(
        "query_id",
        "first_rel_rank",
        F.expr("1000000 DIV first_rel_rank").cast("long").alias("rr_micro"),
    )


@register(
    "events_covisitation_recs",
    """
    WITH cv_i AS (
        SELECT DISTINCT user_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item
        FROM events),
    cv_n AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cv_i GROUP BY 1),
    cv_t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM cv_i),
    cv_p AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM cv_i a JOIN cv_i b
          ON a.user_id = b.user_id AND a.item <> b.item
        GROUP BY 1, 2),
    cv_l AS (
        SELECT p.item_a, p.item_b, p.n_ab,
               (1000000 * p.n_ab * t.nu) // (na.n * nb.n) AS lift_ppm
        FROM cv_p p
        JOIN cv_n na ON na.item = p.item_a
        JOIN cv_n nb ON nb.item = p.item_b
        CROSS JOIN cv_t t),
    cv_r AS (
        SELECT *, row_number() OVER (PARTITION BY item_a
                      ORDER BY lift_ppm DESC, n_ab DESC, item_b) AS rnk
        FROM cv_l WHERE n_ab >= 3)
    SELECT item_a, rnk, item_b, n_ab, lift_ppm FROM cv_r WHERE rnk <= 5
    """,
)
def events_covisitation_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-visitation recommender (the covisitation-matrix
    batch job behind 'users who touched X also touched Y'): distinct
    (user, item) pairs from the props item id, co-occurrence counts
    via a self-equi-join on user, association strength as integer-ppm
    lift ``P(a,b)/(P(a)P(b))``, and the top-5 recommendations per item
    under (lift, support, id) ordering with a minimum-support floor of
    3 co-occurrences (rule-of-thumb noise gate).

    100 TB shape: the pair generator is an EQUI-join on user_id whose
    fan-out is Σ(per-user distinct items)² — bounded by the distinct
    collapse, the classic covisitation bound (cap items/user upstream
    for power users; the distinct pass is where such a cap plugs in).
    Item marginals and the user total are broadcast; the top-5 is a
    per-item window over support-filtered pairs, no global sort."""
    ev = load_table(spark, "events", sf_dir)
    # the distinct (user, item) frame feeds FOUR consumers (marginals,
    # user total, both join sides) — stage it through ONE
    # localCheckpoint so the distinct shuffle happens once, not four
    # times (the corpus-merge staging lesson)
    items = (
        ev.select(
            "user_id",
            F.from_json(F.col("props"), "k BIGINT")["k"].alias("item"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    marg = items.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    nu = items.agg(F.countDistinct("user_id").cast("long").alias("nu"))
    a = items.select(F.col("user_id").alias("u"), F.col("item").alias("item_a"))
    b = items.select(F.col("user_id").alias("u2"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.col("item_a") != F.col("item_b")))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    lifted = (
        pairs.join(
            F.broadcast(marg.select(F.col("item").alias("item_a"), F.col("n").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col("item").alias("item_b"), F.col("n").alias("nb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(nu))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.expr("(1000000 * n_ab * nu) DIV (na * nb)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(
        F.col("lift_ppm").desc(), F.col("n_ab").desc(), F.col("item_b")
    )
    return (
        lifted.filter(F.col("n_ab") >= 3)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("item_a", "rnk", "item_b", "n_ab", "lift_ppm")
    )


@register(
    "events_ab_power",
    f"""
    WITH pw_v AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
    pw_s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS DOUBLE) AS q
        FROM pw_v GROUP BY 1)
    SELECT event_type, n,
           s // n AS mean_centi,
           round((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 6) AS var_centi2,
           CAST(ceil(2.0 * 7.849 *
                ((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                / ((0.05 * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (0.05 * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
               AS BIGINT) AS n_per_arm
    FROM pw_s WHERE n > 1 AND s > 0
    """,
)
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis from observed moments: per metric
    (event type), the sample size each arm needs to detect a 5%
    relative lift at α=0.05 / 80% power — ``n = 2(z_{{α/2}}+z_β)²σ²/Δ²``
    with (1.96+0.8416)² = 7.849 folded to a constant. The planning
    readout every experimentation platform runs BEFORE launching an
    A/B test; the Welch/CUPED/DiD band then reads the results.

    One conditional-moment scan (the Welch shape): count, sum, sum of
    squares per type — all partial-aggregable; variance and the ceil'd
    n are driver-free arithmetic on the 5-row result. Sum-of-squares
    accumulates in HUGEINT/DECIMAL before the double cast so the
    partials stay exact and order-free."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    s = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum(
                F.col("v").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("q"),
        )
        .filter((F.col("n") > 1) & (F.col("s") > 0))
    )
    dn = F.col("n").cast("double")
    ds = F.col("s").cast("double")
    var = (dn * F.col("q") - ds * ds) / (dn * (dn - 1))
    delta = F.lit(0.05) * ds / dn
    return s.select(
        "event_type",
        "n",
        F.expr("s DIV n").cast("long").alias("mean_centi"),
        F.round(var, 6).alias("var_centi2"),
        F.ceil(F.lit(2.0) * F.lit(7.849) * var / (delta * delta))
        .cast("long")
        .alias("n_per_arm"),
    )


@register("text_wordpiece_tokens", None)  # placeholder; oracle set below
def text_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy WordPiece tokenization (inference side of the BPE band):
    longest-match-first over a fixed piece vocabulary, continuations
    '##'-marked, [UNK] fallback — ``text.wordpiece_tokenize_words``.
    The per-word greedy loop is UNROLLED into 10 generated expression
    stages (every stage consumes ≥1 character and the corpus's longest
    word is 8 chars), so the whole tokenizer is one shuffle-free
    codegen projection — no UDF, no Python, no loop. The oracle runs
    the IDENTICAL generated step expressions through chained CTEs.

    Runs over DISTINCT corpus words (the fertility-table shape): at
    100 TB the distinct word table is the bounded surface, and a doc-
    level tokenization is this table broadcast-joined back to docs."""
    docs = load_table(spark, "documents", sf_dir)
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    return tx.wordpiece_tokenize_words(words)


QUERIES["text_wordpiece_tokens"] = QuerySpec(
    QUERIES["text_wordpiece_tokens"].fn, tx.wordpiece_oracle_sql()
)


@register(
    "events_psi_drift",
    """
    WITH ps_m AS (
        SELECT (CAST(min(epoch_ms(ts)) AS BIGINT)
                + CAST(max(epoch_ms(ts)) AS BIGINT)) // 2 AS mid
        FROM events WHERE value IS NOT NULL),
    ps_b AS (
        SELECT event_type,
               CASE WHEN epoch_ms(ts) >= m.mid THEN 1 ELSE 0 END AS post,
               least(CAST(round(value * 100) AS BIGINT) // 2500, 19) AS bucket
        FROM events, ps_m m WHERE value IS NOT NULL),
    ps_c AS (
        SELECT event_type, bucket,
               CAST(count(*) FILTER (post = 0) AS BIGINT) AS n_pre,
               CAST(count(*) FILTER (post = 1) AS BIGINT) AS n_post
        FROM ps_b GROUP BY 1, 2),
    ps_t AS (
        SELECT event_type,
               CAST(sum(n_pre) AS BIGINT) AS t_pre,
               CAST(sum(n_post) AS BIGINT) AS t_post
        FROM ps_c GROUP BY 1),
    ps_s AS (
        SELECT c.event_type, c.bucket,
               (1000000.0 * c.n_pre + 1.0) / (t.t_pre + 20) AS p,
               (1000000.0 * c.n_post + 1.0) / (t.t_post + 20) AS q
        FROM ps_c c JOIN ps_t t USING (event_type))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(round(sum(CAST(round((p - q) * ln(p / q), 6)
                               AS DECIMAL(24,6)))) AS BIGINT) AS psi_upm
    FROM ps_s GROUP BY event_type
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the pre- and post-midpoint
    value distributions per metric — the drift gauge ML monitoring
    fires retraining on (PSI > 0.2 ≈ 200000 µPSI = major shift).
    Values bucket into fixed 25.00-wide centi bins capped at 20;
    Laplace-smoothed shares keep empty bins finite; per-bucket
    contributions sum in micro-PSI units.

    The double arithmetic is identical-IEEE on both engines (same
    expression shape; ln/division on exact-integer-derived inputs) and
    the final round is scale-0 — the certified tfidf/ANN pattern.

    100 TB shape: ONE bucket-count pass with map-side partials
    (|types|·20 cells), then one row per type holding its dense pre and
    post count arrays, read by ``stats.psi_from_counts`` (the streaming
    ``streaming_psi_monitor`` reads its arrays the same way) — nothing
    bigger than the histogram ever moves. ``value`` is nonnegative, so
    buckets are 0..19."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    mid = ev.agg(
        F.expr(
            "(CAST(min(unix_millis(ts)) AS BIGINT)"
            " + CAST(max(unix_millis(ts)) AS BIGINT)) DIV 2"
        ).alias("mid")
    )
    b = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        (F.unix_millis("ts") >= F.col("mid")).cast("int").alias("post"),
        F.least(
            F.expr("CAST(round(value * 100) AS BIGINT) DIV 2500"), F.lit(19)
        ).alias("bucket"),
    )
    cells = b.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("post") == 0, 1).otherwise(0)).cast("long").alias("n_pre"),
        F.sum(F.when(F.col("post") == 1, 1).otherwise(0)).cast("long").alias("n_post"),
    )
    counts = cells.groupBy("event_type").agg(
        sk.dense_counts("bucket", "n_pre", 20).alias("pre"),
        sk.dense_counts("bucket", "n_post", 20).alias("post"),
    )
    return counts.select("event_type", *st.psi_from_counts(F.col("pre"), F.col("post")))


@register(
    "events_forecast_backtest",
    """
    WITH fb_h AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    fb_cut AS (
        SELECT min(h) + 3 * (max(h) - min(h) + 1) // 4 AS cutoff FROM fb_h),
    fb_test AS (
        SELECT a.event_type, CAST(abs(a.s - b.s) AS BIGINT) AS err
        FROM fb_h a JOIN fb_h b
          ON a.event_type = b.event_type AND b.h = a.h - 24
        CROSS JOIN fb_cut c
        WHERE a.h >= c.cutoff),
    fb_train AS (
        SELECT a.event_type, CAST(abs(a.s - b.s) AS BIGINT) AS err
        FROM fb_h a JOIN fb_h b
          ON a.event_type = b.event_type AND b.h = a.h - 1
        CROSS JOIN fb_cut c
        WHERE a.h < c.cutoff),
    fb_te AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(err) AS BIGINT) AS sum_test
        FROM fb_test GROUP BY 1),
    fb_tr AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
               CAST(sum(err) AS BIGINT) AS sum_train
        FROM fb_train GROUP BY 1)
    SELECT t.event_type, t.n_test,
           t.sum_test // t.n_test AS mae_test_centi,
           (1000000 * t.sum_test * r.n_train) // (t.n_test * r.sum_train)
               AS mase_ppm
    FROM fb_te t JOIN fb_tr r USING (event_type)
    WHERE r.sum_train > 0 AND t.n_test > 0
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: seasonal-naive (ŷ_h = y_{h-24}) over the last
    quarter of the hourly value series, scored by MASE — the test error
    scaled by the TRAIN-period naive-1 MAE (Hyndman's scale-free
    standard; < 1e6 ppm = beats the naive benchmark). The eval loop a
    forecasting pipeline runs before promoting any model; seasonal
    naive is the benchmark that model must beat.

    Everything is integer-exact: hourly sums in centi, absolute errors,
    and one cross-multiplied DIV for the ratio of means — no float
    drift, order-free. Hours with a missing 24h-back partner drop from
    the backtest on both engines (inner lag join).

    100 TB shape: one partial-agg scan builds the series; lag pairing
    is an EQUI-join on (type, h−k) — never a window over raw events;
    the cutoff is a 1-row broadcast."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_millis(ts) DIV 3600000").alias("h"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("v").cast("long").alias("s"))
        .localCheckpoint(eager=False)  # four consumers: one series build
    )
    cut = hourly.agg(
        F.expr("min(h) + 3 * (max(h) - min(h) + 1) DIV 4").alias("cutoff")
    )

    def lag_pairs(k: int):
        b = hourly.select(
            F.col("event_type").alias("et2"),
            (F.col("h") + k).alias("h2"),
            F.col("s").alias("s2"),
        )
        return (
            hourly.join(
                b, (F.col("event_type") == F.col("et2")) & (F.col("h") == F.col("h2"))
            )
            .crossJoin(F.broadcast(cut))
            .select(
                "event_type",
                "h",
                F.abs(F.col("s") - F.col("s2")).cast("long").alias("err"),
                "cutoff",
            )
        )

    test = (
        lag_pairs(24)
        .filter(F.col("h") >= F.col("cutoff"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum("err").cast("long").alias("sum_test"),
        )
    )
    train = (
        lag_pairs(1)
        .filter(F.col("h") < F.col("cutoff"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum("err").cast("long").alias("sum_train"),
        )
    )
    return (
        test.join(train, "event_type")
        .filter((F.col("sum_train") > 0) & (F.col("n_test") > 0))
        .select(
            "event_type",
            "n_test",
            F.expr("sum_test DIV n_test").cast("long").alias("mae_test_centi"),
            F.expr("(1000000 * sum_test * n_train) DIV (n_test * sum_train)")
            .cast("long")
            .alias("mase_ppm"),
        )
    )


@register(
    "events_survival_km",
    """
    WITH km_s AS (
        SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY 1),
    km_e AS (
        SELECT e.user_id, min(epoch_ms(e.ts)) AS tp
        FROM events e JOIN km_s s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s.t0
        GROUP BY 1),
    km_end AS (SELECT max(epoch_ms(ts)) AS tmax FROM events),
    km_d AS (
        SELECT s.user_id,
               CASE WHEN e.user_id IS NULL
                    THEN (x.tmax - s.t0) // 3600000
                    ELSE (e.tp - s.t0) // 3600000 END AS dur,
               CASE WHEN e.user_id IS NULL THEN 0 ELSE 1 END AS observed
        FROM km_s s LEFT JOIN km_e e ON s.user_id = e.user_id
        CROSS JOIN km_end x),
    km_c AS (
        SELECT dur,
               CAST(count(*) FILTER (observed = 1) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS leave_t
        FROM km_d GROUP BY 1),
    km_n AS (
        SELECT dur, d,
               (SELECT count(*) FROM km_d) -
               coalesce(sum(leave_t) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_at_risk
        FROM km_c),
    km_f AS (
        SELECT dur, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
               sum(CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE)), 9)
                        AS DECIMAL(24,9)))
                   OVER (ORDER BY dur) AS logsum
        FROM km_n WHERE d > 0 AND n_at_risk > d)
    SELECT CAST(dur AS BIGINT) AS t_hours, n_at_risk, d AS d_events,
           CAST(round(exp(CAST(logsum AS DOUBLE)) * 1000000) AS BIGINT)
               AS surv_ppm
    FROM km_f
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for signup→purchase conversion with
    right censoring: users who never purchase are censored at the
    study end instead of silently dropped — the estimator retention /
    time-to-event analyses need when the observation window truncates
    the slow converters (naive conversion-latency means understate).

    S(t) = Π (1 − d/n) accumulates as a cumulative sum of
    round-to-9-decimals log terms in DECIMAL (order-free, the ndcg
    pattern), exponentiated once per row — a product of doubles would
    depend on evaluation order. Durations, death counts, and risk sets
    are exact integers (risk set = N minus the running leave count).

    100 TB shape: two per-user reductions (first signup, first
    qualifying purchase) + a per-duration partial agg; the KM windows
    run over the bounded distinct-duration frame (≤ observation hours),
    never over users."""
    ev = load_table(spark, "events", sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_millis("ts")).alias("t0"))
    )
    e = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_millis("ts").alias("tp"))
        .join(s, "user_id")
        .filter(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    end = ev.agg(F.max(F.unix_millis("ts")).alias("tmax"))
    durs = (
        s.join(e, "user_id", "left")
        .crossJoin(F.broadcast(end))
        .select(
            F.when(
                F.col("tp").isNull(),
                F.expr("(tmax - t0) DIV 3600000"),
            )
            .otherwise(F.expr("(tp - t0) DIV 3600000"))
            .alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("observed"),
        )
        .localCheckpoint(eager=False)  # feeds the table AND the N count
    )
    counts = durs.groupBy("dur").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
    )
    n_total = durs.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    w_prev = (
        Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    )
    at_risk = (
        counts.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_tot")
                - F.coalesce(F.sum("leave_t").over(w_prev), F.lit(0))
            ).cast("long"),
        )
        .filter((F.col("d") > 0) & (F.col("n_at_risk") > F.col("d")))
    )
    logterm = F.round(
        F.log(
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk").cast("double")
        ),
        9,
    ).cast("decimal(24,9)")
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return at_risk.select(
        F.col("dur").cast("long").alias("t_hours"),
        "n_at_risk",
        F.col("d").alias("d_events"),
        F.round(F.exp(F.sum(logterm).over(w_cum).cast("double")) * 1000000)
        .cast("long")
        .alias("surv_ppm"),
    )


@register(
    "events_anova_oneway",
    """
    WITH an_g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
               sum(CAST(round(value * 100) AS HUGEINT)
                   * CAST(round(value * 100) AS HUGEINT)) AS q
        FROM events WHERE value IS NOT NULL GROUP BY 1),
    an_t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_tot,
               sum(CAST(s AS HUGEINT)) AS s_tot,
               sum(q) AS q_tot,
               sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(n AS DOUBLE), 4) AS DECIMAL(30,4)))
                   AS ssb_part
        FROM an_g)
    SELECT k AS n_groups, n_tot,
           round((CAST(ssb_part AS DOUBLE)
                  - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                    / CAST(n_tot AS DOUBLE)) / (k - 1), 4) AS msb_centi2,
           round((CAST(q_tot AS DOUBLE) - CAST(ssb_part AS DOUBLE))
                 / (n_tot - k), 4) AS msw_centi2,
           round(((CAST(ssb_part AS DOUBLE)
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE)) / (k - 1))
                 / ((CAST(q_tot AS DOUBLE) - CAST(ssb_part AS DOUBLE))
                    / (n_tot - k)), 6) AS f_stat
    FROM an_t WHERE k > 1 AND n_tot > k
    """,
)
def events_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: does the metric's mean differ
    anywhere among the k groups? — the k-group generalization of the
    Welch/z-test pair (run this first; pairwise tests after, on the
    types it flags). F = MSB/MSW from sufficient statistics only:
    per-group (n, Σy, Σy²) in exact integer centi (Σy² in
    HUGEINT/DECIMAL so partials stay order-free), one double formula
    at the end.

    Caveat vs Welch: classic ANOVA assumes equal variances; the Welch
    registry entry is the unequal-variance pairwise follow-up.

    100 TB shape: ONE conditional-moment pass (k-row output), then a
    1-row reduction — the same two-level shape as the A/B band; HUGEINT
    `s²/n` keeps the between-group sum exact before the single double
    division."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = (
        ev.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum(dec(F.col("v")) * dec(F.col("v"))).alias("q"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(dec(F.col("s"))).alias("s_tot"),
        F.sum("q").alias("q_tot"),
        # per-group s²/n as an identical-IEEE double rounded to 4
        # decimals then DECIMAL-summed — order-free in both engines
        # (raw decimal/HUGEINT division semantics differ across them)
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n").cast("double"),
                4,
            ).cast("decimal(30,4)")
        ).alias("ssb_part"),
    ).filter((F.col("k") > 1) & (F.col("n_tot") > F.col("k")))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ssb = d("ssb_part") - d("s_tot") * d("s_tot") / d("n_tot")
    msb = ssb / (F.col("k") - 1)
    msw = (d("q_tot") - d("ssb_part")) / (F.col("n_tot") - F.col("k"))
    return t.select(
        F.col("k").alias("n_groups"),
        "n_tot",
        F.round(msb, 4).alias("msb_centi2"),
        F.round(msw, 4).alias("msw_centi2"),
        F.round(msb / msw, 6).alias("f_stat"),
    )


@register(
    "events_cohort_ltv",
    """
    WITH lt_s AS (
        SELECT user_id,
               min(epoch_ms(ts)) // 86400000 // 7 AS cohort_wk
        FROM events WHERE event_type = 'signup' GROUP BY 1),
    lt_v AS (
        SELECT s.cohort_wk,
               epoch_ms(e.ts) // 86400000 // 7 - s.cohort_wk AS age_wk,
               CAST(round(e.value * 100) AS BIGINT) AS v
        FROM events e JOIN lt_s s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
          AND epoch_ms(e.ts) // 86400000 // 7 >= s.cohort_wk),
    lt_n AS (
        SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_users
        FROM lt_s GROUP BY 1),
    lt_c AS (
        SELECT cohort_wk, age_wk,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(v) AS BIGINT) AS wk_value
        FROM lt_v GROUP BY 1, 2)
    SELECT c.cohort_wk, c.age_wk, n.cohort_users, c.n_purchases,
           CAST(sum(c.wk_value) OVER (PARTITION BY c.cohort_wk
                ORDER BY c.age_wk) AS BIGINT) AS cum_value_centi,
           CAST(sum(c.wk_value) OVER (PARTITION BY c.cohort_wk
                ORDER BY c.age_wk) AS BIGINT) // n.cohort_users
               AS ltv_per_user_centi
    FROM lt_c c JOIN lt_n n USING (cohort_wk)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by signup week,
    purchase value accumulated by cohort age — the LTV-by-age table
    growth teams read payback periods off (and the label source for
    LTV-prediction training data). Cumulative sums are exact centi
    integers; per-user LTV is an integer DIV against the cohort's user
    count (denominator = signups, not purchasers — the curve must
    dilute by the whole cohort).

    100 TB shape: one per-user signup reduction joined back to
    purchases (user-keyed equi-join), a (cohort, age) partial agg, and
    a cumulative window over the BOUNDED (cohorts × ages) frame —
    never over raw events; epoch-week arithmetic is timezone-free."""
    ev = load_table(spark, "events", sf_dir)
    wk = lambda c: F.expr(f"unix_millis({c}) DIV 86400000 DIV 7")  # noqa: E731
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(wk("ts")).alias("cohort_wk"))
        .localCheckpoint(eager=False)  # feeds the join AND cohort sizes
    )
    sizes = s.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    v = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            wk("ts").alias("ev_wk"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .join(s, "user_id")
        .filter(F.col("ev_wk") >= F.col("cohort_wk"))
        .select(
            "cohort_wk", (F.col("ev_wk") - F.col("cohort_wk")).alias("age_wk"), "v"
        )
    )
    cells = v.groupBy("cohort_wk", "age_wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("v").cast("long").alias("wk_value"),
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_wk")
        .withColumn("cum_value_centi", F.sum("wk_value").over(w).cast("long"))
        .select(
            "cohort_wk",
            "age_wk",
            "cohort_users",
            "n_purchases",
            "cum_value_centi",
            F.expr("cum_value_centi DIV cohort_users")
            .cast("long")
            .alias("ltv_per_user_centi"),
        )
    )


def _ivf_nprobe_sweep_oracle(probes: tuple[int, ...] = (1, 2, 4)) -> str:
    """Replay of the IVF training + assignment (the ann_ivf_topk
    fragments) with the probe list swept, each rung's top-5 scored for
    recall against the exact ranking."""
    head = f"""
    WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 16),
    {_kmeans_iter_sql('c0', 'c1')},
    {_kmeans_iter_sql('c1', 'c2')},
    cent AS (SELECT cid, cv FROM c2),
    ascore AS (
        SELECT e.vec_id, c.cid,
               round({_dot64('e.embedding', 'c.cv')}
                     / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}), 4) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
    assign AS (
        SELECT vec_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore),
    cell AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM ascore WHERE vec_id < 8),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS nv, cl.cell
          FROM embeddings e JOIN cell cl ON e.vec_id = cl.vec_id),
    ex_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({_dot64('q.qv', 'e.embedding')}
                     / ({_NORM.format(v='q.qv')} * {_NORM.format(v='e.embedding')}), 4) + 0.0 AS cosine
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    ex_ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS erank
        FROM ex_scored),
    ex5 AS (SELECT query_id, neighbor_id FROM ex_ranked WHERE erank <= 5)"""
    parts = [head]
    finals = []
    for np_ in probes:
        parts.append(
            f""",
    scored_{np_} AS (
        SELECT q.query_id, c.neighbor_id,
               round({_dot64('q.qv', 'c.nv')}
                     / ({_NORM.format(v='q.qv')} * {_NORM.format(v='c.nv')}), 4) + 0.0 AS cosine
        FROM c JOIN probe p ON c.cell = p.cell AND p.rn <= {np_}
               JOIN q ON q.query_id = p.query_id
        WHERE c.neighbor_id <> p.query_id),
    top5_{np_} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored_{np_}) WHERE rank <= 5),
    hits_{np_} AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS h
        FROM top5_{np_} t JOIN ex5 e USING (query_id, neighbor_id)
        GROUP BY 1)"""
        )
        finals.append(
            f"""
    SELECT CAST({np_} AS BIGINT) AS nprobe, i.query_id,
           CAST(coalesce(h.h, 0) AS BIGINT) AS ivf_hits,
           CAST(coalesce(h.h, 0) * 20 AS BIGINT) AS recall_pct
    FROM (SELECT DISTINCT query_id FROM q) i
    LEFT JOIN hits_{np_} h USING (query_id)"""
        )
    return "".join(parts) + " UNION ALL ".join(finals)


@register("ann_ivf_nprobe_sweep", _ivf_nprobe_sweep_oracle())
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF operating-point sweep: recall@5 vs the exact ranking at
    nprobe ∈ {1, 2, 4} over the SAME persisted centroid store the
    search queries use — the tuning curve that picks an index's
    recall/cost trade (each probe rung touches ~nprobe/nlist of the
    corpus; this table says what that buys). Companion to
    ``emb_sq_recall`` (quantization rung) and ``emb_ivf_cell_stats``
    (occupancy skew).

    100 TB shape: ONE probe join scores every rung — the query tower
    keeps the probe RANK of each cell (``ivf_probe_ranked``), each
    candidate is scored once at the widest rung, and rung nprobe is
    the ``proberank <= nprobe`` filter of that shared frame (a cell
    probed at rank r is probed by every rung >= r, so the filtered
    top-k is bit-identical to running the probe join per rung — the
    pre-fusion form, measured 2× slower at sf0.1). Recall joins are
    |queries|·k-row frames. The exact baseline is the one corpus-wide
    scan (at deployment scale the baseline comes from a labeled eval
    slice, not the full corpus)."""
    rungs = (1, 2, 4)
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    ex5 = (
        sim.brute_force_topk(emb, q, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)  # shared baseline across rungs
    )
    # the corpus side (cell assignment) and the candidate scoring are
    # rung-invariant — compute both ONCE at the widest rung
    assigned = sim.ivf_assign(
        emb, cents, num_partitions=spark.sparkContext.defaultParallelism
    )
    qp = sim.ivf_probe_ranked(q, cents, nprobe=max(rungs))
    pairs = assigned.join(F.broadcast(qp), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = F.round(
        sim.dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        4,
    ) + F.lit(0.0)
    scored = pairs.select(
        "query_id", "neighbor_id", "proberank", cos.alias("cosine")
    )
    # rung explode: candidate (q, n) probed at rank r belongs to every
    # rung >= r — bounded by Σ_rung |candidates(rung)|, exactly the
    # rows the per-rung plans would score
    cand = scored.select(
        "*",
        F.explode(F.array(*[F.lit(r) for r in rungs])).alias("nprobe"),
    ).filter(F.col("proberank") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    top5 = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("nprobe", "query_id", "neighbor_id")
    )
    hits = (
        top5.join(ex5, ["query_id", "neighbor_id"])
        .groupBy("nprobe", "query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("h"))
    )
    grid = q.select(F.col("vec_id").alias("query_id")).distinct().select(
        "query_id",
        F.explode(F.array(*[F.lit(r) for r in rungs])).alias("nprobe"),
    )
    return grid.join(hits, ["nprobe", "query_id"], "left").select(
        F.col("nprobe").cast("long").alias("nprobe"),
        "query_id",
        F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("ivf_hits"),
        (F.coalesce(F.col("h"), F.lit(0)) * 20)
        .cast("long")
        .alias("recall_pct"),
    )


def _lsh_banding_sweep_oracle(rungs: tuple[int, ...] = (1, 2, 4)) -> str:
    """Replay the banding sweep: ONE 4-band signature table (bands read
    disjoint md5 hex ranges, so rung b = 'first b bands'), candidate
    sets per rung, precision/recall vs the exact unigram-Jaccard truth
    on the bounded doc_id<150 cohort."""
    head = f"""
    WITH bs_sets AS MATERIALIZED (
        SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS grams
        FROM documents WHERE doc_id < 150),
    bs_truth AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM bs_sets a JOIN bs_sets b ON a.id < b.id
        WHERE round(len(list_intersect(a.grams, b.grams)) * 1.0 /
              (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
              >= 0.8),
    bs_tn AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM bs_truth),
    {_minhash_sigs_cte(bands=4, k=1,
                       source="(SELECT * FROM documents WHERE doc_id < 150)",
                       suffix="_sw")}"""
    parts = [head]
    finals = []
    for b in rungs:
        parts.append(
            f""",
    bs_cand_{b} AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM sigs_sw x JOIN sigs_sw y
          ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
        WHERE x.band < {b}),
    bs_n_{b} AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM bs_cand_{b}),
    bs_h_{b} AS (SELECT CAST(count(*) AS BIGINT) AS hits
                 FROM bs_cand_{b} c JOIN bs_truth t
                   ON c.id_a = t.id_a AND c.id_b = t.id_b)"""
        )
        finals.append(
            f"""
    SELECT CAST({b} AS BIGINT) AS bands, n_cand AS n_candidates,
           n_true AS n_true_pairs, hits,
           CASE WHEN n_cand > 0 THEN (1000 * hits) // n_cand END
               AS precision_pml,
           CASE WHEN n_true > 0 THEN (1000 * hits) // n_true END
               AS recall_pml
    FROM bs_n_{b}, bs_h_{b}, bs_tn"""
        )
    return "".join(parts) + " UNION ALL ".join(finals)


@register("dedup_lsh_banding_sweep", _lsh_banding_sweep_oracle())
def dedup_lsh_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuning curve — the dedup twin of the IVF nprobe
    sweep: candidate precision/recall at bands ∈ {1, 2, 4} against the
    exact unigram-Jaccard ≥ 0.8 truth on the bounded doc_id<150 audit
    cohort (the truth needs all-pairs, so it runs where all-pairs is
    affordable — the sweep's verdict then sets the production band
    count). More bands = more candidates = recall up, precision down;
    this table prices that trade with measurements, not S-curve
    theory (`dedup_minhash_accuracy` gauges the estimator itself).

    The signature table is computed ONCE (bands read disjoint md5 hex
    ranges, so rung b is literally 'the first b bands') and staged
    through one localCheckpoint; each rung's candidate join is the
    production bucketed equi-join."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    sigs = dd.minhash_band_signatures(docs, k=1, bands=4).localCheckpoint(
        eager=False
    )
    truth = (
        dd.ngram_jaccard_pairs(docs, n=1, threshold=0.8, max_id=150)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    tn = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    out = None
    for b in (1, 2, 4):
        rung_sigs = sigs.filter(F.col("band") < b)
        a = rung_sigs.select("band", "sig", F.col("doc_id").alias("id_a"))
        bb = rung_sigs.select("band", "sig", F.col("doc_id").alias("id_b"))
        cand = (
            a.join(bb, ["band", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .localCheckpoint(eager=False)
        )
        nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
        h = (
            cand.join(truth, ["id_a", "id_b"])
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
        )
        rung = (
            nc.crossJoin(h)
            .crossJoin(tn)
            .select(
                F.lit(b).cast("long").alias("bands"),
                F.col("n_cand").alias("n_candidates"),
                F.col("n_true").alias("n_true_pairs"),
                "hits",
                F.expr(
                    "CASE WHEN n_cand > 0 THEN (1000 * hits) DIV n_cand END"
                )
                .cast("long")
                .alias("precision_pml"),
                F.expr(
                    "CASE WHEN n_true > 0 THEN (1000 * hits) DIV n_true END"
                )
                .cast("long")
                .alias("recall_pml"),
            )
        )
        out = rung if out is None else out.unionByName(rung)
    return out


@register(
    "events_pit_features",
    """
    WITH pf_l AS (
        SELECT event_id AS label_id, user_id, epoch_ms(ts) AS lts,
               CAST(round(value * 100) AS BIGINT) AS label_centi
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    pf_p AS (
        SELECT l.label_id, l.user_id, l.lts, l.label_centi,
               CAST(count(e.event_id) AS BIGINT) AS n_prior,
               CAST(coalesce(sum(CASE WHEN e.value IS NOT NULL
                    THEN CAST(round(e.value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS prior_value_centi,
               max(epoch_ms(e.ts)) AS last_prior_ms
        FROM pf_l l LEFT JOIN events e
          ON e.user_id = l.user_id AND epoch_ms(e.ts) < l.lts
        GROUP BY 1, 2, 3, 4)
    SELECT label_id, user_id, label_centi, n_prior, prior_value_centi,
           CASE WHEN last_prior_ms IS NOT NULL
                THEN lts - last_prior_ms END AS recency_ms
    FROM pf_p
    """,
)
def events_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — THE feature-store
    operator: for every label row (a purchase), the user's activity
    features computed from events STRICTLY BEFORE the label timestamp
    (count, value sum, recency). The strict `<` is the leakage
    contract: a feature computed at-or-after the label time trains a
    model on its own answer. Exact centi integers throughout.

    100 TB shape: the features are RUNNING WINDOW aggregates over each
    user's time-ordered stream (RANGE UNBOUNDED PRECEDING → 1
    PRECEDING on the millisecond key — strictly-before by VALUE, so
    same-timestamp rows are excluded exactly as `<` demands), then the
    label rows filter out. ONE shuffle on user_id, linear in events.
    The obvious label⋈history equi-join is NOT used: its fan-out is
    labels/user × events/user — quadratic in per-user density (the
    x100 ladder measured it into executor OOM at ~13e9 joined rows
    before this rewrite). At deployment scale the window form also
    degrades gracefully into the pre-aggregated daily-partials
    ``asof_join`` when full history exceeds a partition."""
    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("centi"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    feat = base.select(
        "event_id",
        "user_id",
        "event_type",
        "ms",
        "centi",
        F.count(F.lit(1)).over(w).cast("long").alias("n_prior"),
        F.coalesce(F.sum("centi").over(w), F.lit(0))
        .cast("long")
        .alias("prior_value_centi"),
        F.max("ms").over(w).alias("last_prior_ms"),
    )
    return feat.filter(
        (F.col("event_type") == "purchase") & F.col("centi").isNotNull()
    ).select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("centi").alias("label_centi"),
        "n_prior",
        "prior_value_centi",
        F.expr("CASE WHEN last_prior_ms IS NOT NULL THEN ms - last_prior_ms END")
        .cast("long")
        .alias("recency_ms"),
    )


@register(
    "events_negative_samples",
    f"""
    WITH ns_i AS (
        SELECT DISTINCT user_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item
        FROM events),
    ns_items AS (SELECT DISTINCT item FROM ns_i),
    ns_users AS (SELECT DISTINCT user_id FROM ns_i WHERE user_id < 40),
    ns_cand AS (
        SELECT u.user_id, i.item
        FROM ns_users u CROSS JOIN ns_items i
        WHERE NOT EXISTS (SELECT 1 FROM ns_i p
                          WHERE p.user_id = u.user_id AND p.item = i.item)),
    ns_r AS (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id ORDER BY
                   {md5_long("concat(CAST(user_id AS VARCHAR), ':', CAST(item AS VARCHAR))", salt="neg")},
                   item) AS rn
        FROM ns_cand)
    SELECT user_id, rn AS neg_rank, item AS neg_item
    FROM ns_r WHERE rn <= 3
    """,
)
def events_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    per user (audit cohort user_id < 40), 3 items the user has NEVER
    interacted with, elected by salted md5 rank — sticky across runs
    and engines (no RNG), so training sets are reproducible and
    incremental rebuilds don't churn the negatives.

    100 TB shape: the item vocabulary is the SMALL side (broadcast —
    items number thousands-to-millions while interactions number
    billions); candidates form as user × broadcast(items) minus the
    user's own interaction set (left-anti), and the per-user top-k is
    a window over ≤|items| rows per user. The md5 rank doubles as the
    uniform sampler — the same trick the token-budget sampler uses."""
    ev = load_table(spark, "events", sf_dir)
    inter = (
        ev.select(
            "user_id",
            F.from_json(F.col("props"), "k BIGINT")["k"].alias("item"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds items, users, and the anti-join
    )
    items = inter.select("item").distinct()
    users = inter.filter(F.col("user_id") < 40).select("user_id").distinct()
    cand = users.crossJoin(F.broadcast(items)).join(
        inter, ["user_id", "item"], "left_anti"
    )
    rank_expr = md5_long(
        "concat(CAST(user_id AS STRING), ':', CAST(item AS STRING))", salt="neg"
    )
    w = Window.partitionBy("user_id").orderBy(F.expr(rank_expr), F.col("item"))
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select("user_id", F.col("neg_rank").cast("long"), F.col("item").alias("neg_item"))
    )


@register(
    "dedup_simhash_hamming",
    f"""
    WITH {_simhash64_cte('sh')},
    sh_band AS (
        SELECT doc_id, simhash, t.b AS band,
               (simhash >> CAST(t.b * 16 AS INT)) & 65535 AS nib
        FROM sh_sig, range(4) t(b)),
    sh_pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(CAST(a.simhash AS BIT),
                                  CAST(b.simhash AS BIT))) AS BIGINT) AS hamming
        FROM sh_band a JOIN sh_band b
          ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM sh_pairs WHERE hamming <= 3
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pipeline (``dedup.simhash_near_dup_pairs``) —
    the Google web-dedup construction completing the ``dedup_simhash``
    signature query: 4-band slicing makes every pair within Hamming
    3 share a bucket BY PIGEONHOLE (bands−1 flips can't touch every
    band) — deterministic recall, unlike MinHash's probabilistic
    S-curve; the XOR-popcount verifier then prices each candidate.
    The third dedup family alongside MinHash-Jaccard and embedding
    SemDeDup: token-permutation-sensitive, cheap (one BIGINT/doc).

    Scale: projection signature, (band, slice) equi-join (Σ bucket²),
    one popcount per candidate — no all-pairs anywhere. The 64-bit
    two-md5-word signature with 16-bit bands (the production Google
    parameters, 65,536 values per band) replaced the round-4 32-bit/
    4-bit-nibble form whose 16-value bands made Σ bucket²
    structurally quadratic past ~10⁵ docs (its x100 ladder rung
    died; the wide form's completes — PERFORMANCE.md). The corpus is
    hash-spread before the signature projection: the two-digest
    64-way parity fold is the dominant CPU stage, and a small-file
    scan would otherwise run it on a handful of tasks."""
    docs = load_table(spark, "documents", sf_dir)
    return dd.simhash_near_dup_pairs(
        docs, bits=64, bands=4, max_hamming=3,
        num_partitions=spark.sparkContext.defaultParallelism,
    )


@register(
    "corpus_source_overlap",
    """
    WITH so_g AS (
        SELECT DISTINCT source, unnest(list_distinct(list_transform(
            range(greatest(len(string_split(text, ' ')) - 2, 1)),
            i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3],
                                 chr(31))))) AS gram
        FROM documents),
    so_n AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        FROM so_g GROUP BY 1),
    so_x AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM so_g a JOIN so_g b
          ON a.gram = b.gram AND a.source <> b.source
        GROUP BY 1, 2)
    SELECT x.source_a, x.source_b, na.n_grams AS grams_a, x.n_shared,
           (1000000 * x.n_shared) // na.n_grams AS containment_ppm
    FROM so_x x JOIN so_n na ON na.source = x.source_a
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source
    pair, how much of source A's distinct 3-gram vocabulary also
    appears in source B (directional containment, ppm) — the release-
    audit table that catches one crawl re-ingesting another (and the
    source-level sibling of ``docs_decontaminate``'s eval-set check).

    100 TB shape: gram sets collapse to DISTINCT (source, gram) rows
    first (a partial-agg scan), then the pair counting is an EQUI-join
    on the gram — per-gram cost is (sources sharing it)², bounded by
    the SOURCE COUNT (dozens), never by corpus size. Marginals
    broadcast back onto the |sources|²-row matrix."""
    docs = load_table(spark, "documents", sf_dir)
    # the 3-gram explode is this query's dominant CPU and runs on the
    # scan's splits — ONE task at bench SFs (event-log profile: a
    # single task owned 3.2 s of the 6.3 s wall). 64 KB/task, not the
    # 2 MiB projection default: the explode amplifies each input byte
    # ~20x (per-position gram strings) before the distinct's map side
    # (round-10, guide §2.5 input skew)
    spread = spread_partitions(spark, docs, target_bytes=64 * 1024)
    if spread:
        docs = docs.repartition(spread, "doc_id")
    # ONE gram-keyed exchange instead of distinct + a gram self-join
    # (round 10): collect_set(source) per gram dedups (source, gram)
    # map-side AND replaces the join outright — the source set per
    # gram is bounded by the SOURCE COUNT (dozens), so the ordered
    # pairs explode from each set with no shuffle of gram strings
    # beyond the single aggregation. The x100 profile of the join form
    # showed the gram stream crossing three exchanges (distinct + both
    # join legs) with executor-memory pressure stalling between
    # stages.
    gram_sources = (
        docs.select(
            "source",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, greatest(size(split(text, ' ')) - 3, 0)),"
                        " i -> array_join(slice(split(text, ' '), i + 1, 3),"
                        " chr(31)))"
                    )
                )
            ).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.collect_set("source").alias("srcs"))
        .select("srcs")
        .localCheckpoint(eager=False)  # feeds pair counts AND marginals
    )
    marg = (
        gram_sources.select(F.explode("srcs").alias("source_a"))
        .groupBy("source_a")
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    )
    shared = (
        gram_sources.select(F.explode("srcs").alias("source_a"), "srcs")
        .select("source_a", F.explode("srcs").alias("source_b"))
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return shared.join(F.broadcast(marg), "source_a").select(
        "source_a",
        "source_b",
        F.col("n_grams").alias("grams_a"),
        "n_shared",
        F.expr("(1000000 * n_shared) DIV n_grams")
        .cast("long")
        .alias("containment_ppm"),
    )


@register(
    "events_score_calibration",
    """
    WITH ca_c AS (
        SELECT event_id, user_id, epoch_ms(ts) AS cts,
               CAST(json_extract(props, '$.k') AS BIGINT) AS score
        FROM events WHERE event_type = 'click'),
    ca_p AS (
        SELECT user_id, epoch_ms(ts) AS pts
        FROM events WHERE event_type = 'purchase'),
    ca_o AS (
        SELECT c.event_id, c.score,
               max(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS y
        FROM ca_c c LEFT JOIN ca_p p
          ON p.user_id = c.user_id
         AND p.pts > c.cts AND p.pts <= c.cts + 86400000
        GROUP BY 1, 2)
    SELECT score // 10 AS decile,
           CAST(count(*) AS BIGINT) AS n_clicks,
           (10 * CAST(sum(score) AS BIGINT)) // count(*) AS mean_score_pml,
           CAST(sum(y) AS BIGINT) AS converted,
           (1000 * CAST(sum(y) AS BIGINT)) // count(*) AS conv_rate_pml,
           CAST(sum((score - 100 * y) * (score - 100 * y)) AS BIGINT)
               // count(*) AS brier_p4
    FROM ca_o GROUP BY 1
    """,
)
def events_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-score calibration (reliability diagram): clicks carry a
    0–99 score (``props.k`` standing in for a CTR model's output);
    outcome = the user purchases within 24h. Per score decile: volume,
    mean score vs realized conversion rate (both per-mille — a
    calibrated model has them equal), and the decile Brier score in
    1e-4 units — the eval table that decides whether scores need
    recalibration (Platt/isotonic) before they gate traffic.

    All-integer arithmetic; the outcome probe is a BOUNDED-RANGE
    WINDOW over each user's merged click/purchase stream (next
    purchase in (cts, cts+24h] via RANGE 1 FOLLOWING → 24h FOLLOWING)
    — ONE shuffle on user_id, linear in events. The obvious
    click⋈purchase user join is NOT used: Spark materializes the full
    per-user cross product before the time filter — the x100 ladder
    measured it 50.8x super-linear (2.7e9 intermediate rows) before
    this rewrite, the same per-user-density trap the PIT join hit.
    Deciles are a 10-row table; nothing bigger moves."""
    ev = load_table(spark, "events", sf_dir)
    stream = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        (F.col("event_type") == "purchase").alias("is_buy"),
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("score"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(1, DAY_MS)
    )
    outcomes = (
        stream.withColumn(
            "next_buy_ms",
            F.min(F.when(F.col("is_buy"), F.col("ms"))).over(w),
        )
        .filter(~F.col("is_buy"))
        .select(
            "event_id",
            "score",
            F.col("next_buy_ms").isNotNull().cast("int").alias("y"),
        )
    )
    return (
        outcomes.groupBy(F.expr("score DIV 10").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.expr("(10 * CAST(sum(score) AS BIGINT)) DIV count(*)")
            .cast("long")
            .alias("mean_score_pml"),
            F.sum("y").cast("long").alias("converted"),
            F.expr("(1000 * CAST(sum(y) AS BIGINT)) DIV count(*)")
            .cast("long")
            .alias("conv_rate_pml"),
            F.expr(
                "CAST(sum((score - 100 * y) * (score - 100 * y)) AS BIGINT)"
                " DIV count(*)"
            )
            .cast("long")
            .alias("brier_p4"),
        )
    )


def _pca_oracle(iters: int = 15) -> str:
    """Unrolled integer power iteration over the exact covariance
    matrix. Every step is MATERIALIZED (each referenced twice — the
    markov-oracle lesson); all arithmetic is HUGEINT with floor `//`,
    mirroring the Spark driver's Python ints bit-for-bit."""
    head = """
    WITH pc_e AS (
        SELECT vec_id, t.i,
               CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0)
                    AS BIGINT) AS x
        FROM embeddings, range(64) t(i)
        WHERE embedding IS NOT NULL AND len(embedding) = 64),
    pc_m AS (
        SELECT i, CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) // count(*) AS mi
        FROM pc_e GROUP BY i),
    pc_c AS (
        SELECT vec_id, e.i, CAST(e.x AS HUGEINT) - m.mi AS cx
        FROM pc_e e JOIN pc_m m ON e.i = m.i),
    pc_cov AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j,
               CAST(sum(a.cx * b.cx) AS HUGEINT) AS cij
        FROM pc_c a JOIN pc_c b ON a.vec_id = b.vec_id
        GROUP BY 1, 2),
    pc_v0 AS (SELECT i, CAST(1000000000 AS HUGEINT) AS v
              FROM range(64) t(i))"""
    parts = [head]
    for k in range(1, iters + 1):
        parts.append(
            f""",
    pc_u{k} AS MATERIALIZED (
        SELECT c.i, CAST(sum(c.cij * v.v) AS HUGEINT) AS u
        FROM pc_cov c JOIN pc_v{k - 1} v ON c.j = v.i GROUP BY 1),
    pc_x{k} AS (SELECT greatest(max(abs(u)) // 1000000000, 1) AS d
                FROM pc_u{k}),
    pc_v{k} AS MATERIALIZED (
        SELECT u.i, u.u // x.d AS v FROM pc_u{k} u, pc_x{k} x)"""
        )
    parts.append(
        f""",
    pc_w AS MATERIALIZED (SELECT i, v // 1000 AS w FROM pc_v{iters}),
    pc_num AS (
        SELECT CAST(sum(a.w * c.cij * b.w) AS HUGEINT) AS num
        FROM pc_cov c JOIN pc_w a ON c.i = a.i JOIN pc_w b ON c.j = b.i),
    pc_den AS (SELECT CAST(sum(w * w) AS HUGEINT) AS den FROM pc_w),
    pc_tr AS (SELECT CAST(sum(cij) AS HUGEINT) AS tr FROM pc_cov WHERE i = j),
    pc_lam AS (SELECT num // den AS lam FROM pc_num, pc_den),
    pc_top AS (
        SELECT i, v, row_number() OVER (ORDER BY abs(v) DESC, i) AS rnk
        FROM pc_v{iters})
    SELECT CAST(t.rnk AS BIGINT) AS rnk, CAST(t.i AS BIGINT) AS dim,
           CAST(t.v AS BIGINT) AS loading_e9,
           CAST((1000000 * l.lam) // r.tr AS BIGINT) AS explained_ppm
    FROM pc_top t, pc_lam l, pc_tr r WHERE t.rnk <= 3"""
    )
    return "".join(parts)


@register("emb_pca_power_iteration", _pca_oracle())
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration in EXACT integer arithmetic: centered 1e-7-unit
    coordinates, the 64×64 covariance as exact HUGEINT/DECIMAL sums
    (order-free — a float covariance differs run to run at this
    scale), then 15 max-norm-rescaled integer matvec steps. Output:
    the 3 heaviest loading dims and the explained-variance share
    (Rayleigh quotient over trace, ppm) — the corpus-anisotropy gauge
    (a dominant component ⇒ embeddings collapse toward a direction;
    whitening or re-normalization is indicated before cosine search).

    100 TB shape: the covariance is MAP-SIDE Gram accumulation — an
    Arrow-batched ``mapInPandas`` stage computes the exact-integer
    Xᵀ·X partial of each partition (int64 matmul per ≤8192-row chunk,
    Python-int accumulation across chunks, so nothing ever overflows)
    plus the per-dim coordinate sums and the row count, and emits ONE
    64×64+64+1-row partial per partition; the only shuffle carries
    those ~4161 rows per partition into the final decimal(38,0) sum
    (round 9: the separate mean-aggregation pass is folded into this
    one — centering happens driver-side via the exact integer
    identity, see the inline comment).
    The round-4 plan was a per-vector 64×64 self-join that shuffled
    the exploded coordinate table TWICE and materialized 4096 join
    rows per vector (measured 7.1× wall at x10 on the ladder, x100
    died) — this form replaces both exchanges with per-partition
    matmuls. Quantization (round → long) happens Spark-side BEFORE
    the UDF so HALF_UP semantics match the oracle; numpy's half-even
    round never runs. The matrix itself is dimension²-bounded — the
    driver-side iteration is the IVF-centroid bounded-collect
    pattern; the oracle unrolls the same 15 steps as MATERIALIZED
    CTEs. Signed division is TRUNCATED toward zero everywhere:
    DuckDB's integer `//` truncates (only its float `//` floors — the
    ADVICE r3 case), so the driver loop uses an explicit trunc-div
    rather than Python's floor `//`."""
    import numpy as _np
    import pandas as pd

    dims = 64
    emb = load_table(spark, "embeddings", sf_dir)
    # Spark-side quantization: array<long> of 1e-7-unit coordinates.
    # NULL / wrong-arity vectors are excluded up front — np.stack in
    # the Gram stage needs rectangular input (the old posexplode form
    # silently dropped NULL arrays; this is the same tolerance made
    # explicit, and it keeps them out of the mean denominator too).
    # The oracle's pc_e CTE mirrors the same WHERE so both sides pin
    # the tolerance rather than depending on clean fixtures (ADVICE r5).
    xs = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == dims)
    ).select(
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * 10000000.0).cast("long"),
        ).alias("xs")
    )
    def tdiv(a: int, b: int) -> int:
        # truncate-toward-zero division: DuckDB's integer `//` and
        # Spark's DIV both truncate; Python's // floors — mirror them
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    # Round-9 (guide §1.2: fewer passes): ONE corpus scan instead of
    # two. The old plan ran a mean-aggregation job, collected the 64
    # sums, then a second full scan computed the centered Gram with
    # the means baked in. The uncentered Gram, the per-dim sums and
    # the count are all partial-aggregable in the SAME pass, and the
    # centered covariance follows driver-side from the exact integer
    # identity  Σ(xi−mi)(xj−mj) = Gij − mi·sj − mj·si + n·mi·mj
    # (every term an exact integer; mi is the same truncated mean the
    # old mean-job produced, so C is bit-identical — verified against
    # the two-pass form on the full fixture).
    def gram_partials(batches):
        # Exact-integer Xᵀ·X per partition: int64 matmul per chunk,
        # Python-int accumulation across chunks (unbounded, exact);
        # one 4096-row decimal partial + 64 sum rows + 1 count row
        # emitted per partition (sums ride as i=-1, count as i=-2).
        acc = [[0] * dims for _ in range(dims)]
        sums = [0] * dims
        n_part = 0
        # int64-safety bound for the chunk.T @ chunk below: each Gram
        # cell sums ≤8192 products, so it stays under 2^63 iff every
        # coordinate |x| < sqrt(2^63 / 8192) ≈ 3.355e7. numpy int64
        # overflow is SILENT — guard loudly so a domain change
        # (non-normalized embeddings, |val| > ~3.3) fails instead of
        # corrupting the covariance (ADVICE r5).
        x_bound = 33_000_000
        for pdf in batches:
            stacked = _np.stack(pdf["xs"].to_numpy()).astype("int64")
            for lo in range(0, stacked.shape[0], 8192):
                chunk = stacked[lo : lo + 8192]
                x_max = int(_np.abs(chunk).max(initial=0))
                if x_max >= x_bound:
                    raise ValueError(
                        "pca gram: coordinate %d exceeds the int64-safe "
                        "bound %d (embedding values must stay within "
                        "~±3.3); widen the accumulator before trusting "
                        "results" % (x_max, x_bound)
                    )
                g = chunk.T @ chunk
                n_part += chunk.shape[0]
                # column sums fit int64 (≤8192·3.3e7 per chunk);
                # accumulate exactly as Python ints
                csum = chunk.sum(axis=0)
                for i in range(dims):
                    sums[i] += int(csum[i])
                    row = acc[i]
                    gi = g[i]
                    for j in range(dims):
                        row[j] += int(gi[j])
        if n_part:
            from decimal import Decimal

            yield pd.DataFrame(
                {
                    "i": [i for i in range(dims) for _ in range(dims)]
                    + [-1] * dims
                    + [-2],
                    "j": list(range(dims)) * dims + list(range(dims)) + [0],
                    "cij": [
                        Decimal(acc[i][j])
                        for i in range(dims)
                        for j in range(dims)
                    ]
                    + [Decimal(s) for s in sums]
                    + [Decimal(n_part)],
                }
            )

    cov_rows = (
        xs.mapInPandas(gram_partials, "i int, j int, cij decimal(38,0)")
        .groupBy("i", "j")
        .agg(F.sum("cij").alias("cij"))
        .collect()
    )  # bounded: exactly 64x64 + 64 + 1 rows regardless of corpus size
    parts = {(r["i"], r["j"]): int(r["cij"]) for r in cov_rows}
    n_vecs = parts[(-2, 0)]
    s = [parts[(-1, j)] for j in range(dims)]
    mi = [tdiv(s[i], n_vecs) for i in range(dims)]
    cov = {
        (i, j): parts[(i, j)]
        - mi[i] * s[j]
        - mi[j] * s[i]
        + n_vecs * mi[i] * mi[j]
        for i in range(dims)
        for j in range(dims)
    }

    v = [10**9] * dims
    for _ in range(15):
        u = [0] * dims
        for (i, j), cij in cov.items():
            u[i] += cij * v[j]
        d = max(max(abs(x) for x in u) // 10**9, 1)
        v = [tdiv(x, d) for x in u]
    w = [tdiv(x, 1000) for x in v]
    num = sum(w[i] * cij * w[j] for (i, j), cij in cov.items())
    den = sum(x * x for x in w)
    tr = sum(cov[(i, i)] for i in range(dims))
    lam = tdiv(num, den)
    explained_ppm = (1000000 * lam) // tr
    top = sorted(range(dims), key=lambda i: (-abs(v[i]), i))[:3]
    rows = [
        (rnk + 1, i, v[i], explained_ppm) for rnk, i in enumerate(top)
    ]
    return spark.createDataFrame(
        rows, "rnk long, dim long, loading_e9 long, explained_ppm long"
    )


@register(
    "events_entropy_by_type",
    """
    WITH en_c AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    en_t AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n_items
        FROM en_c GROUP BY 1)
    SELECT c.event_type, t.n_items, t.tot AS n_events,
           CAST(round(sum(CAST(round(
               -1.0 * (CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
               * ln(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)), 9)
               AS DECIMAL(20,9))) * 1000000) AS BIGINT) AS entropy_unats,
           CAST(round(ln(CAST(t.n_items AS DOUBLE)) * 1000000) AS BIGINT)
               AS max_entropy_unats
    FROM en_c c JOIN en_t t USING (event_type)
    GROUP BY c.event_type, t.n_items, t.tot
    """,
)
def events_entropy_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the item distribution per event type (micro-
    nats), next to its ln(k) ceiling — the diversity gauge that
    catches a traffic mix collapsing onto a few items (feed loops,
    bot floods) before top-k charts show it. Per-item contributions
    round-then-DECIMAL-sum (order-free, the ndcg/PSI pattern).

    100 TB shape: one (type, item) partial-agg scan; entropy reduces
    the bounded item histogram, never raw rows."""
    ev = load_table(spark, "events", sf_dir)
    c = (
        ev.select(
            "event_type",
            F.from_json(F.col("props"), "k BIGINT")["k"].alias("item"),
        )
        .groupBy("event_type", "item")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # the bounded histogram feeds the totals AND the contrib join —
        # stage it once so the raw scan never re-runs (the PSI lesson)
        .localCheckpoint(eager=False)
    )
    t = c.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    return (
        c.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "n_items",
            F.col("tot").alias("n_events"),
            F.round(-p * F.log(p), 9).cast("decimal(20,9)").alias("contrib"),
        )
        .groupBy("event_type", "n_items", "n_events")
        .agg(
            F.round(F.sum("contrib") * 1000000).cast("long").alias(
                "entropy_unats"
            )
        )
        .withColumn(
            "max_entropy_unats",
            F.round(F.log(F.col("n_items").cast("double")) * 1000000).cast(
                "long"
            ),
        )
    )


@register(
    "events_kmv_user_overlap",
    f"""
    WITH ko_dv AS MATERIALIZED (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
        FROM events WHERE user_id IS NOT NULL),
    ko_h AS (SELECT event_type, u, {md5_long("u", 12)} AS h FROM ko_dv),
    ko_sk AS MATERIALIZED (
        SELECT event_type, u, h FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY h, u) AS rn
            FROM ko_h) WHERE rn <= 32),
    ko_p AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM (SELECT DISTINCT event_type FROM ko_sk) a
        JOIN (SELECT DISTINCT event_type FROM ko_sk) b
          ON a.event_type < b.event_type),
    ko_u AS (
        SELECT DISTINCT ta, tb, u, h FROM (
            SELECT p.ta, p.tb, s.u, s.h FROM ko_p p
            JOIN ko_sk s ON s.event_type = p.ta
            UNION ALL
            SELECT p.ta, p.tb, s.u, s.h FROM ko_p p
            JOIN ko_sk s ON s.event_type = p.tb)),
    ko_k AS MATERIALIZED (
        SELECT ta, tb, u, h, rn FROM (
            SELECT *, row_number() OVER (
                PARTITION BY ta, tb ORDER BY h, u) AS rn
            FROM ko_u) WHERE rn <= 32),
    ko_m AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS m
        FROM ko_k k
        WHERE EXISTS (SELECT 1 FROM ko_sk s
                      WHERE s.event_type = k.ta AND s.u = k.u)
          AND EXISTS (SELECT 1 FROM ko_sk s
                      WHERE s.event_type = k.tb AND s.u = k.u)
        GROUP BY 1, 2),
    ko_per AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_in,
               max(CASE WHEN rn = 32 THEN h END) AS kth
        FROM ko_k GROUP BY 1, 2),
    ko_sz AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM ko_dv GROUP BY 1),
    ko_in AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(count(*) AS BIGINT) AS ei
        FROM ko_dv a JOIN ko_dv b
          ON a.u = b.u AND a.event_type < b.event_type
        GROUP BY 1, 2)
    SELECT p.ta AS type_a, p.tb AS type_b, per.n_in,
           CAST(coalesce(m.m, 0) AS BIGINT) AS sketch_matches,
           CAST(CASE WHEN per.n_in < 32 THEN per.n_in
                ELSE (31 * CAST({16 ** 12} AS BIGINT)) // per.kth END
                AS BIGINT) AS union_est,
           (1000 * coalesce(m.m, 0)) // least(per.n_in, 32)
               AS jaccard_est_pml,
           CASE WHEN sa.n_users + sb.n_users - coalesce(i.ei, 0) > 0
                THEN (1000 * coalesce(i.ei, 0))
                     // (sa.n_users + sb.n_users - coalesce(i.ei, 0)) END
               AS jaccard_exact_pml
    FROM ko_p p
    JOIN ko_per per ON per.ta = p.ta AND per.tb = p.tb
    LEFT JOIN ko_m m ON m.ta = p.ta AND m.tb = p.tb
    JOIN ko_sz sa ON sa.event_type = p.ta
    JOIN ko_sz sb ON sb.event_type = p.tb
    LEFT JOIN ko_in i ON i.ta = p.ta AND i.tb = p.tb
    """,
)
def events_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS — what makes bottom-k sketches an
    audience-overlap engine: per event-type pair, the union sketch
    re-elects the bottom-k of the two sketches' rows (no corpus
    rescan — mergeability is the theta-sketch contract) and Jaccard ≈
    |K(A∪B) ∩ K(A) ∩ K(B)| / k, all on 32-row structures however many
    billions of users flowed through. The exact Jaccard rides
    alongside as the accuracy gauge (the dedup_minhash_accuracy
    discipline: measure the estimator, don't trust the theory).

    100 TB shape: sketches build in one partial-agg pass per type
    (the events_kmv_distinct shape); all pairwise math runs on
    |types|²·k-row frames. The exact columns are the local audit — a
    deployment drops them and keeps the sketch math."""
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    dv = (
        ev.filter(F.col("user_id").isNotNull())
        .select("event_type", F.col("user_id").cast("string").alias("u"))
        .distinct()
        .localCheckpoint(eager=False)  # sketches + sizes + exact audit
    )
    h = F.expr(md5_long("u", 12))
    wsk = W.partitionBy("event_type").orderBy("h", "u")
    sketch = (
        dv.withColumn("h", h)
        .withColumn("rn", F.row_number().over(wsk))
        .filter(F.col("rn") <= 32)
        .drop("rn")
        .localCheckpoint(eager=False)  # pairs + two union legs + probes
    )
    types = sketch.select("event_type").distinct()
    pairs = types.select(F.col("event_type").alias("ta")).join(
        types.select(F.col("event_type").alias("tb")),
        F.col("ta") < F.col("tb"),
    )
    leg = lambda side: pairs.join(  # noqa: E731
        sketch, sketch["event_type"] == pairs[side]
    ).select("ta", "tb", "u", "h")
    wp = W.partitionBy("ta", "tb").orderBy("h", "u")
    kab = (
        leg("ta")
        .unionByName(leg("tb"))
        .distinct()
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 32)
        .localCheckpoint(eager=False)  # membership probe + per-pair stats
    )
    in_a = sketch.select(F.col("event_type").alias("ta"), "u")
    in_b = sketch.select(F.col("event_type").alias("tb"), "u")
    matches = (
        kab.join(in_a, ["ta", "u"], "left_semi")
        .join(in_b, ["tb", "u"], "left_semi")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    per = kab.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("n_in"),
        F.max(F.when(F.col("rn") == 32, F.col("h"))).alias("kth"),
    )
    sizes = dv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    inter = (
        dv.select(F.col("event_type").alias("ta"), "u")
        .join(dv.select(F.col("event_type").alias("tb"), "u"), "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("ei"))
    )
    scale = 16**12
    return (
        per.join(F.broadcast(matches), ["ta", "tb"], "left")
        .join(
            F.broadcast(
                sizes.select(F.col("event_type").alias("ta"), F.col("n_users").alias("na"))
            ),
            "ta",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("event_type").alias("tb"), F.col("n_users").alias("nb"))
            ),
            "tb",
        )
        .join(F.broadcast(inter), ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_in",
            F.coalesce(F.col("m"), F.lit(0)).cast("long").alias("sketch_matches"),
            F.expr(
                f"CAST(CASE WHEN n_in < 32 THEN n_in"
                f" ELSE (31 * CAST({scale} AS BIGINT)) DIV kth END AS BIGINT)"
            ).alias("union_est"),
            F.expr("(1000 * coalesce(m, 0)) DIV least(n_in, 32)")
            .cast("long")
            .alias("jaccard_est_pml"),
            F.expr(
                "CASE WHEN na + nb - coalesce(ei, 0) > 0 THEN"
                " (1000 * coalesce(ei, 0)) DIV (na + nb - coalesce(ei, 0)) END"
            )
            .cast("long")
            .alias("jaccard_exact_pml"),
        )
    )


@register(
    "text_wordpiece_fertility",
    tx.wordpiece_oracle_sql().replace(
        "SELECT w AS word,",
        "SELECT w AS word_unused,",  # placeholder; full oracle set below
    ),
)
def text_wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility of the WordPiece vocab per language: mean
    pieces per RUNNING word (frequency-weighted — a rare 5-piece word
    barely moves it; a common one dominates), the number that prices a
    vocab against a corpus (fertility ↑ ⇒ sequences lengthen ⇒
    training cost ↑; the multilingual-tokenizer fairness metric).
    Companion to ``text_fertility_by_lang`` (whitespace baseline).

    100 TB shape: tokenization runs on the DISTINCT word table
    (bounded), then broadcasts back onto the (lang, word) frequency
    aggregate — the corpus is scanned once for counts and never sees
    the 10-stage fold."""
    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    words = wc.select("w").distinct()
    wp = tx.wordpiece_tokenize_words(words).select(
        F.col("word").alias("w"), "n_pieces"
    )
    return (
        wc.join(F.broadcast(wp), "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_pieces")).cast("long").alias(
                "n_pieces_total"
            ),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces_total",
            F.expr("(1000000 * n_pieces_total) DIV n_words")
            .cast("long")
            .alias("fertility_ppm"),
        )
    )


QUERIES["text_wordpiece_fertility"] = QuerySpec(
    QUERIES["text_wordpiece_fertility"].fn,
    tx.wordpiece_oracle_sql()
    .replace(
        "wp_w AS (SELECT DISTINCT t AS w FROM (SELECT unnest(string_split(text,"
        " ' ')) AS t FROM documents) WHERE t <> '')",
        "wf_wc AS MATERIALIZED (SELECT lang, t AS w, CAST(count(*) AS BIGINT)"
        " AS cnt FROM (SELECT lang, unnest(string_split(text, ' ')) AS t"
        " FROM documents) WHERE t <> '' GROUP BY 1, 2),\n    "
        "wp_w AS (SELECT DISTINCT w FROM wf_wc)",
    )
    .replace(
        "SELECT w AS word, toks10 AS pieces, "
        "CAST(length(toks10) - length(replace(toks10, ' ', '')) + 1 AS BIGINT)"
        " AS n_pieces FROM lvl10",
        "SELECT c.lang, CAST(sum(c.cnt) AS BIGINT) AS n_words,"
        " CAST(sum(c.cnt * (length(l.toks10) - length(replace(l.toks10, ' ',"
        " '')) + 1)) AS BIGINT) AS n_pieces_total,"
        " (1000000 * CAST(sum(c.cnt * (length(l.toks10) -"
        " length(replace(l.toks10, ' ', '')) + 1)) AS BIGINT))"
        " // CAST(sum(c.cnt) AS BIGINT) AS fertility_ppm"
        " FROM lvl10 l JOIN wf_wc c ON c.w = l.w GROUP BY c.lang",
    ),
)


@register(
    "events_covisitation_eval",
    """
    WITH cv2_i AS MATERIALIZED (
        SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item,
               CAST(min(epoch_ms(ts)) AS BIGINT) AS first_ms
        FROM events GROUP BY 1, 2),
    cv2_cut AS (
        SELECT min(first_ms) + 4 * (max(first_ms) - min(first_ms)) // 5
            AS cutoff FROM cv2_i),
    cv2_tr AS MATERIALIZED (
        SELECT user_id, item FROM cv2_i, cv2_cut WHERE first_ms < cutoff),
    cv2_te AS (
        SELECT i.user_id, i.item FROM cv2_i i, cv2_cut c
        WHERE i.first_ms >= c.cutoff
          AND EXISTS (SELECT 1 FROM cv2_tr t WHERE t.user_id = i.user_id)
          AND NOT EXISTS (SELECT 1 FROM cv2_tr t
                          WHERE t.user_id = i.user_id AND t.item = i.item)),
    cv2_n AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cv2_tr GROUP BY 1),
    cv2_nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM cv2_tr),
    cv2_p AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM cv2_tr a JOIN cv2_tr b
          ON a.user_id = b.user_id AND a.item <> b.item
        GROUP BY 1, 2),
    cv2_r AS MATERIALIZED (
        SELECT item_a, item_b FROM (
            SELECT p.item_a, p.item_b,
                   row_number() OVER (PARTITION BY p.item_a ORDER BY
                       (1000000 * p.n_ab * t.nu) // (na.n * nb.n) DESC,
                       p.n_ab DESC, p.item_b) AS rnk
            FROM cv2_p p
            JOIN cv2_n na ON na.item = p.item_a
            JOIN cv2_n nb ON nb.item = p.item_b
            CROSS JOIN cv2_nu t
            WHERE p.n_ab >= 3) WHERE rnk <= 5),
    cv2_cand AS (
        SELECT DISTINCT t.user_id, r.item_b AS item
        FROM cv2_tr t JOIN cv2_r r ON r.item_a = t.item
        WHERE NOT EXISTS (SELECT 1 FROM cv2_tr x
                          WHERE x.user_id = t.user_id AND x.item = r.item_b))
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           (1000 * CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT)) // count(*) AS hit_rate_pml,
           CAST(count(DISTINCT te.user_id) AS BIGINT) AS n_users
    FROM cv2_te te LEFT JOIN cv2_cand c
      ON c.user_id = te.user_id AND c.item = te.item
    """,
)
def events_covisitation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline eval of the covisitation recommender — the loop that
    decides whether the recs ship: interactions split at the 80% time
    point, the item-item top-5 trains on the past only, and every
    FUTURE first-time (user, item) interaction scores a hit if the
    item was in the union of recs of the user's training items (their
    own training items excluded — recommending what you already did
    is not a rec). Temporal split, not random: random splits leak
    future co-occurrence into training, inflating hit-rate — the
    recsys leakage trap (same contract as events_pit_features).

    100 TB shape: same bounded shapes as the production query
    (distinct collapse, user-keyed pair join, per-item top-5) plus a
    candidate expansion bounded by |train items/user|·5; the final
    readout is one row."""
    ev = load_table(spark, "events", sf_dir)
    inter = (
        ev.select(
            "user_id",
            F.from_json(F.col("props"), "k BIGINT")["k"].alias("item"),
            F.unix_millis("ts").alias("ms"),
        )
        .groupBy("user_id", "item")
        .agg(F.min("ms").cast("long").alias("first_ms"))
        .localCheckpoint(eager=False)
    )
    cut = inter.agg(
        F.expr(
            "min(first_ms) + 4 * (max(first_ms) - min(first_ms)) DIV 5"
        ).alias("cutoff")
    )
    withcut = inter.crossJoin(F.broadcast(cut))
    train = (
        withcut.filter(F.col("first_ms") < F.col("cutoff"))
        .select("user_id", "item")
        .localCheckpoint(eager=False)
    )
    test = (
        withcut.filter(F.col("first_ms") >= F.col("cutoff"))
        .select("user_id", "item")
        .join(train.select("user_id").distinct(), "user_id", "left_semi")
        .join(train, ["user_id", "item"], "left_anti")
    )
    marg = train.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    nu = train.agg(F.countDistinct("user_id").cast("long").alias("nu"))
    a = train.select(F.col("user_id").alias("u"), F.col("item").alias("item_a"))
    b = train.select(F.col("user_id").alias("u2"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.col("item_a") != F.col("item_b")))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    w = Window.partitionBy("item_a").orderBy(
        F.expr("(1000000 * n_ab * nu) DIV (na * nb)").desc(),
        F.col("n_ab").desc(),
        F.col("item_b"),
    )
    recs = (
        pairs.join(
            F.broadcast(marg.select(F.col("item").alias("item_a"), F.col("n").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col("item").alias("item_b"), F.col("n").alias("nb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(nu))
        .filter(F.col("n_ab") >= 3)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("item_a", "item_b")
    )
    cand = (
        train.join(F.broadcast(recs), train["item"] == recs["item_a"])
        .select("user_id", F.col("item_b").alias("item"))
        .distinct()
        .join(train, ["user_id", "item"], "left_anti")
    )
    return (
        test.join(
            cand.withColumn("hit", F.lit(1)), ["user_id", "item"], "left"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.expr(
                "(1000 * CAST(sum(coalesce(hit, 0)) AS BIGINT)) DIV count(*)"
            )
            .cast("long")
            .alias("hit_rate_pml"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@register(
    "events_l_diversity",
    """
    WITH ld_q AS (
        SELECT event_type,
               (epoch_ms(ts) // 3600000) % 24 AS hour_of_day,
               CAST(floor(value / 50.0) AS BIGINT) AS value_band,
               CAST(json_extract(props, '$.k') AS BIGINT) AS sensitive
        FROM events WHERE value IS NOT NULL),
    ld_g AS (
        SELECT event_type, hour_of_day, value_band,
               CAST(count(*) AS BIGINT) AS sz,
               CAST(count(DISTINCT sensitive) AS BIGINT) AS l
        FROM ld_q GROUP BY 1, 2, 3)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_groups,
           min(l) AS min_l,
           CAST(count(*) FILTER (l < 3) AS BIGINT) AS groups_below_l,
           CAST(coalesce(sum(sz) FILTER (l < 3), 0) AS BIGINT)
               AS rows_at_risk
    FROM ld_g GROUP BY event_type
    """,
)
def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gauge (l=3) over the SAME quasi-identifier
    buckets as ``events_k_anonymity`` — the attack k-anonymity misses:
    a bucket can hold 50 rows (k-safe) that all share ONE sensitive
    value, so membership alone discloses it. Per type: buckets whose
    sensitive attribute (the props item id standing in for the
    sensitive column) shows fewer than l distinct values, and the rows
    exposed. Run both gauges before any release; suppress or
    generalize the flagged buckets.

    100 TB shape: one (QI, sensitive) two-level partial agg (the
    countDistinct expands map-side into (QI, sensitive) partials —
    never raw rows on the shuffle), then a per-type rollup of the
    bounded bucket frame."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    q = ev.select(
        "event_type",
        (F.expr("unix_millis(ts) DIV 3600000") % 24).alias("hour_of_day"),
        F.floor(F.col("value") / 50.0).cast("long").alias("value_band"),
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("sensitive"),
    )
    g = q.groupBy("event_type", "hour_of_day", "value_band").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.countDistinct("sensitive").cast("long").alias("l"),
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").alias("min_l"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
        .cast("long")
        .alias("groups_below_l"),
        F.coalesce(
            F.sum(F.when(F.col("l") < 3, F.col("sz"))), F.lit(0)
        )
        .cast("long")
        .alias("rows_at_risk"),
    )


@register(
    "events_ab_srm_check",
    f"""
    WITH sr_u AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS u,
               CASE WHEN {_AB_ARM} = 0 THEN 'A' ELSE 'B' END AS arm
        FROM events WHERE user_id IS NOT NULL),
    sr_c AS (
        SELECT CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
               CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b
        FROM sr_u)
    SELECT n_a, n_b,
           round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
           CAST(CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                          / CAST(n_a + n_b AS DOUBLE) > 3.841 THEN 1
                ELSE 0 END AS BIGINT) AS srm_flag
    FROM sr_c WHERE n_a + n_b > 0
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check — the gate every A/B readout runs
    FIRST: are the arm populations actually 50/50? Chi-square of the
    distinct-user arm counts against the designed split (for a 50/50
    design the statistic collapses to (n_a−n_b)²/(n_a+n_b)); flag at
    the 0.05 critical value 3.841. An SRM means the assignment or
    logging is broken and every downstream Welch/CUPED/DiD number on
    this experiment is invalid — which is why this is a separate gate
    and not a column on those readouts.

    One distinct-user pass (the same md5-parity arms the whole A/B
    band uses) into a 1-row conditional aggregate."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id").isNotNull())
    u = ev.select(
        F.col("user_id").cast("string").alias("u"),
        st.hash_arm("CAST(user_id AS STRING)").alias("arm"),
    ).distinct()
    c = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
    ).filter(F.col("n_a") + F.col("n_b") > 0)
    d = F.col("n_a").cast("double") - F.col("n_b").cast("double")
    tot = F.col("n_a").cast("double") + F.col("n_b").cast("double")
    chi2 = d * d / tot
    return c.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


@register(
    "parts_abc_classification",
    """
    WITH ab_r AS (
        SELECT l_partkey AS partkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem GROUP BY 1),
    ab_t AS (SELECT CAST(sum(CAST(rev AS HUGEINT)) AS HUGEINT) AS tot FROM ab_r),
    ab_c AS (
        SELECT partkey, rev,
               sum(CAST(rev AS HUGEINT)) OVER (
                   ORDER BY rev DESC, partkey) AS cum
        FROM ab_r),
    ab_k AS (
        SELECT CASE WHEN 100 * c.cum <= 80 * t.tot THEN 'A'
                    WHEN 100 * c.cum <= 95 * t.tot THEN 'B'
                    ELSE 'C' END AS abc_class,
               c.rev
        FROM ab_c c, ab_t t)
    SELECT k.abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CAST(k.rev AS HUGEINT)) AS BIGINT) AS class_rev_centi,
           CAST((1000 * sum(CAST(k.rev AS HUGEINT))) // t.tot AS BIGINT)
               AS rev_share_pml
    FROM ab_k k, ab_t t GROUP BY k.abc_class, t.tot
    """,
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: A = the head
    parts covering the first 80% of cumulative revenue, B = the next
    15%, C = the tail — the inventory-policy classic (count how few
    SKUs carry the business). Boundaries are EXACT integer
    cross-multiplications (100·cum ≤ 80·total), never float shares;
    ties on revenue break by partkey, so class membership is
    deterministic.

    100 TB shape: revenue reduces the fact ONCE (per-part partial
    agg); the cumulative share is ``stats.global_running_sum`` — a
    range-exchanged two-phase running sum with broadcast prefix
    offsets, bit-identical to ``sum() OVER (ORDER BY …)`` with no
    single-partition WindowExec. |parts| « |lineitem|, but the part
    dimension still grows with the corpus (2B parts at warehouse
    scale), so the Pareto sweep must parallelize like the ntile
    family does — not merely ride the cardinality drop."""
    li = load_table(spark, "lineitem", sf_dir)
    rev = (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            )
            .cast("long")
            .alias("rev")
        )
        .localCheckpoint(eager=False)  # total + cumulative consumers
    )
    from decaton_spark.functions.stats import global_running_sum

    tot = rev.agg(F.sum(F.col("rev").cast("decimal(38,0)")).alias("tot"))
    cum = global_running_sum(
        rev,
        order_cols=[F.col("rev").desc(), F.col("partkey")],
        value_col="rev",
        out_col="cum",
    )
    classed = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.when(100 * F.col("cum") <= 80 * F.col("tot"), "A")
            .when(100 * F.col("cum") <= 95 * F.col("tot"), "B")
            .otherwise("C")
            .alias("abc_class"),
            "rev",
            "tot",
        )
    )
    return classed.groupBy("abc_class", "tot").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("rev").cast("decimal(38,0)")).cast("long").alias(
            "class_rev_centi"
        ),
        F.expr(
            "CAST((1000 * sum(CAST(rev AS DECIMAL(38,0)))) DIV tot AS BIGINT)"
        ).alias("rev_share_pml"),
    ).drop("tot")


@register(
    "events_dau_mau_stickiness",
    """
    WITH st_ud AS MATERIALIZED (
        SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        FROM events WHERE user_id IS NOT NULL),
    st_dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM st_ud GROUP BY 1),
    st_exp AS (
        SELECT u.user_id, u.day + g.i AS grid_day
        FROM st_ud u, range(30) g(i)),
    st_mau AS (
        SELECT grid_day AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM st_exp GROUP BY 1),
    st_days AS (SELECT min(day) AS d0, max(day) AS d1 FROM st_ud)
    SELECT m.day, d.dau, m.mau,
           (1000 * d.dau) // m.mau AS stickiness_pml
    FROM st_mau m JOIN st_dau d USING (day), st_days b
    WHERE m.day >= b.d0 + 29 AND m.day <= b.d1
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the growth metric boards read
    (what share of the month's actives show up on a given day).
    Trailing-30-day actives come from the sliding-window EXPAND trick:
    each (user, day) pair contributes itself to the 30 grid days it
    stays 'monthly active' for (map-side ×30 of the DISTINCT pair
    frame, not raw events), then one two-level distinct aggregation
    per grid day. Days without a full 30-day lookback are excluded
    (partial windows misread as churn).

    100 TB shape: the raw scan collapses to (user, day) pairs FIRST
    (partial-agg distinct — pairs « events); the ×30 expansion is a
    plan constant (the sliding_window_activity shape); the distinct
    count is two-level (user partials, then count), never a
    count(DISTINCT) over an exploded raw log."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id").isNotNull())
    ud = (
        ev.select(
            "user_id", F.expr("unix_millis(ts) DIV 86400000").alias("day")
        )
        .distinct()
        .localCheckpoint(eager=False)  # dau + expand + bounds consumers
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    exp = ud.select(
        "user_id", "day", F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i")
    ).select("user_id", (F.col("day") + F.col("i")).alias("grid_day"))
    mau = (
        exp.distinct()  # two-level: (user, grid_day) partials first
        .groupBy(F.col("grid_day").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("mau"))
    )
    bounds = ud.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    return (
        mau.join(dau, "day")
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("day") >= F.col("d0") + 29) & (F.col("day") <= F.col("d1")))
        .select(
            "day",
            "dau",
            "mau",
            F.expr("(1000 * dau) DIV mau").cast("long").alias("stickiness_pml"),
        )
    )


@register(
    "events_power_user_curve",
    """
    WITH pu_u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    pu_r AS (
        SELECT n_events,
               ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile
        FROM pu_u),
    pu_t AS (
        SELECT CAST(sum(n_events) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n_users
        FROM pu_u),
    pu_d AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_users_decile,
               CAST(sum(n_events) AS BIGINT) AS events_decile
        FROM pu_r GROUP BY 1)
    SELECT d.decile, d.n_users_decile, d.events_decile,
           (1000 * d.events_decile) // t.tot AS share_pml,
           (1000 * CAST(sum(d.events_decile) OVER (ORDER BY d.decile)
                        AS BIGINT)) // t.tot AS cum_share_pml
    FROM pu_d d, pu_t t
    """,
)
def events_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user concentration curve: users ranked by activity into
    deciles (most-active first, user_id tie-break), each decile's
    share and cumulative share of all events in exact per-mille — the
    Lorenz table behind 'the top 10% of users generate X% of
    activity' (the engagement-concentration sibling of the per-nation
    Gini and the revenue ABC classes).

    100 TB shape: the fact reduces ONCE to per-user counts; the
    decile is ``stats.exact_global_ntile`` — a range-exchanged
    two-phase global rank with closed-form tile assignment,
    bit-identical to the oracle's ntile with NO single-partition
    WindowExec (the round-4 form was one task sorting the whole user
    population); the cumulative window runs over the 10-row decile
    table."""
    from decaton_spark.functions import stats as st

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    ).localCheckpoint(eager=False)  # ntile + totals consumers
    ranked = st.exact_global_ntile(
        per_user,
        n_tiles=10,
        order_cols=[F.col("n_events").desc(), F.col("user_id")],
        out_col="decile",
    )
    tot = per_user.agg(
        F.sum("n_events").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    deciles = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users_decile"),
        F.sum("n_events").cast("long").alias("events_decile"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_events", F.sum("events_decile").over(wc).cast("long")
        )
        .select(
            "decile",
            "n_users_decile",
            "events_decile",
            F.expr("(1000 * events_decile) DIV tot")
            .cast("long")
            .alias("share_pml"),
            F.expr("(1000 * cum_events) DIV tot")
            .cast("long")
            .alias("cum_share_pml"),
        )
    )


_RAKE_STOPS = "['the', 'a', 'of', 'and']"


@register(
    "text_keyphrases_rake",
    f"""
    WITH rk_tok AS (
        SELECT doc_id, u.pos AS pos, u.tok AS tok,
               CASE WHEN list_contains({_RAKE_STOPS}, u.tok)
                    THEN 1 ELSE 0 END AS is_stop
        FROM (SELECT doc_id,
                     unnest(list_transform(range(len(string_split(text, ' '))),
                        i -> {{'pos': i,
                               'tok': string_split(text, ' ')[i + 1]}})) AS u
              FROM documents)
        WHERE u.tok <> ''),
    rk_pid AS (
        SELECT doc_id, pos, tok, is_stop,
               sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        FROM rk_tok),
    rk_words AS MATERIALIZED (
        SELECT doc_id, pid, pos, tok FROM rk_pid WHERE is_stop = 0),
    rk_plen AS (
        SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
        FROM rk_words GROUP BY 1, 2),
    rk_ws AS MATERIALIZED (
        SELECT w.tok,
               (1000000 * CAST(sum(p.plen) AS BIGINT)) // count(*)
                   AS word_score_ppm
        FROM rk_words w JOIN rk_plen p
          ON w.doc_id = p.doc_id AND w.pid = p.pid
        GROUP BY 1),
    rk_ph AS MATERIALIZED (
        SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY pos) AS phrase
        FROM rk_words GROUP BY 1, 2),
    rk_occ AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM rk_ph GROUP BY 1),
    rk_score AS (
        SELECT o.phrase, o.n_occurrences,
               CAST(sum(s.word_score_ppm) AS BIGINT) AS score_ppm
        FROM rk_occ o,
             unnest(string_split(o.phrase, ' ')) AS w(tok)
        JOIN rk_ws s ON s.tok = w.tok
        GROUP BY 1, 2)
    SELECT CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase)
                AS BIGINT) AS rnk,
           phrase, n_occurrences, score_ppm
    FROM rk_score
    QUALIFY rnk <= 10
    """,
)
def text_keyphrases_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ lengths of phrases containing it —
    words keeping long company score high); a phrase scores the sum
    of its words' scores. Top-10 corpus keyphrases with occurrence
    counts — the zero-model keyword extractor for corpus cards and
    topic labeling. Scores in exact integer ppm (one DIV per word,
    integer sums per phrase).

    100 TB shape: phrase segmentation is a per-doc window (cumulative
    stopword count — bounded by document length, the tokenize-ids
    reassembly pattern); word stats and phrase scores are partial
    aggs over the (word, phrase) frames; the only global window ranks
    the bounded distinct-phrase table."""
    docs = load_table(spark, "documents", sf_dir)
    stops = ["the", "a", "of", "and"]
    tok = (
        docs.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
        )
        .filter(F.col("tok") != "")
        .withColumn("is_stop", F.col("tok").isin(stops).cast("int"))
    )
    wpid = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    words = (
        tok.withColumn("pid", F.sum("is_stop").over(wpid))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pid", "pos", "tok")
        .localCheckpoint(eager=False)  # plen + word stats + phrases
    )
    plen = words.groupBy("doc_id", "pid").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    ws = (
        words.join(plen, ["doc_id", "pid"])
        .groupBy("tok")
        .agg(
            F.expr("(1000000 * CAST(sum(plen) AS BIGINT)) DIV count(*)")
            .cast("long")
            .alias("word_score_ppm")
        )
    )
    phrases = words.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase")
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    scored = (
        occ.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split(F.col("phrase"), " ")).alias("tok"),
        )
        .join(F.broadcast(ws), "tok")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("word_score_ppm").cast("long").alias("score_ppm"))
    )
    # TakeOrdered top-k FIRST (distributed), then rank the 10-row
    # survivors — a rank window over the full phrase table would
    # sort it in one task (the collocations/vocab_build discipline)
    top = scored.orderBy(
        F.col("score_ppm").desc(), F.col("phrase")
    ).limit(10)
    wr = Window.orderBy(F.col("score_ppm").desc(), F.col("phrase"))
    return (
        top.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .select("rnk", "phrase", "n_occurrences", "score_ppm")
    )


@register(
    "orders_backlog_sweepline",
    """
    WITH bl_s AS (
        SELECT o.o_orderkey,
               CAST(date_diff('day', DATE '2000-01-01',
                    CAST(o.o_orderdate AS DATE)) AS BIGINT) AS s_day,
               CAST(date_diff('day', DATE '2000-01-01',
                    CAST(max(l.l_shipdate) AS DATE)) AS BIGINT) AS e_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    bl_d AS (
        SELECT s_day AS day, CAST(1 AS BIGINT) AS delta FROM bl_s
        UNION ALL
        SELECT greatest(e_day, s_day) + 1, CAST(-1 AS BIGINT) FROM bl_s),
    bl_g AS (
        SELECT day,
               CAST(sum(delta) AS BIGINT) AS net,
               CAST(count(*) FILTER (delta = 1) AS BIGINT) AS n_starts,
               CAST(count(*) FILTER (delta = -1) AS BIGINT) AS n_ends
        FROM bl_d GROUP BY 1)
    SELECT day, n_starts, n_ends,
           CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS open_orders
    FROM bl_g
    """,
)
def orders_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order backlog over time by SWEEP-LINE: every order contributes
    +1 at placement and −1 the day after its last shipment; the
    running sum of deltas IS the number of in-flight orders on each
    day. This is the interval-counting technique that avoids
    materializing one row per (order × open day) — a naive expansion
    multiplies the fact by the mean open duration (weeks), the sweep
    line never exceeds 2 rows per order.

    100 TB shape: one per-order reduction (max shipdate), a 2×
    map-side delta projection, a per-day partial agg, and a cumulative
    window over the bounded DAY frame (thousands of rows however many
    orders flow). Day arithmetic via datediff from a fixed epoch
    (date_diff boundary semantics pinned by the existing date
    queries)."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    day = lambda c: F.datediff(  # noqa: E731
        F.to_date(c), F.lit("2000-01-01").cast("date")
    ).cast("long")
    spans = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", day("o_orderdate").alias("s_day"))
        .agg(F.max(day("l_shipdate")).alias("e_day"))
    )
    starts = spans.select(
        F.col("s_day").alias("day"), F.lit(1).cast("long").alias("delta")
    )
    ends = spans.select(
        (F.greatest("e_day", "s_day") + 1).alias("day"),
        F.lit(-1).cast("long").alias("delta"),
    )
    per_day = (
        starts.unionByName(ends)
        .groupBy("day")
        .agg(
            F.sum("delta").cast("long").alias("net"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_starts"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
            .cast("long")
            .alias("n_ends"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "n_starts",
        "n_ends",
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


@register(
    "dedup_families_report",
    f"""
    WITH {_dedup_edges_cte(4, 3, 0.8)},
    fr_mh_cand AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cand),
    fr_mh_ver AS (SELECT CAST(count(*) AS BIGINT) AS n FROM edges),
    fr_mh_fl AS (SELECT CAST(count(DISTINCT id_b) AS BIGINT) AS n FROM edges),
    fr_ex_g AS (
        SELECT md5(text) AS hh, CAST(count(*) AS BIGINT) AS c
        FROM documents WHERE text IS NOT NULL GROUP BY 1 HAVING count(*) >= 2),
    fr_ex AS (
        SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS pairs,
               CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS flagged
        FROM fr_ex_g),
    {_simhash64_cte('sh2')},
    sh_band2 AS (
        SELECT doc_id, simhash, t.b AS band,
               (simhash >> CAST(t.b * 16 AS INT)) & 65535 AS nib
        FROM sh2_sig, range(4) t(b)),
    sh_cand2 AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(CAST(a.simhash AS BIT),
                                  CAST(b.simhash AS BIT))) AS BIGINT) AS hd
        FROM sh_band2 a JOIN sh_band2 b
          ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id),
    fr_sh_cand AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sh_cand2),
    fr_sh_ver AS (SELECT CAST(count(*) AS BIGINT) AS n
                  FROM sh_cand2 WHERE hd <= 3),
    fr_sh_fl AS (SELECT CAST(count(DISTINCT id_b) AS BIGINT) AS n
                 FROM sh_cand2 WHERE hd <= 3)
    SELECT 'exact_md5' AS family, pairs AS n_candidate_pairs,
           pairs AS n_verified_pairs, flagged AS n_docs_flagged
    FROM fr_ex
    UNION ALL
    SELECT 'minhash_jaccard', c.n, v.n, f.n
    FROM fr_mh_cand c, fr_mh_ver v, fr_mh_fl f
    UNION ALL
    SELECT 'simhash_hamming', c.n, v.n, f.n
    FROM fr_sh_cand c, fr_sh_ver v, fr_sh_fl f
    """,
)
def dedup_families_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup strategy decision table: the three families — exact
    md5, MinHash-LSH + Jaccard verify (k=3, 4 bands, ≥0.8), SimHash +
    Hamming ≤ 3 — run side by side on the same corpus, reporting
    candidate volume (the cost), verified pairs (the yield), and docs
    flagged (higher id of ≥1 verified pair — the consistent removal
    convention). This is the table that picks a production strategy:
    exact is free but misses near-dups; MinHash pays candidate volume
    for Jaccard recall; SimHash is one BIGINT/doc with deterministic
    Hamming-3 recall.

    Every family runs its PRODUCTION plan (the individual registered
    queries' own operators) — this report just aggregates the three;
    all bucketed equi-joins, no all-pairs anywhere."""
    docs = load_table(spark, "documents", sf_dir).localCheckpoint(eager=False)
    one = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias(name)
    )
    # exact family: group sizes carry both counts
    exact_g = (
        docs.filter(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("hh"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 2)
    )
    exact = exact_g.agg(
        F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0))
        .cast("long")
        .alias("pairs"),
        F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("flagged"),
    ).select(
        F.lit("exact_md5").alias("family"),
        F.col("pairs").alias("n_candidate_pairs"),
        F.col("pairs").alias("n_verified_pairs"),
        F.col("flagged").alias("n_docs_flagged"),
    )
    # minhash family
    cand = dd.minhash_candidate_pairs(
        docs, k=3, bands=4,
        num_partitions=spark.sparkContext.defaultParallelism,
    ).localCheckpoint(eager=False)
    edges = dd.verify_pairs_jaccard(
        docs, cand, n=1, threshold=0.8
    ).localCheckpoint(eager=False)
    # round-9: the verified-pair count and the flagged-doc count come
    # from ONE aggregation over the checkpointed edge list (count +
    # countDistinct in the same agg) instead of two crossJoined
    # single-stat aggs — one scan of edges, one agg plan, same values
    mh = (
        one(cand, "n_candidate_pairs")
        .crossJoin(
            edges.agg(
                F.count(F.lit(1)).cast("long").alias("n_verified_pairs"),
                F.countDistinct("id_b").cast("long").alias("n_docs_flagged"),
            )
        )
        .select(
            F.lit("minhash_jaccard").alias("family"),
            "n_candidate_pairs",
            "n_verified_pairs",
            "n_docs_flagged",
        )
    )
    # simhash family (64-bit signature, 16-bit bands — production width)
    sh_pairs_all = dd.simhash_near_dup_pairs(
        docs, bits=64, bands=4, max_hamming=64,  # keep all candidates
        num_partitions=spark.sparkContext.defaultParallelism,
    ).localCheckpoint(eager=False)
    # round-9: all three simhash stats come from ONE aggregation over
    # the checkpointed candidate list (conditional count/countDistinct)
    # instead of three crossJoined single-stat aggs — one scan, one agg
    # plan, same values (count() skips NULLs, countDistinct ignores the
    # NULLs the unverified rows map to)
    ver = F.col("hamming") <= 3
    sh = (
        sh_pairs_all.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.count(F.when(ver, F.lit(1))).cast("long").alias("n_verified_pairs"),
            F.countDistinct(F.when(ver, F.col("id_b")))
            .cast("long")
            .alias("n_docs_flagged"),
        )
        .select(
            F.lit("simhash_hamming").alias("family"),
            "n_candidate_pairs",
            "n_verified_pairs",
            "n_docs_flagged",
        )
    )
    return exact.unionByName(mh).unionByName(sh)


@register(
    "orders_duplicate_payments",
    """
    WITH dp_o AS (
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_centi,
               CAST(date_diff('day', DATE '2000-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        FROM orders),
    dp_l AS (
        SELECT o_custkey, o_orderkey, price_centi, day,
               lag(day) OVER (PARTITION BY o_custkey, price_centi
                              ORDER BY day, o_orderkey) AS prev_day,
               lag(o_orderkey) OVER (PARTITION BY o_custkey, price_centi
                              ORDER BY day, o_orderkey) AS prev_key
        FROM dp_o)
    SELECT o_custkey AS custkey, price_centi,
           prev_key AS first_orderkey, o_orderkey AS second_orderkey,
           CAST(day - prev_day AS BIGINT) AS gap_days
    FROM dp_l
    WHERE prev_day IS NOT NULL AND day - prev_day <= 7
    """,
)
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detector: two orders by the same customer for
    the EXACT same amount within 7 days — the double-charge /
    double-submit audit every billing pipeline runs. Adjacent-pair
    semantics via lag() over (customer, amount) sorted by date: each
    flagged row is a consecutive same-amount pair, so a triple charge
    flags twice (once per adjacent pair) and the list is
    review-ready, not a blown-up cross product.

    100 TB shape: the window form ON PURPOSE — pairing same-key rows
    by self-join would re-create the per-key-density trap the ladder
    campaign measured (PIT/calibration/attribution); lag() over the
    (custkey, amount) partition is one shuffle, linear, and adjacency
    bounds output to n−1 pairs per group."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_centi"),
        F.datediff(F.to_date("o_orderdate"), F.lit("2000-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    w = Window.partitionBy("o_custkey", "price_centi").orderBy(
        "day", "o_orderkey"
    )
    return (
        o.withColumn("prev_day", F.lag("day").over(w))
        .withColumn("prev_key", F.lag("o_orderkey").over(w))
        .filter(
            F.col("prev_day").isNotNull()
            & ((F.col("day") - F.col("prev_day")) <= 7)
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "price_centi",
            F.col("prev_key").alias("first_orderkey"),
            F.col("o_orderkey").alias("second_orderkey"),
            (F.col("day") - F.col("prev_day")).cast("long").alias("gap_days"),
        )
    )


@register(
    "events_first_touch_attribution",
    """
    WITH ft_s AS (
        SELECT user_id, epoch_ms(ts) AS ms,
               event_type = 'purchase' AS is_conv,
               CASE WHEN event_type <> 'purchase' THEN event_type END
                   AS channel
        FROM events WHERE event_type IN ('view', 'click', 'purchase')),
    ft_w AS (
        SELECT is_conv,
               min(CASE WHEN channel IS NOT NULL
                        THEN ms * 10 + CASE WHEN channel = 'click'
                                            THEN 0 ELSE 1 END END)
                   OVER (PARTITION BY user_id ORDER BY ms
                         RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW)
                   AS first_code
        FROM ft_s),
    ft_c AS (
        SELECT CASE WHEN first_code % 10 = 0 THEN 'click' ELSE 'view' END
                   AS channel
        FROM ft_w WHERE is_conv AND first_code IS NOT NULL),
    ft_t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM ft_c)
    SELECT c.channel, CAST(count(*) AS BIGINT) AS n_conversions,
           (1000 * count(*)) // t.tot AS share_pml
    FROM ft_c c, ft_t t GROUP BY c.channel, t.tot
    """,
)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — completes the attribution family
    (last-touch, linear, first-touch): each purchase credits 100% to
    the EARLIEST view/click in its preceding 7-day window. The first
    touch is an argmin carried through the window as one packed
    integer (``ms·10 + channel_code`` — min of the pack IS the
    earliest-then-channel-tiebroken touch; no struct comparison
    semantics to align across engines), over a bounded RANGE frame —
    join-free by design, per the measured per-user-density lesson.

    Output: conversions credited per channel with exact per-mille
    share — the two ends of the attribution spectrum (first vs last
    touch) bracket where linear's equal split lands."""
    ev = load_table(spark, "events", sf_dir)
    stream = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        (F.col("event_type") == "purchase").alias("is_conv"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "channel"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(-(7 * DAY_MS - 1), 0)
    )
    code = F.when(
        F.col("channel").isNotNull(),
        F.col("ms") * 10
        + F.when(F.col("channel") == "click", 0).otherwise(1),
    )
    creds = (
        stream.withColumn("first_code", F.min(code).over(w))
        .filter(F.col("is_conv") & F.col("first_code").isNotNull())
        .select(
            F.when(F.col("first_code") % 10 == 0, "click")
            .otherwise("view")
            .alias("channel")
        )
    )
    tot = creds.agg(F.count(F.lit(1)).cast("long").alias("tot"))
    return (
        creds.groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_conversions",
            F.expr("(1000 * n_conversions) DIV tot")
            .cast("long")
            .alias("share_pml"),
        )
    )


@register(
    "events_slo_burn_rate",
    """
    WITH sb_h AS (
        SELECT epoch_ms(ts) // 3600000 AS h,
               CAST(count(*) AS BIGINT) AS tot,
               CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS err
        FROM events GROUP BY 1),
    sb_w AS (
        SELECT h, tot, err,
               sum(tot) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
                              AND CURRENT ROW) AS tot6,
               sum(err) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
                              AND CURRENT ROW) AS err6,
               sum(tot) OVER (ORDER BY h RANGE BETWEEN 71 PRECEDING
                              AND CURRENT ROW) AS tot72,
               sum(err) OVER (ORDER BY h RANGE BETWEEN 71 PRECEDING
                              AND CURRENT ROW) AS err72,
               min(h) OVER () AS h0
        FROM sb_h)
    SELECT h, tot, err,
           (100000000 * err) // tot AS burn1h_ppm,
           CAST((100000000 * err6) // tot6 AS BIGINT) AS burn6h_ppm,
           CAST((100000000 * err72) // tot72 AS BIGINT) AS burn72h_ppm,
           CAST(CASE WHEN (100000000 * err) // tot >= 14400000
                      AND (100000000 * err6) // tot6 >= 14400000
                THEN 1 ELSE 0 END AS BIGINT) AS page_fast,
           CAST(CASE WHEN (100000000 * err6) // tot6 >= 6000000
                      AND (100000000 * err72) // tot72 >= 6000000
                THEN 1 ELSE 0 END AS BIGINT) AS page_slow
    FROM sb_w WHERE h >= h0 + 71
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerts (the Google SRE workbook
    construction) for a 1% error budget: per hour, the budget burn
    over the 1h/6h/72h trailing windows (1e6 = burning exactly at
    budget), and the two paging conditions — fast (1h AND 6h ≥ 14.4x)
    and slow (6h AND 72h ≥ 6x). Pairing a short and a long window is
    what kills both alert flapping AND slow-burn blindness — the
    reason this shape replaced simple threshold alerts. Hours without
    a full 72h lookback are excluded (partial windows misread).

    100 TB shape: the raw stream reduces ONCE to the hourly
    (total, error) frame; all three windows are bounded RANGE frames
    over that tiny series — the monitoring plane never rescans
    events. Integer ppm burn via cross-multiplied DIV."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(F.expr("unix_millis(ts) DIV 3600000").alias("h"), "event_type")
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tot"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("err"),
        )
    )
    wf = lambda k: Window.orderBy("h").rangeBetween(-(k - 1), 0)  # noqa: E731
    w_all = Window.orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = lambda e, t: F.expr(f"(100000000 * {e}) DIV {t}")  # noqa: E731
    out = (
        hourly.withColumn("tot6", F.sum("tot").over(wf(6)))
        .withColumn("err6", F.sum("err").over(wf(6)))
        .withColumn("tot72", F.sum("tot").over(wf(72)))
        .withColumn("err72", F.sum("err").over(wf(72)))
        .withColumn("h0", F.min("h").over(w_all))
        .filter(F.col("h") >= F.col("h0") + 71)
    )
    burn1, burn6, burn72 = b("err", "tot"), b("err6", "tot6"), b("err72", "tot72")
    return out.select(
        "h",
        "tot",
        "err",
        burn1.cast("long").alias("burn1h_ppm"),
        burn6.cast("long").alias("burn6h_ppm"),
        burn72.cast("long").alias("burn72h_ppm"),
        ((burn1 >= 14400000) & (burn6 >= 14400000))
        .cast("long")
        .alias("page_fast"),
        ((burn6 >= 6000000) & (burn72 >= 6000000))
        .cast("long")
        .alias("page_slow"),
    )


# ---------------------------------------------------------------------------
# Registry tiers.
#
# The round-harness driver verifies at most 50 registry entries per run
# (round 1 recorded exactly the first 50 of 73, leaving 23 operators
# with no driver evidence). The engine implements more operators than
# the cap, so the registry is split:
#
# - QUERIES (driver tier): exactly 50 entries, every one driver-verified
#   per round, ordered so queries with no prior driver row come first.
# - EXTRA_QUERIES: the remaining operators — same (fn, oracle) shape,
#   verified by the identical oracle comparison in
#   tests/test_queries_oracle.py at sf0.001 and by
#   tools/drive_harness.py at sf0.01. Redundant variants live here
#   (ann_*_vec share oracles with their base queries,
#   t1_compaction_global ⊂ t13_pipeline_chain, the four text_* queries
#   are subsumed by text_suite, rollup/cube ⊂ grouping_sets).
# ---------------------------------------------------------------------------

# ROTATION POLICY (round 3+): the tier is rebuilt each round; slots
# are assigned in priority order below. With 155 registered queries
# (131 when this policy was written) and a 50-slot/round driver
# budget, the achievable freshness bound is a ~three-round cycle (any
# query's newest driver row is at most ~3 rounds old);
# zero-evidence queries always outrank re-verification.
# Round-4 arithmetic: 34 zero-evidence (the priority-1 queue listed at
# the end of this tier) + 16 of the queries whose newest row is r1/r2,
# preferring r1 rows (q15_top_supplier, q8_market_share lead), then
# TPC-H shapes and Decaton T-operators; the remainder take round-5
# slots. Priorities:
#   1. queries with no driver row in any round (round 3: cube_order_stats);
#   2. queries whose newest row is >=2 rounds old (round 3: everything
#      that sat in EXTRA during round 2 — its rows are r1);
#   3. queries newly registered this round (docs_gopher_filter,
#      docs_pii_redact);
#   4. remaining slots re-verify last round's tier, preferring queries
#      whose implementation CHANGED this round (round 3: ann_ivf_topk
#      centroid caching, s8_protobuf_envelope negative varints,
#      dedup_near_full CC hardening, ann_brute_force_topk shares
#      similarity.py), then one representative per operator family.
_DRIVER_TIER = [
    # ================= ROUND 10 TIER =================
    # Standing rotation (VERDICT r7 #4): 241 registered queries / 50
    # slots per round = a 5-round freshness cycle, oldest-newest-row
    # first, r{N} file order within a cohort; implementation-changed
    # queries always jump the queue. This round burns the 40 remaining
    # r5-row holders (r5 file order) + the 10 oldest r6 rows (r6 file
    # order) — exactly the list VERDICT r9 #10 pre-wrote as round 9's
    # NEXT_TIER. After it lands the histogram is r6:40 r7:50 r8:50
    # r9:50 r10:50.
    #
    # The 40 r5-row holders (r5 file order):
    "retrieval_ndcg_eval",
    "dedup_containment",
    "corpus_source_overlap",
    "customer_scd2_merge",
    "events_ab_welch_ttest",
    "events_ab_cuped",
    "events_ab_conversion_ztest",
    "events_ab_mannwhitney",
    "events_ab_diff_in_diff",
    "events_ab_power",
    "events_ab_srm_check",
    "prefs_bradley_terry",
    "text_wordpiece_tokens",
    "text_wordpiece_fertility",
    "emb_binary_hamming_topk",
    "dedup_sorted_neighborhood",
    "events_bootstrap_ci",
    "retrieval_mrr_eval",
    "events_negative_samples",
    "events_linear_attribution",
    "events_first_touch_attribution",
    "events_score_calibration",
    "dedup_snm_multipass",
    "dedup_minhash_accuracy",
    "dedup_source_priority",
    "dedup_triangle_stats",
    "emb_bitext_margin_mining",
    "emb_ivf_cell_stats",
    "emb_matryoshka_recall",
    "emb_sq_refine_topk",
    "ann_mmr_rerank",
    "emb_hard_negatives",
    "docs_ccnet_buckets",
    "docs_curation_pipeline_v3",
    "docs_langid_confusion",
    "events_psi_drift",
    "events_survival_km",
    "parts_fuzzy_linkage",
    "events_anova_oneway",
    "events_cohort_ltv",
    # The 10 oldest r6 rows (r6 file order):
    "emb_bitext_margin_lsh",
    "dedup_simhash",
    "dedup_cluster_stats",
    "dedup_lsh_banding_sweep",
    "ann_ivf_nprobe_sweep",
    "emb_lang_centroid_drift",
    "emb_random_projection_recall",
    "users_behavior_similarity",
    "text_collocations_pmi",
    "text_fertility_by_lang",
    # ================= HISTORY (condensed) =================
    # r1-r9: 50/50 driver rows every round, zero failures; round 6
    # closed the never-verified queue (all-time union 240/240), round
    # 7 burned the 41 r2 rows + 9 oldest r3 (tier in git bf68203),
    # round 8 the 40 r3 rows + 10 oldest r4 (tier in git 0470bd0),
    # round 9 the 40 r4 rows + 10 oldest r5 (tier in git 17831fd).
    # Per-round certification: tier 50/50 at sf0.01 re-run after every
    # material change; full-registry drive_harness --all 241/241; full
    # window audit (incl. checkpointed stage plans); pytest;
    # adversarial-equivalence pins for expression rewrites
    # (tests/test_ngram_constructions.py).
]

# ROUND-11 TIER, pre-written AS DATA (VERDICT r8 #3/#6): the harness
# projects the post-next-round histogram with this list during the
# inter-round window (after the driver writes CORRECTNESS_r10 but
# before _DRIVER_TIER rotates), so the rotation arithmetic is checked
# without the false "fell behind" alarm the comment-only pre-write
# caused. Computed from the correctness files with the r10 tier marked
# newest=r10: emb_sq_topk_vec (registered r9, never a driver row —
# priority-1 queue jump) + the 40 remaining r6-row holders (r6 file
# order) + the 9 oldest r7 rows (r7 file order). After r11 lands the
# histogram is r7:41 r8:50 r9:50 r10:50 r11:50.
NEXT_TIER = [
    # Priority 1 — registered but never driver-verified:
    "emb_sq_topk_vec",
    # The 40 r6-row holders (r6 file order):
    "text_keyphrases_rake",
    "text_length_buckets",
    "docs_lm_score_bigram",
    "docs_mixture_by_topic",
    "docs_rater_agreement",
    "docs_stratified_sample",
    "docs_topic_tag",
    "docs_zipf_fit",
    "corpus_dataset_card",
    "corpus_release_audit",
    "corpus_term_jsd",
    "events_anomaly_mad",
    "events_assoc_pairs",
    "events_covisitation_eval",
    "events_covisitation_recs",
    "events_cusum_changepoints",
    "events_dau_mau_stickiness",
    "events_entropy_by_type",
    "events_forecast_backtest",
    "events_join_size_estimate",
    "events_k_anonymity",
    "events_kmv_user_overlap",
    "events_l_diversity",
    "events_markov_stationary",
    "events_seasonality_hod",
    "events_slo_burn_rate",
    "events_theilsen_trend",
    "events_trajectories",
    "events_trajectory_dedup",
    "orders_backlog_sweepline",
    "orders_benford_audit",
    "orders_duplicate_payments",
    "orders_gini_by_nation",
    "parts_abc_classification",
    "tpch_referential_audit",
    "regex_functions_bridge",
    "q2_min_acctbal_supplier",
    "q4_priority_exists",
    "q9_nation_year_profit",
    "q10_returned_customers",
    # The 9 oldest r7 rows (r7 file order):
    "t1_compaction_windowed",
    "t2_batching",
    "t3_retry_queueing",
    "t4_scheduled_due",
    "t5_rate_limit",
    "t6_per_key_quota",
    "t13_pipeline_chain",
    "f1_ignore_keys",
    "f2_discard_invalid",
]

_ALL_QUERIES = dict(QUERIES)
assert len(_DRIVER_TIER) == 50, len(_DRIVER_TIER)
assert len(NEXT_TIER) == 50 == len(set(NEXT_TIER)), len(NEXT_TIER)
assert set(NEXT_TIER) <= set(_ALL_QUERIES), set(NEXT_TIER) - set(_ALL_QUERIES)
assert not set(NEXT_TIER) & set(_DRIVER_TIER), set(NEXT_TIER) & set(_DRIVER_TIER)
assert set(_DRIVER_TIER) <= set(_ALL_QUERIES), set(_DRIVER_TIER) - set(_ALL_QUERIES)
EXTRA_QUERIES: dict[str, QuerySpec] = {
    k: v for k, v in _ALL_QUERIES.items() if k not in set(_DRIVER_TIER)
}
QUERIES = {k: _ALL_QUERIES[k] for k in _DRIVER_TIER}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the Decaton pipeline (blocklist → validate → compact →
    per-key stats) over sf0.001, end-to-end through the operator chain."""
    sf_dir = "/root/testdata/sf0.001"
    pipe = (
        Pipeline()
        .then_process(lambda df: ignore_keys(df, ["13"]), "ignore_keys")
        .then_process(lambda df: discard_invalid(df, "value", "k BIGINT"), "validate")
        .then_process(lambda df: compact_tasks(df, linger="1 hour"), "compact")
    )
    tasks = _tasks(spark, sf_dir)
    compacted = pipe.apply(tasks)
    return compacted.groupBy("key").agg(
        F.count(F.lit(1)).alias("survivors"),
        F.max("meta_timestamp_millis").alias("latest_ms"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}
