"""Kafka source/sink helpers (S1-S6).

The reference consumes origin + ``-retry`` + ``-shaping`` topics in one
subscription (``ProcessorSubscription.subscribeTopics()``,
``processor/.../runtime/ProcessorSubscription.java:219-225``) and
produces with metadata headers (``DecatonClientImpl.java:124-146``).

Spark mapping is the built-in Kafka connector; this container has no
Kafka broker or connector jar, so construction is gated — the option
plumbing (the engine-owned part) is real and unit-tested, the physical
read needs the ``spark-sql-kafka`` package on the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from decaton_spark.envelope import extract_task, metadata_to_header_json
from decaton_spark.operators.retry import RETRY_TOPIC_SUFFIX
from decaton_spark.operators.quota import SHAPING_TOPIC_SUFFIX


def subscription_topics(topic: str, retry: bool = True, shaping: bool = False) -> str:
    """Origin + companion topics, Decaton naming (RetryConfig.java:71-78,
    PerKeyQuotaConfig.java:44-151)."""
    topics = [topic]
    if retry:
        topics.append(topic + RETRY_TOPIC_SUFFIX)
    if shaping:
        topics.append(topic + SHAPING_TOPIC_SUFFIX)
    return ",".join(topics)


def task_stream_options(
    bootstrap_servers: str,
    topic: str,
    *,
    retry: bool = True,
    shaping: bool = False,
    max_offsets_per_trigger: int | None = 10_000,
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """The engine-owned reader configuration, as the exact option map
    handed to the Kafka connector — pure data, unit-testable without a
    broker. ``maxOffsetsPerTrigger`` plays Decaton's
    max.pending.records backpressure (T9, PartitionContext.java:175-177);
    ``includeHeaders`` carries the ``dt_meta`` task metadata header."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": subscription_topics(topic, retry, shaping),
        "includeHeaders": "true",
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_task_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    **kwargs,
) -> DataFrame:
    """S1/S2: the streaming task envelope from Kafka, decoded by
    :func:`~decaton_spark.envelope.extract_task` (``dt_meta`` header →
    legacy envelope → raw, with ``task_format`` per record)."""
    reader = spark.readStream.format("kafka")
    for k, v in task_stream_options(bootstrap_servers, topic, **kwargs).items():
        reader = reader.option(k, v)
    raw = reader.load()
    return extract_task(raw)


def task_sink_frame(df: DataFrame) -> DataFrame:
    """S3: project a task frame onto the Kafka sink contract — binary
    key/value, ``headers array<struct<key:string,value:binary>>``
    carrying ``dt_meta`` (DecatonClientImpl.java:124-146), plus the
    per-row ``topic`` column when present (retry/shaping routing).
    Batch- and stream-agnostic, so it is testable without a broker."""
    out = metadata_to_header_json(df)
    cols = [
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.col("headers"),
    ]
    if "topic" in out.columns:
        cols.append(F.col("topic"))
    return out.select(*cols)


def write_task_stream(df: DataFrame, bootstrap_servers: str, default_topic: str | None = None):
    """S3/S5/S6 producer: the sink frame to Kafka. Returns the
    DataStreamWriter."""
    writer = (
        task_sink_frame(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
    )
    if default_topic:
        writer = writer.option("topic", default_topic)
    return writer
