"""S1/S2/S3 Kafka wiring, verified without a broker.

The physical Kafka read needs the spark-sql-kafka package (absent in
this container); everything the *engine* owns — which topics are
subscribed, which options reach the connector, what frame the producer
ships — is pure configuration/projection logic and is pinned here.

Reference: ConsumeManager.java:164-179 (subscription),
ProcessorSubscription.java:219-225 (origin+retry+shaping topics),
DecatonClientImpl.java:124-146 (producer record with dt_meta header).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from decaton_spark.envelope import events_to_tasks, extract_task
from decaton_spark.sources import load_table
from decaton_spark.sources.kafka import (
    subscription_topics,
    task_sink_frame,
    task_stream_options,
)


def test_s1_reader_options_land_in_connector_config():
    opts = task_stream_options(
        "broker-1:9092,broker-2:9092", "orders",
        max_offsets_per_trigger=5000, starting_offsets="earliest",
    )
    assert opts["kafka.bootstrap.servers"] == "broker-1:9092,broker-2:9092"
    assert opts["subscribe"] == "orders,orders-retry"
    assert opts["includeHeaders"] == "true"  # dt_meta travels as header
    assert opts["maxOffsetsPerTrigger"] == "5000"  # T9 backpressure
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"


def test_s1_backpressure_can_be_disabled():
    opts = task_stream_options("b:9092", "t", max_offsets_per_trigger=None)
    assert "maxOffsetsPerTrigger" not in opts


def test_s2_multi_topic_subscribe_lists():
    assert subscription_topics("t") == "t,t-retry"
    assert subscription_topics("t", retry=False) == "t"
    assert subscription_topics("t", shaping=True) == "t,t-retry,t-shaping"
    assert (
        task_stream_options("b:9092", "t", shaping=True)["subscribe"]
        == "t,t-retry,t-shaping"
    )


def test_s3_sink_frame_matches_kafka_sink_schema(spark, sf_dir):
    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).limit(50)
    out = task_sink_frame(tasks)
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields["key"] == "binary"
    assert fields["value"] == "binary"
    assert fields["headers"] == "array<struct<key:string,value:binary>>"
    assert fields["topic"] == "string"  # per-row routing (retry/shaping)
    rows = out.collect()
    assert all(r["headers"] and r["headers"][0]["key"] == "dt_meta" for r in rows)


def test_s3_header_round_trips_through_extractor(spark, sf_dir):
    """Producer frame → consumer-side header parse recovers metadata —
    the full S3→S8 path on the engine side of the broker."""
    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).limit(20)
    wire = task_sink_frame(tasks).withColumn(
        "timestamp", F.lit(0).cast("timestamp")
    ).withColumn("partition", F.lit(0)).withColumn("offset", F.lit(0).cast("long"))
    back = extract_task(wire)
    orig = {
        (r["key"], r["meta_timestamp_millis"]) for r in tasks.select(
            F.col("key"), "meta_timestamp_millis").collect()
    }
    got = {
        (r["key"].decode(), r["meta_timestamp_millis"])
        for r in back.select("key", "meta_timestamp_millis").collect()
    }
    assert got == orig


KAFKA_SCHEMA = (
    "key binary, value binary, ts_ms long,"
    " headers array<struct<key:string,value:binary>>"
)


def test_extract_task_decodes_kafka_shaped_records(spark):
    """The frame the Kafka connector hands ``read_task_stream`` (binary
    key/value, record timestamp, ``includeHeaders`` header array) goes
    through the header → legacy → raw chain per record. A record whose
    headers hold no ``dt_meta`` is a raw task stamped with its record
    timestamp, not a failed query (``element_at`` on the empty header
    match raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode)."""
    ts_ms = 1_704_067_201_000
    hdr = (
        b'{"timestamp_millis":5,"source_application_id":"app",'
        b'"source_instance_id":"i","retry_count":2,"scheduled_time_millis":7}'
    )
    legacy = (
        b'{"metadata":{"timestamp_millis":9,"source_application_id":"old",'
        b'"source_instance_id":"j","retry_count":1,"scheduled_time_millis":0},'
        b'"serialized_task":"task"}'
    )
    rows = [
        (b"k0", b"payload", ts_ms, [("dt_meta", hdr)]),
        (b"k1", b"plain", ts_ms, None),
        (b"k2", b"other", ts_ms, [("trace", b"x")]),
        (b"k3", legacy, ts_ms, []),
    ]
    frame = spark.createDataFrame(rows, KAFKA_SCHEMA).withColumn(
        "timestamp", F.timestamp_millis("ts_ms")
    )
    out = extract_task(frame)
    assert dict(out.dtypes)["value"] == "binary"
    got = {
        bytes(r["key"]): (
            r["task_format"], bytes(r["value"]), r["meta_timestamp_millis"],
            r["meta_source_application_id"], r["meta_source_instance_id"],
            r["meta_retry_count"], r["meta_scheduled_time_millis"],
        )
        for r in out.collect()
    }
    assert got == {
        b"k0": ("header", b"payload", 5, "app", "i", 2, 7),
        b"k1": ("raw", b"plain", ts_ms, None, None, 0, 0),
        b"k2": ("raw", b"other", ts_ms, None, None, 0, 0),
        b"k3": ("legacy", b"task", 9, "old", "j", 1, 0),
    }


def test_write_task_stream_builder_carries_sink_contract(spark, sf_dir):
    """write_task_stream returns a DataStreamWriter over the sink
    frame; the underlying frame satisfies the Kafka sink contract
    (binary key/value + headers + routing topic) without a broker."""
    from decaton_spark.sources.kafka import task_sink_frame, write_task_stream

    tasks = events_to_tasks(load_table(spark, "events", sf_dir)).limit(10)
    frame = task_sink_frame(tasks)
    assert dict(frame.dtypes)["key"] == "binary"
    assert dict(frame.dtypes)["value"] == "binary"
    assert "headers" in frame.columns and "topic" in frame.columns

    stream = (
        spark.readStream.schema(tasks.drop("timestamp").schema)
        .parquet(str(sf_dir))  # never started; builder-shape only
    )
    w = write_task_stream(stream, "broker:9092", default_topic="out")
    assert type(w).__name__ == "DataStreamWriter"


def test_read_task_stream_requires_connector(spark):
    """Without the spark-sql-kafka jar the reader must fail at
    construction with the connector lookup error — loudly, not by
    silently returning an empty stream."""
    import pytest as _pytest

    from decaton_spark.sources.kafka import read_task_stream

    with _pytest.raises(Exception, match="[Kk]afka|DATA_SOURCE"):
        read_task_stream(spark, "broker:9092", "tasks")
