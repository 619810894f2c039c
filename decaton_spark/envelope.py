"""The task envelope: Decaton's data model as Spark columns.

Reference data model (SURVEY.md §1.1): a Kafka record carrying
``key`` (ordering/shuffle unit), ``value`` (opaque payload bytes),
``topic/partition/offset/timestamp``, and a ``TaskMetadataProto``
(reference: ``protocol/src/main/proto/decaton.proto:9-25``) with
``timestamp_millis, source_application_id, source_instance_id,
retry_count, scheduled_time_millis`` carried in the ``dt_meta`` header
(reference: ``client/src/main/java/com/linecorp/decaton/client/internal/
TaskMetadataUtil.java:29-58``).

Spark mapping: one DataFrame with the fixed envelope columns below.
The metadata lives in flat ``meta_*`` columns (FIXTURES.md §1) so every
operator stays in native Catalyst expressions; a struct/json codec is
provided for Kafka header round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Header key under which Decaton stores task metadata
#: (reference: client/.../internal/TaskMetadataUtil.java:29).
METADATA_HEADER_KEY = "dt_meta"

ENVELOPE_COLUMNS = (
    "key",
    "value",
    "topic",
    "partition",
    "offset",
    "timestamp",
    "meta_timestamp_millis",
    "meta_source_application_id",
    "meta_source_instance_id",
    "meta_retry_count",
    "meta_scheduled_time_millis",
)

METADATA_STRUCT = T.StructType(
    [
        T.StructField("timestamp_millis", T.LongType()),
        T.StructField("source_application_id", T.StringType()),
        T.StructField("source_instance_id", T.StringType()),
        T.StructField("retry_count", T.LongType()),
        T.StructField("scheduled_time_millis", T.LongType()),
    ]
)


def events_to_tasks(
    events: DataFrame,
    *,
    topic: str = "events",
    num_partitions: int = 8,
    app_id: str = "decaton-spark",
    instance_id: str = "local-0",
) -> DataFrame:
    """Interpret the driver's ``events`` fixture as a task stream.

    Mapping per FIXTURES.md §3: ``user_id`` plays the Kafka key,
    ``props`` (JSON string) plays the serialized payload, ``ts`` plays
    the record timestamp, and ``event_id`` (globally strictly
    increasing) plays the offset. Partition routing is the
    deterministic ``user_id % num_partitions`` so oracle SQL can
    reproduce it (Decaton routes by murmur2 key hash —
    ``DefaultSubPartitioner.java:40-57`` — which Spark's
    HashPartitioning replaces in the real shuffle path).
    """
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("props").alias("value"),
        F.lit(topic).alias("topic"),
        (F.col("user_id") % num_partitions).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.unix_millis(F.col("ts")).alias("meta_timestamp_millis"),
        F.lit(app_id).alias("meta_source_application_id"),
        F.lit(instance_id).alias("meta_source_instance_id"),
        F.lit(0).cast("long").alias("meta_retry_count"),
        F.lit(0).cast("long").alias("meta_scheduled_time_millis"),
        # payload columns kept alongside the envelope for downstream ops
        F.col("event_type"),
        F.col("value").alias("event_value"),
    )


def metadata_struct(df: DataFrame) -> DataFrame:
    """Pack flat ``meta_*`` columns into a single ``metadata`` struct
    (the shape a Kafka sink writes into the ``dt_meta`` header)."""
    return df.withColumn(
        "metadata",
        F.struct(
            F.col("meta_timestamp_millis").alias("timestamp_millis"),
            F.col("meta_source_application_id").alias("source_application_id"),
            F.col("meta_source_instance_id").alias("source_instance_id"),
            F.col("meta_retry_count").alias("retry_count"),
            F.col("meta_scheduled_time_millis").alias("scheduled_time_millis"),
        ),
    )


def metadata_to_header_json(df: DataFrame) -> DataFrame:
    """Serialize the metadata struct to a JSON header value column —
    the engine's (public, documented) stand-in for the protobuf
    ``dt_meta`` header, read back by :func:`extract_task`."""
    df = metadata_struct(df)
    return df.withColumn(
        "headers",
        F.array(
            F.struct(
                F.lit(METADATA_HEADER_KEY).alias("key"),
                F.to_json(F.col("metadata")).cast("binary").alias("value"),
            )
        ),
    )


#: Legacy envelope: metadata + payload packed into the record value
#: (reference: ``protocol/src/main/proto/decaton_internal.proto:13-18``,
#: the deprecated ``DecatonTaskRequest``). JSON stand-in for protobuf.
LEGACY_ENVELOPE_STRUCT = T.StructType(
    [
        T.StructField("metadata", METADATA_STRUCT),
        T.StructField("serialized_task", T.StringType()),
    ]
)


def wrap_legacy_envelope(df: DataFrame) -> DataFrame:
    """Pack metadata + payload into a legacy single-value envelope.

    Mirrors the deprecated producer path (reference:
    ``client/.../internal/DecatonClientImpl.java:124-146`` legacy
    branch): the value becomes ``{metadata, serialized_task}`` and no
    ``dt_meta`` header is written.
    """
    df = metadata_struct(df)
    return df.withColumn(
        "value",
        F.to_json(
            F.struct(
                F.col("metadata").alias("metadata"),
                F.col("value").alias("serialized_task"),
            )
        ),
    ).withColumn("headers", F.array().cast("array<struct<key:string,value:binary>>"))


def extract_task(df: DataFrame, headers_col: str = "headers") -> DataFrame:
    """Unified task extraction: header → legacy envelope → raw fallback.

    Mirrors the reference's config-driven fallback chain
    (``DefaultTaskExtractor.java:40-77``): prefer ``dt_meta`` header
    metadata with the value used as-is; else, if the value parses as a
    legacy envelope, take metadata and payload from it; else treat the
    value as a raw task with default metadata derived from the record
    timestamp. Adds ``task_format`` ∈ {header, legacy, raw} for
    observability. Pure Catalyst expressions — one projection, no
    shuffle, JSON parse inside codegen.
    """
    # try_element_at: records without headers yield NULL (ANSI-safe)
    hdr_val = F.try_element_at(
        F.filter(F.col(headers_col), lambda h: h["key"] == F.lit(METADATA_HEADER_KEY)),
        F.lit(1),
    )["value"].cast("string")
    # materialize both parses BEFORE touching `value`: later expressions
    # must not re-resolve against the replaced column. The value is
    # parsed as a legacy envelope only when no header carried metadata.
    df = df.withColumn("_hdr_meta", F.from_json(hdr_val, METADATA_STRUCT))
    has_header = F.col("_hdr_meta").isNotNull()
    df = df.withColumn(
        "_legacy",
        F.when(
            ~has_header,
            F.from_json(F.col("value").cast("string"), LEGACY_ENVELOPE_STRUCT),
        ),
    )
    legacy = F.col("_legacy")
    legacy_ok = legacy["metadata"].isNotNull() & legacy["serialized_task"].isNotNull()

    meta = F.when(has_header, F.col("_hdr_meta")).when(legacy_ok, legacy["metadata"])
    out = (
        df.withColumn(
            "task_format",
            F.when(has_header, F.lit("header"))
            .when(legacy_ok, F.lit("legacy"))
            .otherwise(F.lit("raw")),
        )
        .withColumn(
            "value",
            F.when(~has_header & legacy_ok, legacy["serialized_task"]).otherwise(
                F.col("value")
            ),
        )
        .withColumn(
            "meta_timestamp_millis",
            F.coalesce(meta["timestamp_millis"], F.unix_millis(F.col("timestamp"))),
        )
        .withColumn("meta_source_application_id", meta["source_application_id"])
        .withColumn("meta_source_instance_id", meta["source_instance_id"])
        .withColumn("meta_retry_count", F.coalesce(meta["retry_count"], F.lit(0)))
        .withColumn(
            "meta_scheduled_time_millis",
            F.coalesce(meta["scheduled_time_millis"], F.lit(0)),
        )
    )
    return out.drop("_hdr_meta", "_legacy")
