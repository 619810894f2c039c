"""Decaton protobuf wire format — engine-native, no protobuf library.

The reference's blessed codec is protobuf
(``protocol/src/main/proto/decaton.proto:9-25`` —
``TaskMetadataProto{1:timestamp_millis, 2:source_application_id,
3:source_instance_id, 4:retry_count, 5:scheduled_time_millis}`` and
``decaton_internal.proto:13-18`` — ``DecatonTaskRequest{1:metadata,
2:serialized_task}``; decoder
``protobuf/.../ProtocolBuffersDeserializer.java``).

The engine needs no spark-protobuf jar, no ``google.protobuf`` and no
``protoc``: the wire format is implemented from the public protobuf
encoding spec (https://protobuf.dev/programming-guides/encoding/):

- **Encoder**: cross-engine SQL fragments (varint + length-delimited
  fields, proto3 default-value omission) producing the wire bytes as a
  hex string — pure expressions, whole-stage-codegen'd in Spark and
  replayable verbatim by the DuckDB oracle, so the byte-exact wire
  format is driver-verified. ``F.unhex`` turns it into real bytes for a
  Kafka sink.
- **Decoder**: a dependency-free Python wire-format parser (varint /
  length-delimited walk, unknown fields skipped as the spec requires)
  applied over Arrow batches via ``mapInPandas`` — decode is inherently
  per-record byte walking, the one place Python is the honest tool.

Shared-dialect constraints: ``>> & |`` bit ops, ``hex``/``unhex``,
``lpad``, ``concat`` behave identically in Spark 4 and DuckDB; byte
lengths come from ``length(hex)/2`` (DuckDB's ``octet_length`` is
BLOB-only). Full int64 range: negative values take the canonical
10-byte two's-complement varint (both engines arithmetic-shift
negative BIGINTs, so one ``CASE`` covers it), and the decoder folds
the unsigned wire value back to signed int64 per the spec.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Cross-engine SQL encoder fragments
# ---------------------------------------------------------------------------

_MAX_VARINT_BYTES = 9  # non-negative int64 => at most ceil(63/7) bytes


def pb_varint_hex(expr: str, *, max_bytes: int = _MAX_VARINT_BYTES, signed: bool = True) -> str:
    """Hex of the protobuf base-128 varint encoding of a BIGINT
    expression. Non-negative: byte i carries bits 7i..7i+6,
    continuation bit set while higher bits remain. Negative (only when
    ``signed``): the canonical 10-byte form — the unsigned
    reinterpretation of the two's-complement bits. Bytes 0..8 come
    straight from arithmetic shift (sign-fill keeps every
    ``(expr >> 7i) & 127`` correct for bit positions < 63) with
    continuation always set; byte 9 carries bit 63 alone, which is 1
    for every negative, so it is the literal ``01`` terminator.

    ``expr`` is textually substituted ~3× per byte, so callers whose
    value has a known bound (length prefixes) pass a smaller
    ``max_bytes``/``signed=False`` to keep the expression tree — and
    therefore whole-stage-codegen compile time — small."""
    parts = []
    for i in range(max_bytes):
        lo = f"(({expr}) >> {7 * i}) & 127"
        cont = 128 ** (i + 1)
        byte = f"CASE WHEN ({expr}) >= {cont} THEN ({lo}) | 128 ELSE ({lo}) END"
        hx = f"lpad(lower(hex({byte})), 2, '0')"
        if i == 0:
            parts.append(hx)
        else:
            parts.append(f"CASE WHEN ({expr}) >= {128 ** i} THEN {hx} ELSE '' END")
    nonneg = "concat(" + ", ".join(parts) + ")"
    if not signed:
        return nonneg
    neg_bytes = [
        f"lpad(lower(hex(((({expr}) >> {7 * i}) & 127) | 128)), 2, '0')"
        for i in range(9)
    ]
    neg = "concat(" + ", ".join(neg_bytes) + ", '01')"
    return f"CASE WHEN ({expr}) < 0 THEN {neg} ELSE {nonneg} END"


def pb_int64_field_hex(field_number: int, expr: str) -> str:
    """``tag varint`` hex for an int64 field; proto3 omits zero."""
    tag = f"{field_number << 3:02x}"  # wire type 0 (varint)
    return (
        f"CASE WHEN ({expr}) != 0 "
        f"THEN concat('{tag}', {pb_varint_hex(expr)}) ELSE '' END"
    )


# Length prefixes are unsigned and bounded: 5 varint bytes cover
# 2^35-1 (34 GB), far past any Kafka record.
_LEN_VARINT_BYTES = 5


def pb_string_field_hex(field_number: int, expr: str) -> str:
    """``tag len bytes`` hex for a string/bytes field; omits empty."""
    tag = f"{(field_number << 3) | 2:02x}"  # wire type 2 (len-delimited)
    hx = f"lower(hex({expr}))"
    blen = f"CAST(length({hx}) / 2 AS BIGINT)"
    length_varint = pb_varint_hex(blen, max_bytes=_LEN_VARINT_BYTES, signed=False)
    return (
        f"CASE WHEN length({hx}) > 0 "
        f"THEN concat('{tag}', {length_varint}, {hx}) ELSE '' END"
    )


def pb_submessage_field_hex(field_number: int, hex_expr: str) -> str:
    """``tag len bytes`` hex for an embedded message whose wire bytes
    are already available as a hex-string expression. Always emitted
    (proto3 omits only *unset* messages, and Decaton always sets
    metadata — DefaultTaskExtractor requires it).

    ``hex_expr`` is substituted ~16× into the length varint — pass a
    staged COLUMN NAME (``withColumn("meta_hex", ...)``) rather than a
    nested encoder expression, or codegen compile time explodes."""
    tag = f"{(field_number << 3) | 2:02x}"
    blen = f"CAST(length({hex_expr}) / 2 AS BIGINT)"
    length_varint = pb_varint_hex(blen, max_bytes=_LEN_VARINT_BYTES, signed=False)
    return f"concat('{tag}', {length_varint}, {hex_expr})"


def task_metadata_hex(
    timestamp_millis: str = "meta_timestamp_millis",
    source_application_id: str = "'decaton-spark'",
    source_instance_id: str = "'local'",
    retry_count: str = "meta_retry_count",
    scheduled_time_millis: str = "meta_scheduled_time_millis",
) -> str:
    """Wire hex of ``TaskMetadataProto`` (decaton.proto:9-25) from
    column/literal SQL expressions, fields in ascending field order
    (protobuf serializers' canonical order)."""
    return "concat(" + ", ".join(
        [
            pb_int64_field_hex(1, timestamp_millis),
            pb_string_field_hex(2, source_application_id),
            pb_string_field_hex(3, source_instance_id),
            pb_int64_field_hex(4, retry_count),
            pb_int64_field_hex(5, scheduled_time_millis),
        ]
    ) + ")"


def task_request_hex(metadata_hex_expr: str, serialized_task: str = "value") -> str:
    """Wire hex of ``DecatonTaskRequest`` (decaton_internal.proto:13-18):
    field 1 = metadata submessage, field 2 = opaque task bytes."""
    return (
        "concat("
        + pb_submessage_field_hex(1, metadata_hex_expr)
        + ", "
        + pb_string_field_hex(2, serialized_task)
        + ")"
    )


# ---------------------------------------------------------------------------
# Dependency-free wire-format decoder (the spec's parse loop)
# ---------------------------------------------------------------------------


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """(unsigned value, next_pos); raises on truncation or >10 bytes.
    The result is masked to 64 bits per spec (a 10th byte may carry
    dead bits above bit 63); signedness is a per-field interpretation
    applied by the message parsers, not here."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        if shift > 63:
            raise ValueError("varint too long")
        b = buf[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return result & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7


def _as_int64(unsigned: int) -> int:
    """Reinterpret an unsigned 64-bit wire value as signed int64."""
    return unsigned - (1 << 64) if unsigned >= (1 << 63) else unsigned


def parse_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) walking the buffer;
    skips over types this protocol doesn't use (64/32-bit) per spec."""
    pos = 0
    while pos < len(buf):
        tag, pos = read_varint(buf, pos)
        field, wtype = tag >> 3, tag & 7
        if wtype == 0:
            val, pos = read_varint(buf, pos)
        elif wtype == 2:
            ln, pos = read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            val = buf[pos : pos + ln]
            pos += ln
        elif wtype == 1:
            val, pos = buf[pos : pos + 8], pos + 8
        elif wtype == 5:
            val, pos = buf[pos : pos + 4], pos + 4
        else:
            raise ValueError(f"unsupported wire type {wtype}")
        yield field, wtype, val


_META_DEFAULTS = {
    "timestamp_millis": 0,
    "source_application_id": "",
    "source_instance_id": "",
    "retry_count": 0,
    "scheduled_time_millis": 0,
}
_META_FIELDS = {
    1: ("timestamp_millis", int),
    2: ("source_application_id", bytes),
    3: ("source_instance_id", bytes),
    4: ("retry_count", int),
    5: ("scheduled_time_millis", int),
}


def parse_task_metadata(buf: bytes) -> dict:
    """``TaskMetadataProto`` → dict with proto3 defaults for absent
    fields (the round-trip identity the oracle checks)."""
    out = dict(_META_DEFAULTS)
    for field, _wtype, val in parse_fields(buf):
        if field in _META_FIELDS:
            name, kind = _META_FIELDS[field]
            out[name] = val.decode("utf-8") if kind is bytes else _as_int64(val)
    return out


def parse_task_request(buf: bytes) -> tuple[dict, bytes]:
    """``DecatonTaskRequest`` → (metadata dict, serialized_task)."""
    meta: dict = dict(_META_DEFAULTS)
    task = b""
    for field, _wtype, val in parse_fields(buf):
        if field == 1:
            meta = parse_task_metadata(val)
        elif field == 2:
            task = val
    return meta, task


def decode_task_requests(df: "DataFrame", wire_col: str = "wire") -> "DataFrame":
    """Arrow-batched decode of a binary ``DecatonTaskRequest`` column:
    appends the five metadata columns (``pb_*``) + ``serialized_task``.
    Projection only — partitioning is preserved, no shuffle."""
    import pandas as pd  # local import: decode path only
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("pb_timestamp_millis", T.LongType()),
            T.StructField("pb_source_application_id", T.StringType()),
            T.StructField("pb_source_instance_id", T.StringType()),
            T.StructField("pb_retry_count", T.LongType()),
            T.StructField("pb_scheduled_time_millis", T.LongType()),
            T.StructField("serialized_task", T.BinaryType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            decoded = [parse_task_request(bytes(b)) for b in pdf[wire_col]]
            pdf = pdf.copy()
            pdf["pb_timestamp_millis"] = [m["timestamp_millis"] for m, _ in decoded]
            pdf["pb_source_application_id"] = [
                m["source_application_id"] for m, _ in decoded
            ]
            pdf["pb_source_instance_id"] = [
                m["source_instance_id"] for m, _ in decoded
            ]
            pdf["pb_retry_count"] = [m["retry_count"] for m, _ in decoded]
            pdf["pb_scheduled_time_millis"] = [
                m["scheduled_time_millis"] for m, _ in decoded
            ]
            pdf["serialized_task"] = [t for _, t in decoded]
            yield pdf

    return df.mapInPandas(batches, schema)
