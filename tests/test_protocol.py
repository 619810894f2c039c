"""Protobuf wire format (decaton.proto / decaton_internal.proto shapes)
without any protobuf library: the SQL encoder fragments and the Python
parser are checked against hand-computed bytes from the public encoding
spec (https://protobuf.dev/programming-guides/encoding/), then against
each other (round-trip), in both engines.
"""

from __future__ import annotations

import pytest

from decaton_spark import protocol as pb

# (value, wire hex) — spec examples + boundary values
VARINTS = [
    (0, "00"),
    (1, "01"),
    (127, "7f"),
    (128, "8001"),
    (150, "9601"),  # the protobuf docs' canonical example
    (300, "ac02"),
    (16384, "808001"),
    (1_704_412_800_000, None),  # ms timestamp: checked via round-trip
    ((1 << 63) - 1, None),  # int64 max
]


def py_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


@pytest.mark.parametrize("value,expected", VARINTS)
def test_varint_hex_both_engines(spark, duck, value, expected):
    frag = pb.pb_varint_hex(f"CAST({value} AS BIGINT)")
    got_spark = spark.sql(f"SELECT {frag} AS h").collect()[0]["h"]
    got_duck = duck.sql(f"SELECT {frag} AS h").fetchone()[0]
    want = expected if expected is not None else py_varint(value).hex()
    assert got_spark == want, f"spark varint({value})"
    assert got_duck == want, f"duckdb varint({value})"
    # parser inverts the encoder
    assert pb.read_varint(bytes.fromhex(want), 0) == (value, len(want) // 2)


def test_metadata_wire_bytes_match_spec(spark, duck):
    """TaskMetadataProto(timestamp_millis=150, source_application_id=
    'app') per spec: field1 tag 0x08 + varint, field2 tag 0x12 + len +
    UTF-8; zero/empty fields omitted (proto3)."""
    frag = pb.task_metadata_hex(
        timestamp_millis="CAST(150 AS BIGINT)",
        source_application_id="'app'",
        source_instance_id="''",
        retry_count="CAST(0 AS BIGINT)",
        scheduled_time_millis="CAST(0 AS BIGINT)",
    )
    want = "089601" + "1203" + b"app".hex()
    assert spark.sql(f"SELECT {frag} AS h").collect()[0]["h"] == want
    assert duck.sql(f"SELECT {frag} AS h").fetchone()[0] == want
    meta = pb.parse_task_metadata(bytes.fromhex(want))
    assert meta == {
        "timestamp_millis": 150,
        "source_application_id": "app",
        "source_instance_id": "",
        "retry_count": 0,
        "scheduled_time_millis": 0,
    }


def test_task_request_round_trip(spark):
    """DecatonTaskRequest: metadata submessage + serialized task bytes,
    encoded by the SQL fragments, decoded by the Python parser."""
    meta = pb.task_metadata_hex(
        timestamp_millis="CAST(1704412800000 AS BIGINT)",
        source_application_id="'svc'",
        source_instance_id="'i-3'",
        retry_count="CAST(7 AS BIGINT)",
        scheduled_time_millis="CAST(1704412860000 AS BIGINT)",
    )
    frag = pb.task_request_hex(meta, "'{\"k\": 1}'")
    hx = spark.sql(f"SELECT {frag} AS h").collect()[0]["h"]
    got_meta, task = pb.parse_task_request(bytes.fromhex(hx))
    assert got_meta == {
        "timestamp_millis": 1704412800000,
        "source_application_id": "svc",
        "source_instance_id": "i-3",
        "retry_count": 7,
        "scheduled_time_millis": 1704412860000,
    }
    assert task == b'{"k": 1}'


NEGATIVES = [-1, -3, -128, -1_704_412_800_000, -(1 << 63)]


@pytest.mark.parametrize("value", NEGATIVES)
def test_negative_varint_both_engines(spark, duck, value):
    """Negative int64 → canonical 10-byte two's-complement varint,
    byte-identical in Spark, DuckDB, and the unsigned reference
    encoding; parser folds it back to signed."""
    frag = pb.pb_varint_hex(f"CAST({value} AS BIGINT)")
    want = py_varint(value & 0xFFFFFFFFFFFFFFFF).hex()
    assert len(want) == 20  # 10 bytes
    assert spark.sql(f"SELECT {frag} AS h").collect()[0]["h"] == want
    assert duck.sql(f"SELECT {frag} AS h").fetchone()[0] == want
    unsigned, end = pb.read_varint(bytes.fromhex(want), 0)
    assert end == 10
    assert pb._as_int64(unsigned) == value


def test_negative_metadata_round_trip(spark):
    """Negative scheduled_time/timestamp survive encode→decode (the
    int64 fields are signed per decaton.proto:9-25)."""
    meta = pb.task_metadata_hex(
        timestamp_millis="CAST(-1 AS BIGINT)",
        source_application_id="'svc'",
        source_instance_id="''",
        retry_count="CAST(0 AS BIGINT)",
        scheduled_time_millis="CAST(-9223372036854775807 - 1 AS BIGINT)",
    )
    hx = spark.sql(f"SELECT {meta} AS h").collect()[0]["h"]
    got = pb.parse_task_metadata(bytes.fromhex(hx))
    assert got["timestamp_millis"] == -1
    assert got["scheduled_time_millis"] == -(1 << 63)


def test_decode_engine_gating(spark):
    """The Arrow decoder, the one ``DecatonTaskRequest`` decoder,
    recovers negative int64s and the opaque task bytes."""
    meta = pb.task_metadata_hex(
        timestamp_millis="CAST(5 AS BIGINT)",
        source_application_id="'a'",
        source_instance_id="''",
        retry_count="CAST(-2 AS BIGINT)",
        scheduled_time_millis="CAST(0 AS BIGINT)",
    )
    task_lit = "'t'"
    df = spark.sql(f"SELECT unhex({pb.task_request_hex(meta, task_lit)}) AS wire")
    rows = pb.decode_task_requests(df, "wire").collect()
    assert rows[0]["pb_retry_count"] == -2
    assert bytes(rows[0]["serialized_task"]) == b"t"
    assert rows[0]["pb_timestamp_millis"] == 5


def test_parser_skips_unknown_fields():
    """Forward compatibility: unknown field numbers are skipped, known
    ones still decode (spec's unknown-field rule)."""
    # field 9 varint 5, then field 1 varint 150
    buf = bytes.fromhex("4805" + "089601")
    assert pb.parse_task_metadata(buf)["timestamp_millis"] == 150


def test_parser_rejects_truncation():
    with pytest.raises(ValueError):
        pb.read_varint(bytes.fromhex("80"), 0)  # continuation, no next byte
    with pytest.raises(ValueError):
        pb.parse_task_metadata(bytes.fromhex("1205" + "6161"))  # len 5, 2 bytes


def test_varint_property_roundtrip(duck):
    """Property test over the full int64 domain: the SQL encoder
    (evaluated in DuckDB — same fragment Spark runs) must equal the
    reference unsigned-reinterpretation encoding, and the Python
    parser must invert it, for random and adversarial values."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1)
            | st.sampled_from(
                [0, 1, 127, 128, -1, -128, 2**63 - 1, -(2**63), 300]
            ),
            min_size=1,
            max_size=20,
        )
    )
    def check(values):
        # INT64_MIN can't be written as a literal (the magnitude parses
        # as INT128 before negation) — same workaround the queries use
        rows = ", ".join(
            "((-9223372036854775807 - 1)::BIGINT)"
            if v == -(2**63)
            else f"({v}::BIGINT)"
            for v in values
        )
        frag = pb.pb_varint_hex("v")
        got = duck.sql(
            f"SELECT {frag} AS h FROM (VALUES {rows}) t(v)"
        ).fetchall()
        for v, (h,) in zip(values, got):
            want = py_varint(v & 0xFFFFFFFFFFFFFFFF).hex()
            assert h == want, f"encode({v})"
            unsigned, end = pb.read_varint(bytes.fromhex(h), 0)
            assert end == len(h) // 2
            assert pb._as_int64(unsigned) == v, f"roundtrip({v})"

    check()
