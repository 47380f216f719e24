"""S4 executed hermetically: Avro binary codec golden bytes, the
StructType → Avro schema mapping, and the full alert → Avro → decode
round trip (schema.go:36-43 semantics, jar-free)."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_stream_aggr_spark.plans.snort import with_kafka_envelope
from event_stream_aggr_spark.schemas import SNORT_ALERT_SCHEMA
from event_stream_aggr_spark.sources.avro_wire import (
    avro_schema_of,
    decode_record,
    encode_avro_py,
    encode_record,
)
from tests.fixtures import make_sensor_event

_TINY = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"]},
    ],
}


def test_golden_bytes_handcrafted():
    # spec bytes assembled independently: zigzag(1)=2; union index 1 →
    # 0x02; string len 2 → 0x04 then utf-8
    assert encode_record({"a": 1, "b": "hi"}, _TINY) == b"\x02\x02\x04hi"
    # zigzag(-1)=1; null → union index 0
    assert encode_record({"a": -1, "b": None}, _TINY) == b"\x01\x00"
    assert decode_record(b"\x02\x02\x04hi", _TINY) == {"a": 1, "b": "hi"}
    assert decode_record(b"\x01\x00", _TINY) == {"a": -1, "b": None}


def test_schema_mapping_snort_alert():
    s = avro_schema_of(SNORT_ALERT_SCHEMA)
    by_name = {f["name"]: f["type"] for f in s["fields"]}
    assert s["name"] == "SnortAlert" and s["namespace"] == "pb"
    assert len(s["fields"]) == len(SNORT_ALERT_SCHEMA.fields)
    assert by_name["sid"] == "long" and by_name["msg"] == "string"
    assert by_name["src_addr"] == ["null", "string"]       # proto3 optional
    assert by_name["ttl"] == ["null", "long"]
    assert by_name["metadata"]["type"] == "record"         # nested, non-null
    assert [f["name"] for f in by_name["metadata"]["fields"]] == [
        "sensor_id", "sensor_version", "sent_at", "hash_sha256", "read_at", "received_at",
    ]


def test_alert_avro_roundtrip_through_spark(spark):
    events = [make_sensor_event(i, n_metrics=2, snort_service=None if i else "http")
              for i in range(3)]
    env = with_kafka_envelope(spark.createDataFrame(events))
    encoded = encode_avro_py(env)
    # envelope survives; payload is one binary column; metric_idx and
    # underscore temps never enter the record (schema.go:36-43 parity)
    assert {"key", "headers", "event_time", "metric_idx", "value"} <= set(encoded.columns)
    payload_struct = [f for f in env.schema.fields
                      if f.name not in ("key", "headers", "event_time", "metric_idx")]
    from pyspark.sql import types as T

    schema = avro_schema_of(T.StructType(payload_struct))
    rows = encoded.collect()
    assert len(rows) == 6
    src = {(r.sid, r.metric_idx): r for r in with_kafka_envelope(
        spark.createDataFrame(events)).collect()}
    for r in rows:
        d = decode_record(bytes(r.value), schema)
        orig = src[(d["sid"], r.metric_idx)]
        assert d["msg"] == orig.msg
        assert d["priority_str"] == orig.priority_str
        assert d["service"] == orig.service            # None for event 0
        assert d["metadata"]["sensor_id"] == orig.metadata.sensor_id
        assert d["metadata"]["sent_at"] == orig.metadata.sent_at
        assert d["src_addr"] == orig.src_addr


def test_nullable_long_with_nulls_survives_arrow_nan(spark):
    # Arrow→pandas turns nullable int64 into float64+NaN; NaN in a
    # union column must encode as Avro null, not crash int()
    df = spark.createDataFrame(
        [(1, "x", None), (2, "y", 7)], "sid long, msg string, ttl long"
    )
    from pyspark.sql import types as T

    schema = avro_schema_of(
        T.StructType([
            T.StructField("sid", T.LongType(), True),
            T.StructField("msg", T.StringType(), True),
            T.StructField("ttl", T.LongType(), True),
        ])
    )
    decoded = {
        d["sid"]: d
        for d in (decode_record(bytes(r.value), schema) for r in encode_avro_py(df).collect())
    }
    assert decoded[1] == {"sid": 1, "msg": "x", "ttl": None}
    assert decoded[2] == {"sid": 2, "msg": "y", "ttl": 7}


def test_nan_encodes_literally_in_double_branch():
    # for a nullable double a NaN value is a legal IEEE payload and
    # must round-trip as NaN, while None still takes the null branch.
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "x", "type": ["null", "double"]},
            {"name": "n", "type": ["null", "long"]},
        ],
    }
    out = decode_record(encode_record({"x": float("nan"), "n": None}, schema), schema)
    assert out["x"] != out["x"]  # NaN survived the double branch
    assert decode_record(encode_record({"x": None, "n": 3}, schema), schema) == {
        "x": None,
        "n": 3,
    }


def test_truncated_varint_raises_value_error():
    import pytest

    # a continuation bit with no following byte must fail with the
    # module's ValueError convention, not IndexError
    with pytest.raises(ValueError, match="truncated"):
        decode_record(b"\x80", {"type": "record", "name": "t",
                                "fields": [{"name": "a", "type": "long"}]})
