"""S3 executed: the protobuf wire codec, the descriptor fixture, and the
bytes → decode → flatten_alerts round trip (schema.go:23-34 semantics,
app.go:192-216 flatten) — all hermetic (no protoc/jar needed)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from event_stream_aggr_spark.plans.snort import flatten_alerts, with_kafka_envelope
from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA
from event_stream_aggr_spark.sources.protobuf_wire import (
    METRIC_FIELDS,
    SENSOR_EVENT_FIELDS,
    build_file_descriptor_set,
    decode_sensor_event,
    decode_sensor_events_py,
    encode_sensor_event,
    iter_fields,
)
from tests.fixtures import make_sensor_event

import event_stream_aggr_spark

DESC_PATH = os.path.join(
    os.path.dirname(event_stream_aggr_spark.__file__), "resources", "sensor_event.desc"
)


def test_wire_golden_bytes_handcrafted():
    # Independent hand-assembled bytes (not produced by the encoder):
    # sensor_id (field 5, len-delim): tag 0x2A; snort_priority (field 15,
    # varint): tag 0x78; metrics (field 1, len-delim): tag 0x0A with a
    # nested snort_timestamp (field 1): tag 0x0A.
    nested = b"\x0a\x05ts-01"  # Metric{snort_timestamp: "ts-01"}
    raw = (
        b"\x0a" + bytes([len(nested)]) + nested  # metrics[0]
        + b"\x2a\x09sensor-01"                    # sensor_id
        + b"\x78\x02"                             # snort_priority = 2
    )
    d = decode_sensor_event(raw)
    assert d["sensor_id"] == "sensor-01"
    assert d["snort_priority"] == 2
    assert d["metrics"] == [
        {name: ("ts-01" if name == "snort_timestamp" else None) for _, name, _, _ in METRIC_FIELDS}
    ]
    # encoder reproduces the identical bytes from the same dict
    e = {
        "metrics": [{"snort_timestamp": "ts-01"}],
        "sensor_id": "sensor-01",
        "snort_priority": 2,
    }
    assert encode_sensor_event(e) == raw


def test_wire_roundtrip_full_event():
    e = make_sensor_event(7, n_metrics=3)
    d = decode_sensor_event(encode_sensor_event(e))
    for _, name, kind, _ in SENSOR_EVENT_FIELDS:
        if kind == "metric[]":
            continue
        assert d[name] == e[name], name
    assert len(d["metrics"]) == 3
    for got, want in zip(d["metrics"], e["metrics"]):
        for _, name, _, _ in METRIC_FIELDS:
            assert got[name] == want.get(name), name


def test_wire_negative_int64_roundtrip():
    e = make_sensor_event(1, n_metrics=1, event_seconds=-5)
    assert decode_sensor_event(encode_sensor_event(e))["event_seconds"] == -5


def test_descriptor_fixture_matches_builder_and_parses():
    with open(DESC_PATH, "rb") as f:
        committed = f.read()
    assert committed == build_file_descriptor_set()
    # FileDescriptorSet{file=1}: one FileDescriptorProto with our package,
    # name, syntax and three message_type entries
    (field, wt, fdp), = list(iter_fields(committed))
    assert (field, wt) == (1, 2)
    got = {1: None, 2: None, 12: None}
    messages = []
    for f_no, _wt, raw in iter_fields(fdp):
        if f_no in got:
            got[f_no] = raw
        elif f_no == 4:
            name = next(r for n, _w, r in iter_fields(raw) if n == 1)
            fields = [r for n, _w, r in iter_fields(raw) if n == 2]
            messages.append((name.decode(), len(fields)))
    assert got[1] == b"sensor_event.proto" and got[2] == b"pb" and got[12] == b"proto3"
    assert messages == [
        ("Metric", len(METRIC_FIELDS)),
        ("SensorEvent", len(SENSOR_EVENT_FIELDS)),
        ("AlertSummary", 1),
    ]


def test_bytes_to_flatten_alerts_roundtrip(spark):
    # the reference's ingest: Kafka value bytes → SensorEvent → one
    # alert per metric (app.go:192-216), executed end-to-end
    events = [make_sensor_event(i, n_metrics=i + 1) for i in range(4)]
    for i, e in enumerate(events):
        for j, m in enumerate(e["metrics"][1:], start=1):
            m["snort_src_port"] = 40000 + 10 * i + j  # metric 0 leaves it unset
    raw = spark.createDataFrame(
        [(bytearray(encode_sensor_event(e)),) for e in events], "value binary"
    )
    decoded = decode_sensor_events_py(raw)
    assert [f.name for f in decoded.schema.fields] == [n for _, n, _, _ in SENSOR_EVENT_FIELDS]
    # the Spark schema is the proto layout, nested Metric struct included
    # (field 28 snort_src_port is decoded, so the struct must carry it)
    assert decoded.schema == SENSOR_EVENT_SCHEMA
    metric = decoded.schema["metrics"].dataType.elementType
    assert metric.names == [n for _, n, _, _ in METRIC_FIELDS]
    src_ports = {
        r.event_hash_sha256: [m.snort_src_port for m in r.metrics]
        for r in decoded.select("event_hash_sha256", "metrics").collect()
    }
    for e in events:
        want = decode_sensor_event(encode_sensor_event(e))
        assert src_ports[want["event_hash_sha256"]] == [
            m["snort_src_port"] for m in want["metrics"]
        ]
    alerts = flatten_alerts(decoded)
    assert alerts.count() == sum(e["event_metrics_count"] for e in events)  # 1+2+3+4
    by_sid = {r.sid: r for r in alerts.collect()}
    assert by_sid[1000003].msg == "test alert 3"
    assert by_sid[1000000].priority_str == "High"
    assert by_sid[1000000].src_addr == "192.168.1.0"
    # envelope path works off the decoded frame too
    env = with_kafka_envelope(decoded)
    assert env.filter(F.col("key").isNull()).count() == 0
    assert env.count() == 10


def test_poison_message_drop_and_fail(spark):
    import pytest

    good = encode_sensor_event(make_sensor_event(0, n_metrics=2))
    poison = b"\x0f\xff\xff"  # wire type 7: undecodable
    df = spark.createDataFrame(
        [(bytearray(good),), (bytearray(poison),)], "value binary"
    )
    decoded = decode_sensor_events_py(df)  # default: drop
    assert decoded.count() == 1
    assert flatten_alerts(decoded).count() == 2
    with pytest.raises(Exception, match="unsupported wire type"):
        decode_sensor_events_py(df, on_error="fail").count()


def test_wrong_wire_type_is_poison_not_crash(spark):
    import pytest

    good = encode_sensor_event(make_sensor_event(0, n_metrics=1))
    cases = [
        b"\x10\x01",    # event_hash_sha256 (string field) sent as varint
        b"\x1a\x02hi",  # event_metrics_count (int64 field) sent as len-delim
        b"\x2a\x0ahi",  # sensor_id declares len 10, only 2 bytes present
    ]
    df = spark.createDataFrame(
        [(bytearray(good),)] + [(bytearray(c),) for c in cases], "value binary"
    )
    assert decode_sensor_events_py(df).count() == 1  # drop mode survives all
    for c in cases:
        with pytest.raises(Exception):
            decode_sensor_event(c)  # and none decodes silently


def test_truncated_field_raises():
    import pytest

    with pytest.raises(ValueError, match="truncated"):
        decode_sensor_event(b"\x2a\x0ahi")


def test_truncated_varint_raises_value_error():
    import pytest

    from event_stream_aggr_spark.sources.protobuf_wire import iter_fields

    # field 1 varint whose value has a continuation bit and no next byte
    with pytest.raises(ValueError, match="truncated varint"):
        list(iter_fields(b"\x08\x80"))
    # runaway continuation bits (>10 bytes) must also fail loudly
    with pytest.raises(ValueError, match="10 bytes"):
        list(iter_fields(b"\x08" + b"\x80" * 11))
