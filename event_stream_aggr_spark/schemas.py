"""Declared schemas for the reference's event model.

The reference registers compiled protobuf (input) and Avro (output)
schemas in a Confluent Schema Registry (internal/schema/schema.go:23-43);
field shapes come from protos/sensor_event.proto:8-73 and
internal/types/types.go:3-188. Here both are first-class ``StructType``
constants so the whole pipeline is schema-checked at plan time.

The input side is not written out here: ``METRIC_SCHEMA`` and
``SENSOR_EVENT_SCHEMA`` are derived from the proto field tables in
``sources/protobuf_wire.py`` (the same tables the wire codec and the
shipped descriptor use), in field-number order — the order
``from_protobuf`` yields. proto3 ``optional`` → nullable column;
required proto3 scalars are declared non-nullable (Spark treats
nullability as advisory on read, but the declaration documents the
contract and drives Avro nullability on write).
"""

from __future__ import annotations

from pyspark.sql import types as T

from event_stream_aggr_spark.sources.protobuf_wire import METRIC_FIELDS, SENSOR_EVENT_FIELDS

_SCALARS = {"string": T.StringType(), "int64": T.LongType()}


def _struct_of(table: list[tuple[int, str, str, bool]]) -> T.StructType:
    """StructType of a proto field table, in field-number order."""
    fields = []
    for _, name, kind, optional in sorted(table):
        dtype = T.ArrayType(METRIC_SCHEMA, containsNull=False) if kind == "metric[]" else _SCALARS[kind]
        fields.append(T.StructField(name, dtype, optional))
    return T.StructType(fields)


#: Metric element (protos/sensor_event.proto:8-47). ``snort_timestamp``
#: is the only required field (Snort alert clock, parsed app.go:195).
METRIC_SCHEMA = _struct_of(METRIC_FIELDS)

#: SensorEvent (protos/sensor_event.proto:49-73): header + repeated Metric.
SENSOR_EVENT_SCHEMA = _struct_of(SENSOR_EVENT_FIELDS)

#: Metadata struct nested in SnortAlert (internal/types/types.go:3-24).
#: *_at fields are ISO-8601 strings with trailing zeros suppressed
#: (processor.go:16-18).
ALERT_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType(), False),
        T.StructField("sensor_version", T.StringType(), False),
        T.StructField("sent_at", T.StringType(), False),
        T.StructField("hash_sha256", T.StringType(), False),
        T.StructField("read_at", T.StringType(), False),
        T.StructField("received_at", T.StringType(), False),
    ]
)

_ALERT_NULLABLE_STRINGS = (
    "action",
    "b64_data",
    "class",
    "dir",
    "dst_addr",
    "dst_ap",
    "eth_dst",
    "eth_src",
    "eth_type",
    "pkt_gen",
    "src_addr",
    "src_ap",
    "target",
    "tcp_flags",
    "service",
)

_ALERT_NULLABLE_LONGS = (
    "client_bytes",
    "client_pkts",
    "dst_port",
    "eth_len",
    "flowstart_time",
    "geneve_vni",
    "icmp_code",
    "icmp_id",
    "icmp_seq",
    "icmp_type",
    "ip_id",
    "ip_len",
    "mpls",
    "pkt_len",
    "pkt_num",
    "server_bytes",
    "server_pkts",
    "sgt",
    "tcp_ack",
    "tcp_len",
    "tcp_seq",
    "tcp_win",
    "tos",
    "ttl",
    "udp_len",
    "vlan",
)

#: SnortAlert output record (internal/types/types.go:27-188, json-tag
#: names). One row per metric of the input event (app.go:192-216).
SNORT_ALERT_SCHEMA = T.StructType(
    [
        T.StructField("metadata", ALERT_METADATA_SCHEMA, False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("iface", T.StringType(), False),
        T.StructField("msg", T.StringType(), False),
        T.StructField("priority", T.LongType(), False),
        T.StructField("priority_str", T.StringType(), False),
        T.StructField("proto", T.StringType(), False),
        T.StructField("rev", T.LongType(), False),
        T.StructField("rule", T.StringType(), False),
        T.StructField("seconds", T.LongType(), False),
        T.StructField("sid", T.LongType(), False),
        T.StructField("timestamp", T.StringType(), False),
    ]
    + [T.StructField(n, T.StringType(), True) for n in _ALERT_NULLABLE_STRINGS]
    + [T.StructField(n, T.LongType(), True) for n in _ALERT_NULLABLE_LONGS]
)
