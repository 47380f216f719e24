"""Pure-Python protobuf wire codec for the reference's SensorEvent
(S3, /root/reference/protos/sensor_event.proto:8-77 and
internal/schema/schema.go:23-34).

This container has no protoc, no google.protobuf, and no
spark-protobuf jar, so ``from_protobuf`` cannot execute here. The serde
contract still needs to RUN, not just import — this module provides:

- ``encode_sensor_event`` / ``decode_sensor_event``: the proto3 wire
  format (varint + length-delimited fields) written by hand from the
  public spec. Used to build golden byte fixtures and to decode them.
- ``decode_sensor_events_py``: the executable ingest stage — Arrow-
  batched ``mapInArrow`` turning a ``value BINARY`` Kafka column into
  SENSOR_EVENT_SCHEMA columns. Same plan shape as ``from_protobuf``
  (binary → struct at the stream edge); on a cluster with the
  spark-protobuf jar, ``sources.kafka.decode_protobuf`` is the JVM fast
  path and this is the jar-free fallback.
- ``build_file_descriptor_set``: a hand-encoded
  ``FileDescriptorSet`` for sensor_event.proto (descriptor.proto is
  itself protobuf, so the same primitives serialize it). The shipped
  ``resources/sensor_event.desc`` is what
  ``from_protobuf(..., descFilePath=...)`` needs on a real cluster.
- ``METRIC_FIELDS`` / ``SENSOR_EVENT_FIELDS``: the one declaration of
  the message layout; the codec, the descriptor and
  ``schemas.SENSOR_EVENT_SCHEMA`` all derive from them.

Wire format notes (proto3): tag = (field_number << 3) | wire_type;
wire_type 0 = varint (int32/int64/bool/enum), 2 = length-delimited
(string/bytes/embedded message). Negative int64 → 10-byte two's-
complement varint. proto3 ``optional`` scalars are synthetic-oneof
members: present-but-default values ARE serialized, absent → omitted.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Field tables (sensor_event.proto:8-77). kind: "string" | "int64" |
# "int32" | ("message", sub_table_name). optional flags proto3 optional.
# ---------------------------------------------------------------------------

METRIC_FIELDS: list[tuple[int, str, str, bool]] = [
    (1, "snort_timestamp", "string", False),
    (2, "snort_base64_data", "string", True),
    (3, "snort_client_bytes", "int64", True),
    (4, "snort_client_pkts", "int64", True),
    (5, "snort_dst_address", "string", True),
    (6, "snort_dst_port", "int64", True),
    (7, "snort_dst_ap", "string", True),
    (8, "snort_eth_dst", "string", True),
    (9, "snort_eth_len", "int64", True),
    (10, "snort_eth_src", "string", True),
    (11, "snort_eth_type", "string", True),
    (12, "snort_flowstart_time", "int64", True),
    (13, "snort_geneve_vni", "int64", True),
    (14, "snort_icmp_code", "int64", True),
    (15, "snort_icmp_id", "int64", True),
    (16, "snort_icmp_seq", "int64", True),
    (17, "snort_icmp_type", "int64", True),
    (18, "snort_ip_id", "int64", True),
    (19, "snort_ip_length", "int64", True),
    (20, "snort_mpls", "int64", True),
    (21, "snort_pkt_gen", "string", True),
    (22, "snort_pkt_length", "int64", True),
    (23, "snort_pkt_number", "int64", True),
    (24, "snort_server_bytes", "int64", True),
    (25, "snort_server_pkts", "int64", True),
    (26, "snort_sgt", "int64", True),
    (27, "snort_src_address", "string", True),
    (28, "snort_src_port", "int64", True),
    (29, "snort_src_ap", "string", True),
    (30, "snort_target", "string", True),
    (31, "snort_tcp_ack", "int64", True),
    (32, "snort_tcp_flags", "string", True),
    (33, "snort_tcp_len", "int64", True),
    (34, "snort_tcp_seq", "int64", True),
    (35, "snort_tcp_win", "int64", True),
    (36, "snort_time_to_live", "int64", True),
    (37, "snort_udp_length", "int64", True),
    (38, "snort_vlan", "int64", True),
]

SENSOR_EVENT_FIELDS: list[tuple[int, str, str, bool]] = [
    (1, "metrics", "metric[]", False),
    (2, "event_hash_sha256", "string", False),
    (3, "event_metrics_count", "int64", False),
    (4, "event_seconds", "int64", False),
    (5, "sensor_id", "string", False),
    (6, "sensor_version", "string", False),
    (7, "event_read_at", "int64", False),
    (8, "event_sent_at", "int64", False),
    (9, "event_received_at", "int64", False),
    (10, "snort_action", "string", True),
    (11, "snort_classification", "string", True),
    (12, "snort_direction", "string", True),
    (13, "snort_interface", "string", False),
    (14, "snort_message", "string", False),
    (15, "snort_priority", "int64", False),
    (16, "snort_protocol", "string", False),
    (17, "snort_rule_gid", "int64", False),
    (18, "snort_rule_rev", "int64", False),
    (19, "snort_rule_sid", "int64", False),
    (20, "snort_rule", "string", False),
    (21, "snort_seconds", "int64", False),
    (22, "snort_service", "string", True),
    (23, "snort_type_of_service", "int64", True),
]


# ---------------------------------------------------------------------------
# Wire primitives
# ---------------------------------------------------------------------------


def write_varint(n: int) -> bytes:
    """Unsigned LEB128 of ``n`` as 64 bits (a negative int64 is its
    two's complement): the protobuf varint, and under zigzag the Avro
    long (sources/avro_wire.py)."""
    n &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _tag(field: int, wire_type: int) -> bytes:
    return write_varint((field << 3) | wire_type)


def _varint_field(field: int, value: int) -> bytes:
    return _tag(field, 0) + write_varint(value)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + write_varint(len(payload)) + payload


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Unsigned LEB128 at ``buf[pos:]`` → (value, next position)."""
    shift = 0
    result = 0
    while True:
        if pos >= len(buf):  # mid-varint truncation must FAIL like the
            raise ValueError("truncated varint")  # other wire-type paths
        if shift > 63:  # varints are <=10 bytes; runaway cont. bits
            raise ValueError("varint exceeds 10 bytes")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _to_int64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


def iter_fields(buf: bytes) -> Iterator[tuple[int, int, Any]]:
    """Yield (field_number, wire_type, raw_value) triples; varints raw,
    length-delimited as bytes. Unknown fixed32/64 skipped correctly."""
    pos = 0
    while pos < len(buf):
        key, pos = read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = read_varint(buf, pos)
            yield field, wt, v
        elif wt == 2:
            ln, pos = read_varint(buf, pos)
            if pos + ln > len(buf):  # slice would clamp: corrupt data must FAIL
                raise ValueError(
                    f"truncated length-delimited field {field}: declares {ln} bytes, "
                    f"{len(buf) - pos} remain"
                )
            yield field, wt, buf[pos : pos + ln]
            pos += ln
        elif wt == 1:
            if pos + 8 > len(buf):
                raise ValueError(f"truncated fixed64 field {field}")
            yield field, wt, buf[pos : pos + 8]
            pos += 8
        elif wt == 5:
            if pos + 4 > len(buf):
                raise ValueError(f"truncated fixed32 field {field}")
            yield field, wt, buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt} at byte {pos}")


# ---------------------------------------------------------------------------
# SensorEvent codec
# ---------------------------------------------------------------------------


def _encode_fields(d: dict, table: list[tuple[int, str, str, bool]]) -> bytes:
    out = bytearray()
    for num, name, kind, optional in table:
        v = d.get(name)
        if v is None:
            continue
        if kind == "string":
            if v == "" and not optional:
                continue  # proto3: default values of plain fields omitted
            out += _len_field(num, str(v).encode())
        elif kind in ("int64", "int32"):
            if v == 0 and not optional:
                continue
            out += _varint_field(num, int(v))
        elif kind == "metric[]":
            for m in v:
                out += _len_field(num, _encode_fields(m, METRIC_FIELDS))
        else:  # pragma: no cover
            raise ValueError(f"unknown kind {kind}")
    return bytes(out)


def _decode_fields(buf: bytes, table: list[tuple[int, str, str, bool]]) -> dict:
    by_num = {num: (name, kind, optional) for num, name, kind, optional in table}
    # proto3 defaults: plain fields read back as "" / 0, optional as None
    d: dict[str, Any] = {
        name: ([] if kind == "metric[]" else None if optional else ("" if kind == "string" else 0))
        for _, name, kind, optional in table
    }
    for field, _wt, raw in iter_fields(buf):
        if field not in by_num:
            continue  # unknown field: forward-compatible skip
        name, kind, _optional = by_num[field]
        if kind == "string":
            d[name] = raw.decode()
        elif kind in ("int64", "int32"):
            d[name] = _to_int64(raw)
        elif kind == "metric[]":
            d[name].append(_decode_fields(raw, METRIC_FIELDS))
    return d


def encode_sensor_event(e: dict) -> bytes:
    """SensorEvent dict (tests/fixtures.py shape) → proto3 bytes."""
    return _encode_fields(e, SENSOR_EVENT_FIELDS)


def decode_sensor_event(buf: bytes) -> dict:
    """proto3 bytes → SensorEvent dict (schemas.SENSOR_EVENT_SCHEMA shape)."""
    return _decode_fields(buf, SENSOR_EVENT_FIELDS)


def decode_sensor_events_py(df: DataFrame, on_error: str = "drop") -> DataFrame:
    """S3 executable path: ``value BINARY`` → SENSOR_EVENT_SCHEMA columns
    via Arrow-batched ``mapInArrow`` (the jar-free analogue of
    ``sources.kafka.decode_protobuf``; schema.go:23-34 semantics).

    ``on_error="drop"`` skips undecodable values (a poison message must
    not kill an at-least-once pipeline — the reference logs the
    deserialize error and moves on); ``on_error="fail"`` re-raises for
    tests/batch audits.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA

    if on_error not in ("drop", "fail"):
        raise ValueError(f"on_error must be 'drop' or 'fail', got {on_error!r}")
    arrow_schema = to_arrow_schema(SENSOR_EVENT_SCHEMA)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            decoded = []
            for b in rb.column("value").to_pylist():
                try:
                    decoded.append(decode_sensor_event(b))
                except Exception:
                    # any malformation counts as poison (wrong wire type
                    # raises TypeError/AttributeError, truncation
                    # ValueError, bad utf-8 UnicodeDecodeError, a null
                    # value TypeError): drop mode must survive all
                    if on_error == "fail":
                        raise
            if decoded:
                yield pa.RecordBatch.from_pylist(decoded, schema=arrow_schema)

    return df.mapInArrow(op, schema=SENSOR_EVENT_SCHEMA)


# ---------------------------------------------------------------------------
# FileDescriptorSet builder (descriptor.proto, hand-encoded)
# ---------------------------------------------------------------------------

# descriptor.proto field numbers used below (public google spec):
# FileDescriptorSet.file = 1
# FileDescriptorProto: name=1, package=2, message_type=4, syntax=12
# DescriptorProto: name=1, field=2, oneof_decl=8
# FieldDescriptorProto: name=1, number=3, label=4, type=5, type_name=6,
#                       oneof_index=9, proto3_optional=17
# OneofDescriptorProto: name=1
_LABEL_OPTIONAL = 1
_LABEL_REPEATED = 3
_TYPE_INT64 = 3
_TYPE_INT32 = 5
_TYPE_STRING = 9
_TYPE_MESSAGE = 11


def _field_desc(
    name: str,
    number: int,
    kind: str,
    optional: bool,
    oneof_index: int | None,
) -> bytes:
    out = _len_field(1, name.encode()) + _varint_field(3, number)
    if kind == "metric[]":
        out += _varint_field(4, _LABEL_REPEATED)
        out += _varint_field(5, _TYPE_MESSAGE)
        out += _len_field(6, b".pb.Metric")
        return out
    out += _varint_field(4, _LABEL_OPTIONAL)
    out += _varint_field(5, _TYPE_INT32 if kind == "int32" else _TYPE_INT64 if kind == "int64" else _TYPE_STRING)
    if optional:
        out += _varint_field(9, oneof_index)  # synthetic oneof member
        out += _varint_field(17, 1)  # proto3_optional = true
    return out


def _message_desc(name: str, table: list[tuple[int, str, str, bool]]) -> bytes:
    out = _len_field(1, name.encode())
    oneof_idx = 0
    oneofs: list[bytes] = []
    for num, fname, kind, optional in table:
        out += _len_field(
            2, _field_desc(fname, num, kind, optional, oneof_idx if optional else None)
        )
        if optional:
            oneofs.append(_len_field(1, f"_{fname}".encode()))
            oneof_idx += 1
    for o in oneofs:
        out += _len_field(8, o)
    return out


def build_file_descriptor_set() -> bytes:
    """FileDescriptorSet bytes for sensor_event.proto's three messages
    (service/rpc omitted — from_protobuf needs messages only, and
    dropping the rpc removes the google.protobuf.Empty dependency)."""
    fdp = _len_field(1, b"sensor_event.proto")
    fdp += _len_field(2, b"pb")
    fdp += _len_field(4, _message_desc("Metric", METRIC_FIELDS))
    fdp += _len_field(4, _message_desc("SensorEvent", SENSOR_EVENT_FIELDS))
    fdp += _len_field(
        4, _len_field(1, b"AlertSummary") + _len_field(2, _field_desc("total_alerts", 1, "int32", False, None))
    )
    fdp += _len_field(12, b"proto3")
    return _len_field(1, fdp)
