"""Pure-Python Avro binary codec for the SnortAlert output record (S4,
internal/schema/schema.go:36-43: the reference serializes alerts with a
Confluent Avro GenericSerializer).

The spark-avro jar is absent in this container, so ``to_avro``
(sources/kafka.encode_avro) cannot execute here. This module makes the
S4 contract RUN anyway:

- ``avro_schema_of``: Spark StructType → Avro record schema (JSON
  dict), nullable field → ``["null", T]`` union — the same mapping
  spark-avro applies, so the schema JSON is reusable with the real jar.
- ``encode_record`` / ``decode_record``: the Avro binary encoding from
  the public spec — zigzag-varint longs (zigzag over the protobuf
  codec's unsigned varint), length-prefixed UTF-8 strings and bytes,
  union-index prefixes, single-block arrays, record fields in schema
  order.
- ``encode_avro_py``: the jar-free executable sink stage (Arrow-batched
  ``mapInArrow``) producing the same (key, headers, value BINARY)
  frame ``sources.kafka.encode_avro`` would; compose with
  ``sources.registry.frame_confluent`` for the registry wire format.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from event_stream_aggr_spark.sources.kafka import avro_payload_columns
from event_stream_aggr_spark.sources.protobuf_wire import read_varint, write_varint

# ---------------------------------------------------------------------------
# Schema mapping
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[type, str] = {
    T.StringType: "string",
    T.LongType: "long",
    T.IntegerType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}


def _avro_type(dt: T.DataType, name: str) -> Any:
    for cls, avro in _PRIMITIVES.items():
        if isinstance(dt, cls):
            return avro
    if isinstance(dt, T.StructType):
        return avro_schema_of(dt, name=f"{name}_record")
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": _avro_type(dt.elementType, name)}
    raise TypeError(f"no Avro mapping for {dt.simpleString()} ({name})")


def avro_schema_of(
    struct: T.StructType, name: str = "SnortAlert", namespace: str = "pb"
) -> dict:
    """StructType → Avro record schema; nullable → ["null", T] union."""
    fields = []
    for f in struct.fields:
        ft = _avro_type(f.dataType, f.name)
        if f.nullable:
            ft = ["null", ft]
        fields.append({"name": f.name, "type": ft})
    return {"type": "record", "name": name, "namespace": namespace, "fields": fields}


# ---------------------------------------------------------------------------
# Binary encoding (Avro spec)
# ---------------------------------------------------------------------------


def _write_long(n: int) -> bytes:
    """Avro long/int: zigzag, then the shared unsigned varint."""
    return write_varint((n << 1) ^ (n >> 63))


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    n, pos = read_varint(buf, pos)
    return (n >> 1) ^ -(n & 1), pos


def _encode(value: Any, schema: Any) -> bytes:
    if isinstance(schema, list):  # union: zigzag index then value
        branch = next(s for s in schema if s != "null")
        if value is None:
            return _write_long(schema.index("null"))
        idx = schema.index(branch)
        return _write_long(idx) + _encode(value, branch)
    if isinstance(schema, dict):
        if schema["type"] == "record":
            out = bytearray()
            for f in schema["fields"]:
                out += _encode(value.get(f["name"]) if value is not None else None, f["type"])
            return bytes(out)
        if schema["type"] == "array":
            items = list(value if value is not None else [])
            out = bytearray()
            if items:
                out += _write_long(len(items))
                for it in items:
                    out += _encode(it, schema["items"])
            out += _write_long(0)
            return bytes(out)
        raise TypeError(f"unsupported complex type {schema['type']}")
    if schema in ("long", "int"):
        return _write_long(int(value))
    if schema == "string":
        b = str(value).encode()
        return _write_long(len(b)) + b
    if schema == "bytes":
        b = bytes(value)
        return _write_long(len(b)) + b
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema in ("double", "float"):
        import struct as _s

        return _s.pack("<d" if schema == "double" else "<f", float(value))
    raise TypeError(f"unsupported Avro type {schema!r}")


def _decode(buf: bytes, pos: int, schema: Any) -> tuple[Any, int]:
    if isinstance(schema, list):
        idx, pos = _read_long(buf, pos)
        if schema[idx] == "null":
            return None, pos
        return _decode(buf, pos, schema[idx])
    if isinstance(schema, dict):
        if schema["type"] == "record":
            out = {}
            for f in schema["fields"]:
                out[f["name"]], pos = _decode(buf, pos, f["type"])
            return out, pos
        if schema["type"] == "array":
            items = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return items, pos
                if n < 0:  # block with byte-size prefix
                    n = -n
                    _, pos = _read_long(buf, pos)
                for _ in range(n):
                    v, pos = _decode(buf, pos, schema["items"])
                    items.append(v)
        raise TypeError(f"unsupported complex type {schema['type']}")
    if schema in ("long", "int"):
        return _read_long(buf, pos)
    if schema == "string":
        n, pos = _read_long(buf, pos)
        return buf[pos : pos + n].decode(), pos + n
    if schema == "bytes":
        n, pos = _read_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if schema == "boolean":
        return buf[pos] == 1, pos + 1
    if schema in ("double", "float"):
        import struct as _s

        width, fmt = (8, "<d") if schema == "double" else (4, "<f")
        return _s.unpack(fmt, buf[pos : pos + width])[0], pos + width
    raise TypeError(f"unsupported Avro type {schema!r}")


#: Public alias: Confluent's protobuf message-index framing uses this
#: same zigzag-varint encoding (sources/registry.py imports it).
write_zigzag_varint = _write_long


def encode_record(value: dict, schema: dict) -> bytes:
    return _encode(value, schema)


def decode_record(buf: bytes, schema: dict) -> dict:
    out, pos = _decode(buf, 0, schema)
    if pos != len(buf):
        raise ValueError(f"trailing bytes: consumed {pos} of {len(buf)}")
    return out


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------


def encode_avro_py(df: DataFrame) -> DataFrame:
    """S4 executable path: alert rows → (envelope cols, value BINARY
    Avro). Jar-free analogue of ``sources.kafka.encode_avro`` — same
    payload-column selection, same record schema. Envelope columns pass
    through as Arrow arrays untouched."""
    import pyarrow as pa

    payload_cols = avro_payload_columns(df.columns)
    payload_struct = T.StructType([df.schema[c] for c in payload_cols])
    schema = avro_schema_of(payload_struct)
    keep = [c for c in df.columns if c not in payload_cols]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + [T.StructField("value", T.BinaryType(), False)]
    )

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            values = [encode_record(row, schema) for row in rb.select(payload_cols).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [rb.column(c) for c in keep] + [pa.array(values, pa.binary())],
                names=keep + ["value"],
            )

    return df.mapInArrow(op, schema=out_schema)
