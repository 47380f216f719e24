"""Seeded alert inputs. Everything here is pyarrow + numpy: the Spark
session under test never sees a generator, only the files.

``sensor_events`` / ``records``: SensorEvent dicts encoded with the
package's protobuf codec and laid out as Kafka-source-shaped records
(``kafka_record_schema``), written one parquet file at a time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from event_stream_aggr_spark.sources.protobuf_wire import encode_sensor_event

PRIORITY = {1: "High", 2: "Medium", 3: "Low"}
CLASSES = ["attempted-recon", "policy-violation", "trojan-activity", "misc-attack"]
EPOCH = dt.datetime(1970, 1, 1)

_OPT_STR = (
    "snort_dst_address snort_dst_ap snort_eth_dst snort_eth_src snort_eth_type "
    "snort_pkt_gen snort_src_address snort_src_ap snort_target snort_tcp_flags"
).split()
_OPT_LONG = (
    "snort_client_bytes snort_client_pkts snort_dst_port snort_eth_len "
    "snort_flowstart_time snort_geneve_vni snort_icmp_code snort_icmp_id "
    "snort_icmp_seq snort_icmp_type snort_ip_id snort_ip_length snort_mpls "
    "snort_pkt_length snort_pkt_number snort_server_bytes snort_server_pkts "
    "snort_sgt snort_tcp_ack snort_tcp_len snort_tcp_seq snort_tcp_win "
    "snort_time_to_live snort_udp_length snort_vlan"
).split()


def snort_clock(ts: float) -> str:
    """Epoch seconds → the Snort alert clock ``yy/MM/dd-HH:mm:ss.ffffff`` (UTC)."""
    return (EPOCH + dt.timedelta(microseconds=round(ts * 1e6))).strftime("%y/%m/%d-%H:%M:%S.%f")


# Stands in for the Snort clock until a paced file's due time is known:
# same width, so the encoded bytes can be re-stamped in place.
CLOCK_PLACEHOLDER = "00/00/00-00:00:00.000000"


def sensor_events(rng: np.random.Generator, seed: int, first: int, n: int,
                  clock: str = CLOCK_PLACEHOLDER) -> list[dict]:
    """``n`` SensorEvents numbered from ``first``, every metric stamped
    with the Snort ``clock``. ``rng`` draws metrics-per-event (1-4), the
    null density of the optional metric fields and payload sizes."""
    sec = 1_700_000_000
    counts = rng.integers(1, 5, n)
    total = int(counts.sum())
    nulls = (rng.random((total, 1 + len(_OPT_STR) + len(_OPT_LONG))) < rng.uniform(0.1, 0.5)).tolist()
    longs = rng.integers(0, 1 << 31, (total, len(_OPT_LONG))).tolist()
    sizes = rng.integers(1, 64, total).tolist()
    out = []
    k = 0
    for i, c in zip(range(first, first + n), counts.tolist()):
        metrics = []
        for _ in range(c):
            nl, lv = nulls[k], longs[k]
            m = {
                "snort_timestamp": clock,
                "snort_base64_data": None if nl[0] else "QUJD" * sizes[k],
                "snort_src_port": 1024 + lv[0] % 60000,
            }
            for j, name in enumerate(_OPT_STR, 1):
                m[name] = None if nl[j] else f"{name[6:]}-{lv[j % len(lv)] % 997}"
            for j, name in enumerate(_OPT_LONG):
                m[name] = None if nl[1 + len(_OPT_STR) + j] else lv[j]
            metrics.append(m)
            k += 1
        out.append(
            {
                "metrics": metrics,
                "event_hash_sha256": hashlib.sha256(f"{seed}:{i}".encode()).hexdigest(),
                "event_metrics_count": c,
                "event_seconds": sec,
                "sensor_id": f"sensor-{i % 7}",
                "sensor_version": "3.1.0",
                "event_read_at": sec * 1_000_000 + 1,
                "event_sent_at": sec * 1_000_000 + 2,
                "event_received_at": sec * 1_000_000 + 3,
                "snort_action": "allow" if i % 3 else None,
                "snort_classification": CLASSES[i % len(CLASSES)],
                "snort_direction": "C2S",
                "snort_interface": "eth0",
                "snort_message": f"alert {seed}:{i}",
                "snort_priority": i % 4 + 1,
                "snort_protocol": "TCP",
                "snort_rule_gid": 1,
                "snort_rule_rev": 3,
                "snort_rule_sid": 1_000_000 + i,
                "snort_rule": f"1:{1_000_000 + i}:3",
                "snort_seconds": sec,
                "snort_service": "http" if i % 2 else None,
                "snort_type_of_service": 0,
            }
        )
    return out


_HEADERS = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
RECORD_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        ("headers", _HEADERS),
    ]
)


def records(events: list[dict], first_offset: int, ts: float) -> pa.Table:
    """``events`` as ``sensor_events`` topic records (protobuf values)."""
    n = len(events)
    return pa.table(
        {
            "key": [e["event_hash_sha256"].encode() for e in events],
            "value": [encode_sensor_event(e) for e in events],
            "topic": ["sensor_events"] * n,
            "partition": [0] * n,
            "offset": list(range(first_offset, first_offset + n)),
            "timestamp": [round(ts * 1e6)] * n,
            "timestampType": [0] * n,
            "headers": [[] for _ in range(n)],
        },
        schema=RECORD_SCHEMA,
    )


def restamp(table: pa.Table, clock: str, ts: float) -> pa.Table:
    """Replace the placeholder Snort clock inside every encoded value."""
    old, new = CLOCK_PLACEHOLDER.encode(), clock.encode()
    values = pa.array([v.replace(old, new) for v in table["value"].to_pylist()], pa.binary())
    stamps = pa.array([round(ts * 1e6)] * table.num_rows, RECORD_SCHEMA.field("timestamp").type)
    return table.set_column(1, "value", values).set_column(5, "timestamp", stamps)


def write_atomic(path: str, table: pa.Table) -> None:
    """Write to a hidden name, then rename: a file stream never lists a
    half-written file."""
    d, f = os.path.split(path)
    tmp = os.path.join(d, "." + f)
    pq.write_table(table, tmp)
    os.rename(tmp, path)
