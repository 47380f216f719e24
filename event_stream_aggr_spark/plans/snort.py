"""The reference's whole data path as one declarative DataFrame chain.

Reference flow (internal/app/app.go:173-225):

    SensorEvent → for each metrics[i] → GetRawDataFromMetrics
    (processor.go:21-94, ~46 column mappings + nested metadata struct)
    → scalar derivations (priority label processor.go:109-120, µs→ISO
    strings processor.go:16-18, event-time parse app.go:195-198)
    → Avro + key/headers/event-time envelope (app.go:182-215)

Here the loop body becomes ``explode`` + a single wide ``select`` —
a *narrow* pipeline (no shuffle at any scale; each input partition maps
independently, so on a 1000-executor cluster this is pure map-side
throughput limited only by source/sink bandwidth). The per-message
worker pool of the reference (cmd/main.go:70-76) is subsumed by
partition parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_stream_aggr_spark.functions.scalar import (
    iso_micro_timestamp,
    parse_snort_event_time,
    priority_label,
)

#: metric-level column → output json name (processor.go:41-92 /
#: types.go:33-187 json tags), identity-mapped nullables.
_METRIC_RENAMES = {
    "snort_base64_data": "b64_data",
    "snort_dst_address": "dst_addr",
    "snort_dst_ap": "dst_ap",
    "snort_eth_dst": "eth_dst",
    "snort_eth_src": "eth_src",
    "snort_eth_type": "eth_type",
    "snort_pkt_gen": "pkt_gen",
    "snort_src_address": "src_addr",
    "snort_src_ap": "src_ap",
    "snort_target": "target",
    "snort_tcp_flags": "tcp_flags",
    "snort_client_bytes": "client_bytes",
    "snort_client_pkts": "client_pkts",
    "snort_dst_port": "dst_port",
    "snort_eth_len": "eth_len",
    "snort_flowstart_time": "flowstart_time",
    "snort_geneve_vni": "geneve_vni",
    "snort_icmp_code": "icmp_code",
    "snort_icmp_id": "icmp_id",
    "snort_icmp_seq": "icmp_seq",
    "snort_icmp_type": "icmp_type",
    "snort_ip_id": "ip_id",
    "snort_ip_length": "ip_len",
    "snort_mpls": "mpls",
    "snort_pkt_length": "pkt_len",
    "snort_pkt_number": "pkt_num",
    "snort_server_bytes": "server_bytes",
    "snort_server_pkts": "server_pkts",
    "snort_sgt": "sgt",
    "snort_tcp_ack": "tcp_ack",
    "snort_tcp_len": "tcp_len",
    "snort_tcp_seq": "tcp_seq",
    "snort_tcp_win": "tcp_win",
    "snort_time_to_live": "ttl",
    "snort_udp_length": "udp_len",
    "snort_vlan": "vlan",
}

#: event-level column → output json name (processor.go:30-40,60-75).
_EVENT_RENAMES = {
    "snort_action": "action",
    "snort_classification": "class",
    "snort_direction": "dir",
    "snort_rule_gid": "gid",
    "snort_interface": "iface",
    "snort_message": "msg",
    "snort_protocol": "proto",
    "snort_rule_rev": "rev",
    "snort_rule": "rule",
    "snort_seconds": "seconds",
    "snort_rule_sid": "sid",
    "snort_service": "service",
    "snort_type_of_service": "tos",
}


def _metadata_struct() -> Column:
    """The nested metadata struct (types.go:3-24, processor.go:31-38)."""
    return F.struct(
        F.col("sensor_id"),
        F.col("sensor_version"),
        iso_micro_timestamp("event_sent_at").alias("sent_at"),
        F.col("event_hash_sha256").alias("hash_sha256"),
        iso_micro_timestamp("event_read_at").alias("read_at"),
        iso_micro_timestamp("event_received_at").alias("received_at"),
    ).alias("metadata")


def with_kafka_envelope(events: DataFrame) -> DataFrame:
    """Flattened alerts + the Kafka output envelope (app.go:182-215).

    key = event hash (app.go:182,209); headers hash_sha256 / sensor_id /
    priorityStr / classification (app.go:183-188); record timestamp =
    parsed Snort event time with epoch-seconds fallback (app.go:195-198,
    211). The Kafka sink consumes ``key``/``headers``/``event_time``
    directly (sources/kafka.py); the default partitioner hashing the key
    reproduces PartitionAny+key partitioning (app.go:189).
    """
    exploded = events.filter(F.col("metrics").isNotNull()).select(
        "*", F.posexplode("metrics").alias("_i", "_m")
    )
    hdr = lambda k, v: F.struct(F.lit(k).alias("key"), v.cast("binary").alias("value"))
    cols = [
        F.col("event_hash_sha256").alias("key"),
        # (key, metric_idx) is the alert's replay-stable identity: every
        # metric of an event shares the event hash (app.go:182), so
        # dedup on the key alone would drop sibling alerts, not just
        # redeliveries (see streaming/pipeline.py).
        F.col("_i").cast("long").alias("metric_idx"),
        F.array(
            hdr("hash_sha256", F.col("event_hash_sha256")),
            hdr("sensor_id", F.col("sensor_id")),
            hdr("priorityStr", priority_label("snort_priority")),
            hdr("classification", F.col("snort_classification")),
        ).alias("headers"),
        parse_snort_event_time(F.col("_m.snort_timestamp"), F.col("snort_seconds")).alias(
            "event_time"
        ),
        _metadata_struct(),
        F.col("_m.snort_timestamp").alias("timestamp"),
        F.col("snort_priority").alias("priority"),
        priority_label("snort_priority").alias("priority_str"),
    ]
    cols += [F.col(src).alias(dst) for src, dst in _EVENT_RENAMES.items()]
    cols += [F.col(f"_m.{src}").alias(dst) for src, dst in _METRIC_RENAMES.items()]
    return exploded.select(cols)


def flatten_alerts(events: DataFrame) -> DataFrame:
    """SensorEvent rows → one SnortAlert row per metrics[] element.

    P1 explode (app.go:192) + P2 wide projection/rename (processor.go:
    21-94) + P3 null guard (processor.go:22-24) + F1/F2 derivations:
    ``with_kafka_envelope`` without its envelope columns.
    """
    envelope = ("key", "metric_idx", "headers", "event_time")
    return with_kafka_envelope(events).drop(*envelope)
