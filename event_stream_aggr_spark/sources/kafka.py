"""Kafka source/sink builders (SURVEY.md §2.1 S1-S6).

Reproduces the reference's Kafka contract on Structured Streaming:

- source (S1): subscribe topic, earliest offsets
  (internal/kafka_client/consumer.go:5-22); offset progress lives in
  the checkpoint, not a consumer-group commit — this subsumes the
  manual commit-after-produce (S6, app.go:220) with the same
  at-least-once delivery into the sink and stronger replay semantics.
- sink (S2/S5): the DataFrame must carry ``key``/``value`` (and
  optionally ``headers``/``topic``); batching knobs mirror the
  reference's producer tuning (linger 10ms / batch 64KiB,
  producer.go:11-13).
- payload codecs (S3/S4): ``from_protobuf`` / ``to_avro`` from
  pyspark.sql.protobuf/avro — descriptor-file based here; Schema
  Registry wire format is a config away on a real deployment.

The Kafka connector jar is not in this container, so everything here
is builder-only (no I/O at import); tests exercise the same pipeline
through file streams (sources/files.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    include_headers: bool = True,
) -> dict[str, str]:
    """S1 source options, mirroring consumer.go:5-22 (earliest offsets,
    6 s session timeout); exposed as a dict so tests can assert parity
    without a Kafka jar in the container."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "includeHeaders": str(include_headers).lower(),
        "kafka.session.timeout.ms": "6000",  # consumer.go:7
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    include_headers: bool = True,
) -> DataFrame:
    """S1: Kafka source (value: binary, key: binary, headers, timestamp)."""
    reader = spark.readStream.format("kafka").options(
        **kafka_source_options(
            bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger, include_headers
        )
    )
    return reader.load()


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    checkpoint_location: str,
    linger_ms: int = 10,
    batch_size: int = 65536,
) -> dict[str, str]:
    """S2 sink options, mirroring producer.go:7-27 option-for-option."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_location,
        "kafka.linger.ms": str(linger_ms),  # producer.go:12
        "kafka.batch.size": str(batch_size),  # producer.go:13
        "kafka.acks": "all",  # producer.go:14
        "kafka.enable.idempotence": "true",  # producer.go:10
    }


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_location: str,
    linger_ms: int = 10,
    batch_size: int = 65536,
) -> DataStreamWriter:
    """S2+S5+S6: Kafka sink honoring key/value/headers columns.

    acks=all + idempotence mirror producer.go:10-15; exactly-once
    source tracking via the checkpoint + at-least-once produce matches
    the reference's delivery contract (SURVEY.md §2.1 S6).
    """
    return df.writeStream.format("kafka").options(
        **kafka_sink_options(
            bootstrap_servers, topic, checkpoint_location, linger_ms, batch_size
        )
    )


def decode_protobuf(
    df: DataFrame, message_name: str = "pb.SensorEvent", desc_file_path: str | None = None
) -> DataFrame:
    """S3 JVM fast path: value binary → SensorEvent struct via
    from_protobuf (schema.go:23-34 analogue). The compiled descriptor
    ships as package data (resources/sensor_event.desc, hand-encoded by
    sources/protobuf_wire.build_file_descriptor_set — byte-for-byte
    asserted in tests); this container lacks the spark-protobuf jar, so
    tests execute the same contract through
    protobuf_wire.decode_sensor_events_py instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.protobuf.functions import from_protobuf

    if desc_file_path is None:
        import os

        desc_file_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "resources",
            "sensor_event.desc",
        )
    return df.select(
        from_protobuf(F.col("value"), message_name, descFilePath=desc_file_path).alias(
            "event"
        )
    ).select("event.*")


#: columns that ride the Kafka envelope, never the Avro record body.
_ENVELOPE_COLS = ("key", "headers", "event_time", "topic")
#: engine-internal columns absent from the reference's SnortAlert Avro
#: record (schema.go:36-43): metric_idx is the synthetic explode ordinal.
_INTERNAL_COLS = ("metric_idx",)


def avro_payload_columns(columns: list[str]) -> list[str]:
    """The subset of ``columns`` that belongs in the Avro record body:
    everything except the Kafka envelope, engine-internal ordinals, and
    underscore-prefixed temporaries."""
    return [
        c
        for c in columns
        if c not in _ENVELOPE_COLS and c not in _INTERNAL_COLS and not c.startswith("_")
    ]


def kafka_record_schema():
    """The exact column set Spark's Kafka source yields with
    ``includeHeaders=true`` — the record shape the hermetic broker
    stand-in must reproduce so pipeline code written against the real
    source runs unmodified against the simulator."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("key", T.BinaryType(), True),
            T.StructField("value", T.BinaryType(), True),
            T.StructField("topic", T.StringType(), True),
            T.StructField("partition", T.IntegerType(), True),
            T.StructField("offset", T.LongType(), True),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("timestampType", T.IntegerType(), True),
            T.StructField(
                "headers",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("key", T.StringType(), True),
                            T.StructField("value", T.BinaryType(), True),
                        ]
                    )
                ),
                True,
            ),
        ]
    )


def to_kafka_records(
    df: DataFrame,
    topic: str,
    n_partitions: int = 4,
    continue_from: DataFrame | None = None,
) -> DataFrame:
    """Producer-side record binding (batch): a sink frame carrying
    ``key``/``value`` (and optionally ``headers``/``event_time``) →
    the records a broker would append, with Kafka's observable
    semantics reproduced:

    - **partition = hash(key) % n** — every record with one key lands
      on one partition, the ordering guarantee the reference relies on
      by keying on the event hash (app.go:182,189,209). xxhash64
      stands in for Kafka's murmur2: only the key→partition stability
      matters, not the exact placement.
    - **offset** — contiguous per-partition append sequence (window
      ``row_number`` over a deterministic order; real brokers use
      arrival order, which Kafka only defines per key anyway). Pass
      the already-appended records as ``continue_from`` and offsets
      continue from each partition's high-water mark, the way a broker
      appends across produce batches.
    - **timestamp = event_time** (CreateTime, timestampType=0): the
      producer stamps the record with the parsed Snort event time
      (app.go:211), which the consumer side then reads back.

    Used by the broker stand-in in tests (sink side of the
    envelope→bytes→decode loop); a real deployment hands the same
    frame to ``write_kafka_stream`` instead.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ts = (
        F.col("event_time")
        if "event_time" in df.columns
        else F.current_timestamp()
    )
    hdrs = (
        F.col("headers")
        if "headers" in df.columns
        else F.lit(None).cast("array<struct<key:string,value:binary>>")
    )
    order = [c for c in ("key", "metric_idx") if c in df.columns] or ["key"]
    rec = df.withColumn(
        "partition",
        F.pmod(F.xxhash64(F.col("key").cast("binary")), F.lit(n_partitions)).cast("int"),
    ).withColumn(
        "offset",
        (
            F.row_number().over(
                Window.partitionBy("partition").orderBy(*[F.col(c) for c in order])
            )
            - 1
        ).cast("long"),
    )
    if continue_from is not None:
        high_water = continue_from.groupBy("partition").agg(
            (F.max("offset") + 1).alias("_base")
        )
        rec = (
            rec.join(F.broadcast(high_water), "partition", "left")
            .withColumn("offset", F.col("offset") + F.coalesce("_base", F.lit(0)))
            .drop("_base")
        )
    return rec.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        "partition",
        "offset",
        ts.alias("timestamp"),
        F.lit(0).alias("timestampType"),
        hdrs.alias("headers"),
    )


def read_kafka_records_sim(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """S1 broker stand-in: stream a directory of Kafka-record-shaped
    parquet files with the EXACT source schema (`kafka_record_schema`),
    so key/headers/timestamp binding executes against real record
    semantics without a broker. maxFilesPerTrigger bounds batch size
    the way maxOffsetsPerTrigger does on the real source."""
    from event_stream_aggr_spark.sources.files import stream_parquet_dir

    return stream_parquet_dir(
        spark, path, kafka_record_schema(), max_files_per_trigger=max_files_per_trigger
    )


def encode_avro(df: DataFrame, json_format_schema: str) -> DataFrame:
    """S4: alert struct → Avro binary ``value`` via to_avro
    (schema.go:36-43 analogue), keeping key/headers for the sink."""
    from pyspark.sql import functions as F
    from pyspark.sql.avro.functions import to_avro

    payload_cols = avro_payload_columns(df.columns)
    keep = [c for c in _ENVELOPE_COLS if c in df.columns]
    return df.select(
        *keep, to_avro(F.struct(*payload_cols), json_format_schema).alias("value")
    )
