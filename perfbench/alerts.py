"""The Snort alert path: ``alerts_paced`` (open loop, one file per tick
at a fixed offered rate, dedupe on), closed availableNow drains of a
staged backlog (dedupe off) that measure the chain's capacity, the
availableNow start-ups that measure set-up, and the batch-mode prefix
budget used by traces.

Streams run one chain through public calls only:
``read_kafka_records_sim`` → ``decode_sensor_events_py`` →
``snort_alert_stream`` → ``foreachBatch(encode_avro_py`` →
``to_kafka_records`` → append to an output topic directory``)``.
Every micro-batch is written under ``<topic>/batch=<id>`` and its end
time is recorded, so alert latency is computed after the run from the
output records alone (record timestamp = the event's due time).
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from common import percentile, pmedian
from gen import PRIORITY, records, restamp, sensor_events, snort_clock, write_atomic

from event_stream_aggr_spark.plans.snort import with_kafka_envelope
from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA
from event_stream_aggr_spark.sources.avro_wire import avro_schema_of, decode_record, encode_avro_py
from event_stream_aggr_spark.sources.kafka import (
    avro_payload_columns,
    kafka_record_schema,
    read_kafka_records_sim,
    to_kafka_records,
)
from event_stream_aggr_spark.sources.protobuf_wire import decode_sensor_events_py
from event_stream_aggr_spark.streaming.pipeline import snort_alert_stream

N_PARTITIONS = 4
# alerts_paced offered load: fixed, about a third of what the chain
# drains per second on 4 vCPUs, never derived from a measured capacity
OFFERED_ALERTS_PER_S = 400
TICK_S = 0.1
REDELIVER_FRAC = 0.03  # share of paced events sent twice, 0.2-1 s apart
DECODE_SAMPLE = 200  # Avro values decoded back per check


class Expected:
    """What the output topic must hold: one record per (event, metric)."""

    def __init__(self):
        self.events: dict[bytes, dict] = {}

    def add(self, events: list[dict], due: float) -> None:
        for e in events:
            self.events[e["event_hash_sha256"].encode()] = {
                "n": e["event_metrics_count"],
                "due_us": round(due * 1e6),
                "sid": e["snort_rule_sid"],
                "msg": e["snort_message"],
                "headers": [
                    ("hash_sha256", e["event_hash_sha256"]),
                    ("sensor_id", e["sensor_id"]),
                    ("priorityStr", PRIORITY.get(e["snort_priority"], "Informational")),
                    ("classification", e["snort_classification"]),
                ],
            }

    @property
    def alerts(self) -> int:
        return sum(v["n"] for v in self.events.values())


class TopicSink:
    """foreachBatch body: Avro-encode, bind to Kafka records continuing
    each partition's offsets from its high-water mark, append under
    ``batch=<id>``. High-water marks ride an ``Observation`` of the
    write itself, so the sink never re-reads the topic."""

    def __init__(self, topic_dir: str):
        self.topic_dir = topic_dir
        self.hwm: dict[int, int] = {}
        self.batch_end: dict[int, float] = {}

    def __call__(self, batch, batch_id: int) -> None:
        spark = batch.sparkSession
        prev = None
        if self.hwm:
            prev = spark.createDataFrame(sorted(self.hwm.items()), "partition int, offset long")
        rec = to_kafka_records(encode_avro_py(batch), "snort_alerts", N_PARTITIONS, continue_from=prev)
        obs = Observation(f"hwm_{id(self)}_{batch_id}")
        rec = rec.observe(
            obs,
            *[
                F.max(F.when(F.col("partition") == p, F.col("offset"))).alias(f"p{p}")
                for p in range(N_PARTITIONS)
            ],
        )
        rec.write.mode("append").parquet(os.path.join(self.topic_dir, f"batch={batch_id}"))
        for k, v in obs.get.items():
            if v is not None:
                self.hwm[int(k[1:])] = v
        self.batch_end[batch_id] = time.time()


def start_stream(spark, in_dir: str, sink: TopicSink, ckpt: str, files_per_trigger: int,
                 available_now: bool, dedupe: bool = True):
    raw = read_kafka_records_sim(spark, in_dir, max_files_per_trigger=files_per_trigger)
    alerts = snort_alert_stream(decode_sensor_events_py(raw), dedupe=dedupe)
    w = alerts.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# --------------------------------------------------------------------------
# staging
# --------------------------------------------------------------------------


def stage_backlog(rng, seed: int, in_dir: str, n_files: int, events_per_file: int) -> Expected:
    """Equal-sized files of ``events_per_file`` events on one fixed
    Snort clock, for availableNow start-ups and the prefix budget."""
    os.makedirs(in_dir, exist_ok=True)
    exp = Expected()
    due = 1.7e9
    for f in range(n_files):
        evs = sensor_events(rng, seed, f * events_per_file, events_per_file, snort_clock(due))
        write_atomic(os.path.join(in_dir, f"part-{f:05d}.parquet"),
                     records(evs, f * events_per_file, due))
        exp.add(evs, due)
    return exp


class PacedGenerator(threading.Thread):
    """Open-loop producer: file ``k`` is due at ``t0 + k*TICK_S`` and
    every event first sent in it carries that due time as its Snort
    event time. Values are protobuf-encoded before the clock starts and
    only re-stamped with the due time when written. A seeded share of
    events is sent again 2-10 ticks later with identical bytes, inside
    the dedupe horizon; only the first delivery may produce alerts."""

    def __init__(self, rng, seed: int, in_dir: str, seconds: float, rate: float):
        super().__init__(daemon=True)
        self.in_dir = in_dir
        n_ticks = max(1, int(seconds / TICK_S))
        # mean metrics per event is 2.5 (uniform 1-4)
        per_tick = max(1, round(rate * TICK_S / 2.5))
        self.events = [sensor_events(rng, seed, k * per_tick, per_tick) for k in range(n_ticks)]
        # redeliveries[k]: (source tick, row) pairs re-sent with tick k
        self.redeliveries: list[list[tuple[int, int]]] = [[] for _ in range(n_ticks)]
        for k in range(n_ticks):
            for row in np.flatnonzero(rng.random(per_tick) < REDELIVER_FRAC).tolist():
                later = k + int(rng.integers(2, 11))
                if later < n_ticks:
                    self.redeliveries[later].append((k, row))
        self.redelivered = sum(map(len, self.redeliveries))
        self.rows_per_file = [per_tick + len(r) for r in self.redeliveries]
        self.tables = [records(evs, k * per_tick, 0.0) for k, evs in enumerate(self.events)]
        self.t0 = time.time() + 0.5
        self.expected = Expected()
        for k, evs in enumerate(self.events):
            self.expected.add(evs, self.due(k))
        self.written_at: list[float] = []

    def due(self, k: int) -> float:
        return self.t0 + k * TICK_S

    def run(self) -> None:
        for k, table in enumerate(self.tables):
            due = self.due(k)
            self.tables[k] = table = restamp(table, snort_clock(due), due)
            again = self.redeliveries[k]
            if again:
                table = pa.concat_tables(
                    [table] + [self.tables[src].slice(row, 1) for src, row in again])
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            write_atomic(os.path.join(self.in_dir, f"part-{k:05d}.parquet"), table)
            self.written_at.append(time.time())

    def lag_ms(self) -> list[float]:
        return [(w - self.due(k)) * 1e3 for k, w in enumerate(self.written_at)]


def paced(spark, rng, seed: int, work: str, seconds: float, rate: float,
          files_per_trigger: int) -> dict:
    """Run the dedupe chain against the paced generator. Stops only
    after the generator has finished and ``processAllAvailable()``
    returned: a ``stop()`` during a dedupe batch can kill the stream
    thread."""
    in_dir = os.path.join(work, "in")
    sink = TopicSink(os.path.join(work, "topic"))
    os.makedirs(in_dir, exist_ok=True)
    q = start_stream(spark, in_dir, sink, os.path.join(work, "ckpt"), files_per_trigger,
                     available_now=False)
    gen = PacedGenerator(rng, seed, in_dir, seconds, rate)
    gen.start()
    gen.join()
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return {"gen": gen, "sink": sink, "progress": progress}


def drain(spark, in_dir: str, work: str, files_per_trigger: int) -> dict:
    """One closed-loop availableNow drain of a staged backlog through the
    chain with dedupe off."""
    sink = TopicSink(os.path.join(work, "topic"))
    q = start_stream(spark, in_dir, sink, os.path.join(work, "ckpt"), files_per_trigger,
                     available_now=True, dedupe=False)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return {"sink": sink, "progress": list(q.recentProgress)}


# --------------------------------------------------------------------------
# output checks and latency
# --------------------------------------------------------------------------


def payload_schema(spark) -> dict:
    """The Avro record schema ``encode_avro_py`` writes, derived the
    same way from the alert frame (plan analysis only, no job)."""
    alerts = with_kafka_envelope(spark.createDataFrame([], SENSOR_EVENT_SCHEMA)).schema
    cols = avro_payload_columns(alerts.fieldNames())
    return avro_schema_of(type(alerts)([alerts[c] for c in cols]))


def read_topic(topic_dir: str, batch_ids) -> dict[int, dict]:
    """Each batch's records as columns; ``ts_us`` is the record
    timestamp as epoch microseconds."""
    out = {}
    for b in sorted(batch_ids):
        d = os.path.join(topic_dir, f"batch={b}")
        if not os.path.isdir(d):
            out[b] = None
            continue
        t = pq.read_table(d)
        cols = t.drop(["timestamp"]).to_pydict()
        cols["ts_us"] = t["timestamp"].cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
        out[b] = cols
    return out


def check_topic(batches: dict[int, dict], exp: Expected, schema: dict, rng,
                corrupt: bool = False) -> tuple[int, Counter]:
    """(attempted, problems) over one output topic, counted in alerts.

    A problem is a missing or duplicated alert, a record whose key,
    headers or timestamp is wrong, a partition whose offsets are not
    contiguous from 0, or a sampled Avro value that does not decode
    back to the generated sid/msg. ``corrupt`` damages the msg of one
    sampled value first (self-test)."""
    seen: Counter = Counter()
    problems: Counter = Counter()
    offsets: dict[int, list[int]] = {}
    values = []
    for cols in batches.values():
        if cols is None:
            continue
        for key, hdrs, ts_us, part, off, val in zip(
            cols["key"], cols["headers"], cols["ts_us"], cols["partition"], cols["offset"],
            cols["value"],
        ):
            offsets.setdefault(part, []).append(off)
            seen[key] += 1
            e = exp.events.get(key)
            if e is None:
                problems["unknown_key"] += 1
                continue
            if [(h["key"], (h["value"] or b"").decode()) for h in hdrs] != e["headers"]:
                problems["headers"] += 1
            if ts_us != e["due_us"]:
                problems["timestamp"] += 1
            values.append((key, val))
    for k, e in exp.events.items():
        n = seen.get(k, 0)
        if n < e["n"]:
            problems["missing"] += e["n"] - n
        elif n > e["n"]:
            problems["duplicated"] += n - e["n"]
    for offs in offsets.values():
        if sorted(offs) != list(range(len(offs))):
            problems["offsets"] += 1
    pick = rng.choice(len(values), size=min(DECODE_SAMPLE, len(values)), replace=False) if values else []
    for n, i in enumerate(pick):
        key, val = values[int(i)]
        if corrupt and n == 0:  # reverse the msg string's bytes in place
            msg = exp.events[key]["msg"].encode()
            val = val.replace(msg, msg[::-1])
        try:
            rec = decode_record(val, schema)
            ok = rec["sid"] == exp.events[key]["sid"] and rec["msg"] == exp.events[key]["msg"]
        except Exception:
            ok = False
        problems["avro"] += not ok
    return exp.alerts, +problems


def trigger_work(batches: dict[int, dict], progress: list) -> list[tuple[int, float]]:
    """(alerts written, trigger execution seconds) per batch."""
    ms = {p.batchId: p.durationMs.get("triggerExecution", 0) for p in progress}
    return [(len(cols["key"]), ms[b] / 1e3) for b, cols in sorted(batches.items())
            if cols is not None and ms.get(b)]


def latencies_ms(batches: dict[int, dict], batch_end: dict[int, float],
                 since: float = 0.0) -> list[float]:
    """Per-alert latency: end of the foreachBatch that wrote the alert
    minus the alert's due time (its record timestamp), for alerts due at
    or after ``since`` (epoch seconds)."""
    out = []
    for b, cols in batches.items():
        if cols is not None:
            out.extend((batch_end[b] - ts / 1e6) * 1e3 for ts in cols["ts_us"] if ts / 1e6 >= since)
    return out


# --------------------------------------------------------------------------
# tracing: streaming progress and the batch-mode prefix budget
# --------------------------------------------------------------------------


def progress_layers(progress: list, gen: PacedGenerator) -> dict:
    """Per-layer streaming and dedupe-state numbers of a paced run, from
    its ``StreamingQueryProgress`` events and the generator's log."""
    ps = [p for p in progress if p.numInputRows > 0]
    dur = lambda k: [p.durationMs.get(k, 0) for p in ps]  # noqa: E731
    trig, add = dur("triggerExecution"), dur("addBatch")
    # backlog at each trigger start: files due by then, minus files consumed
    cum_rows, consumed, backlog = np.cumsum(gen.rows_per_file), 0, []
    due_times = [gen.due(k) for k in range(len(cum_rows))]
    for p in ps:
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        due = int(np.searchsorted(due_times, start, "right"))
        backlog.append(max(0, due - int(np.searchsorted(cum_rows, consumed, "right"))))
        consumed += p.numInputRows
    state = [p.stateOperators[0] for p in ps]
    return {
        "stream.batches": len(ps),
        "stream.rows_per_batch_p50": pmedian([p.numInputRows for p in ps]),
        "stream.trigger_ms_p50": pmedian(trig),
        "stream.trigger_ms_p90": percentile(trig, 90),
        "stream.addBatch_ms_p50": pmedian(add),
        "stream.overhead_ms_p50": pmedian([t - a for t, a in zip(trig, add)]),
        "stream.latestOffset_ms_p50": pmedian(dur("latestOffset")),
        "stream.queryPlanning_ms_p50": pmedian(dur("queryPlanning")),
        "stream.walCommit_ms_p50": pmedian(dur("walCommit")),
        "stream.commitOffsets_ms_p50": pmedian(dur("commitOffsets")),
        "stream.backlog_files_max": max(backlog, default=0),
        "gen.lag_ms_p90": percentile(gen.lag_ms(), 90),
        "state.rows_total_end": state[-1].numRowsTotal,
        "state.memory_bytes_end": state[-1].memoryUsedBytes,
        "state.commit_ms_p50": pmedian([s.commitTimeMs for s in state]),
        "state.dropped_duplicates": sum(
            s.customMetrics.get("numDroppedDuplicateRows", 0) for s in state),
    }


def prefix_budget(spark, in_dir: str, work: str, alerts: int, reps: int = 3) -> dict:
    """Batch-mode cumulative prefixes over staged input: read; +decode;
    +envelope; +Avro encode; +record bind; +sink. A layer's self time is
    its prefix's fastest of ``reps`` runs minus the previous prefix's,
    per 1,000 alerts (the minimum is the least contended estimate of a
    fixed amount of work)."""
    raw = spark.read.schema(kafka_record_schema()).parquet(in_dir)
    decoded = decode_sensor_events_py(raw)
    enveloped = snort_alert_stream(decoded, dedupe=False)
    encoded = encode_avro_py(enveloped)
    bound = to_kafka_records(encoded, "snort_alerts", N_PARTITIONS)
    noop = lambda df: lambda: df.write.mode("overwrite").format("noop").save()  # noqa: E731
    sink_dir = os.path.join(work, "prefix_sink")
    prefixes = [
        ("sources.read", noop(raw)),
        ("sources.decode", noop(decoded)),
        ("plans.envelope", noop(enveloped)),
        ("sources.encode", noop(encoded)),
        ("sources.bind", noop(bound)),
        ("sink.write", lambda: bound.write.mode("overwrite").parquet(sink_dir)),
    ]
    out, prev = {}, 0.0
    for layer, run in prefixes:
        ts = []
        for _ in range(reps):
            t = time.perf_counter()
            run()
            ts.append((time.perf_counter() - t) * 1e3)
        out[f"{layer}_ms_per_kalert"] = (min(ts) - prev) * 1000.0 / max(1, alerts)
        prev = min(ts)
    out["sources.decode_dropped"] = raw.count() - decoded.count()
    return out
