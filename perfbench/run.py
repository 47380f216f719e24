"""One benchmark for the Snort alert path and the query surface.

Run from the repository root:

    python3 perfbench/run.py --workload alerts_paced --seed 1 --seconds 16 --trace 0

Workloads: ``alerts_paced`` and ``query_mix`` (see README.md). The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries run metadata (cores, parallelism, seed, offered rate,
sample counts, failed_frac). All scratch files live under
``.perfbench_work/`` in the current directory.

``--tiny`` shrinks every input and ``--inject avro|query_row`` corrupts
one output on purpose; both exist for ``selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    TAIL,
    canary_ms,
    job_counts,
    jvm_peak_rss_mb,
    percentile,
    pmedian,
    stop_spark,
)

WORKLOADS = ("alerts_paced", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
PER_LAYER = {
    **{f"{m}_ms_per_kalert": "ms" for m in (
        "sources.read", "sources.decode", "plans.envelope", "sources.encode",
        "sources.bind", "sink.write")},
    "sources.decode_dropped": "count",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "rows",
    "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p90": "ms",
    "stream.addBatch_ms_p50": "ms",
    "stream.overhead_ms_p50": "ms",
    "stream.latestOffset_ms_p50": "ms",
    "stream.queryPlanning_ms_p50": "ms",
    "stream.walCommit_ms_p50": "ms",
    "stream.commitOffsets_ms_p50": "ms",
    "stream.backlog_files_max": "count",
    "gen.lag_ms_p90": "ms",
    "state.rows_total_end": "count",
    "state.memory_bytes_end": "bytes",
    "state.commit_ms_p50": "ms",
    "state.dropped_duplicates": "count",
    "tables.load_ms": "ms",
    "tables.load_jobs": "count",
    "plan.build_ms_total": "ms",
    "plan.build_jobs_total": "count",
    "exec.ms_total": "ms",
    "exec.jobs_total": "count",
    "exec.stages_total": "count",
    "exec.tasks_total": "count",
    "exec.failed_tasks": "count",
    **{f"query.{q}.{k}": u for q in TAIL for k, u in
       (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))},
    "session.start_s": "s",
    "stagecache.cold_pass_s": "s",
    "host.canary_ms_p50": "ms",
    "host.canary_ms_max": "ms",
    "jvm.peak_rss_mb": "MB",
}
SETUP_REPS = 3
# Spark cores: two of the host's vCPUs. Each task also drives a Python
# worker, and the JVM's own threads and the paced generator need room;
# at local[4] on 4 vCPUs a paced trigger took 1.8 s instead of 1.2 s
# and its state commit 520 ms instead of 130 ms, swinging with the host.
SPARK_CORES = 2
# the capacity drain: a warm-up trigger, then DRAIN_TRIGGERS timed
# triggers of one file per core; it takes about DRAIN_S seconds
DRAIN_TRIGGERS = 3
DRAIN_EVENTS_PER_FILE = 500
DRAIN_S = 4.0
# paced alerts due in the first seconds (first triggers, state store
# creation) are checked but not timed
PACED_WARMUP_S = 2.0
TABLES_DIR = os.path.join(HERE, "data", "sf0.01")


class Ctx:
    def __init__(self, spark, args, work: str):
        import numpy as np

        self.spark = spark
        self.seed = args.seed
        self.rng = np.random.default_rng(args.seed)
        self.seconds = args.seconds
        self.tiny = args.tiny
        self.inject = args.inject
        self.work = work
        self.cores = spark.sparkContext.defaultParallelism
        self.canary: list[float] = []
        self.meta: dict = {}
        self.n_dirs = 0

    def fresh(self, name: str) -> str:
        self.n_dirs += 1
        d = os.path.join(self.work, f"{self.n_dirs:03d}-{name}")
        os.makedirs(d)
        return d

    def sample_canary(self) -> None:
        self.canary.append(canary_ms())


# --------------------------------------------------------------------------
# alert workloads
# --------------------------------------------------------------------------


def alert_setup(ctx: Ctx) -> float:
    """Median time to bring the dedupe stream up and through a small
    availableNow input (one file per core). These runs also warm the JVM
    and the Python workers; their numbers never enter the timed metrics."""
    import alerts

    in_dir = ctx.fresh("setup-in")
    alerts.stage_backlog(ctx.rng, ctx.seed, in_dir, ctx.cores, 20)
    times = []
    for _ in range(SETUP_REPS):
        d = ctx.fresh("setup")
        sink = alerts.TopicSink(os.path.join(d, "topic"))
        t = time.perf_counter()
        q = alerts.start_stream(ctx.spark, in_dir, sink, os.path.join(d, "ckpt"), ctx.cores,
                                available_now=True)
        q.awaitTermination()
        times.append(time.perf_counter() - t)
    return pmedian(times)


def paced_timed(ctx: Ctx, schema, seconds: float, traced: bool, warmup_s: float) -> dict:
    """Latency of alerts due after the first ``warmup_s`` seconds; every
    alert is checked."""
    import alerts

    rate = alerts.OFFERED_ALERTS_PER_S
    r = alerts.paced(ctx.spark, ctx.rng, ctx.seed, ctx.fresh("paced"), seconds,
                     rate, files_per_trigger=64)
    gen, sink = r["gen"], r["sink"]
    topic = alerts.read_topic(sink.topic_dir, sink.batch_end)
    attempted, problems = alerts.check_topic(topic, gen.expected, schema, ctx.rng,
                                             corrupt=ctx.inject == "avro")
    lat = alerts.latencies_ms(topic, sink.batch_end, since=gen.t0 + warmup_s)
    out = {
        "e2e": {"latency_p50_ms": percentile(lat, 50), "latency_p90_ms": percentile(lat, 90)},
        "attempted": attempted,
        "failed": sum(problems.values()),
        "meta": {"offered_alerts_per_s": rate, "alerts": gen.expected.alerts,
                 "redelivered_events": gen.redelivered, "latency_samples": len(lat),
                 "paced_trigger_ms": [p.durationMs.get("triggerExecution") for p in r["progress"]
                                      if p.numInputRows],
                 "problems": dict(problems)},
    }
    if traced:
        layers = alerts.progress_layers(r["progress"], gen=gen)
        jobs = job_counts(ctx.spark, {str(p.runId) for p in r["progress"]})
        layers["exec.ms_total"] = float(sum(p.durationMs.get("addBatch", 0) for p in r["progress"]))
        layers.update({"exec.jobs_total": jobs["jobs"], "exec.stages_total": jobs["stages"],
                       "exec.tasks_total": jobs["tasks"], "exec.failed_tasks": jobs["failed_tasks"]})
        out["layers"] = layers
    return out


def drain_timed(ctx: Ctx, schema, in_dir: str, exp) -> dict:
    """One availableNow drain of the staged backlog, ``cores`` files per
    trigger. The first trigger is a warm-up (it also has no offsets to
    continue from); the capacity is the median over the later triggers
    of alerts written per second of trigger execution (query start-up
    left out). The output is checked after the clock stops."""
    import alerts

    r = alerts.drain(ctx.spark, in_dir, ctx.fresh("drain"), ctx.cores)
    topic = alerts.read_topic(r["sink"].topic_dir, r["sink"].batch_end)
    attempted, problems = alerts.check_topic(topic, exp, schema, ctx.rng)
    rates = [a / s for a, s in alerts.trigger_work(topic, r["progress"])]
    return {"throughput_per_s": pmedian(rates[1:] or rates),
            "attempted": attempted, "failed": sum(problems.values()),
            "meta": {"drain_alerts_per_s": rates, "drain_alerts": exp.alerts,
                     "drain_problems": dict(problems)}}


def run_alerts_paced(ctx: Ctx, traced: bool) -> dict:
    """The paced open loop for all but ``DRAIN_S`` of ``--seconds``
    (latencies), then one drain of a staged backlog (capacity)."""
    import alerts

    ph = [time.perf_counter()]
    schema = alerts.payload_schema(ctx.spark)
    setup_s = alert_setup(ctx)
    in_dir = ctx.fresh("drain-in")
    triggers, per_file = (2, 10) if ctx.tiny else (1 + DRAIN_TRIGGERS, DRAIN_EVENTS_PER_FILE)
    exp = alerts.stage_backlog(ctx.rng, ctx.seed, in_dir, triggers * ctx.cores, per_file)
    ph.append(time.perf_counter())
    ctx.sample_canary()
    res = paced_timed(ctx, schema, max(2.0, ctx.seconds - DRAIN_S), traced,
                      warmup_s=0.0 if ctx.tiny else PACED_WARMUP_S)
    ph.append(time.perf_counter())
    d = drain_timed(ctx, schema, in_dir, exp)
    ph.append(time.perf_counter())
    ctx.sample_canary()
    res["meta"]["phase_s"] = [round(b - a, 2) for a, b in zip(ph, ph[1:])]
    res["e2e"]["throughput_per_s"] = d["throughput_per_s"]
    res["attempted"] += d["attempted"]
    res["failed"] += d["failed"]
    res["meta"].update(d["meta"])
    res["setup_s"] = setup_s
    if traced:
        res["layers"].update(alerts.prefix_budget(ctx.spark, in_dir, ctx.fresh("prefix"), exp.alerts))
    return res


# --------------------------------------------------------------------------
# query workload
# --------------------------------------------------------------------------


def run_query_mix(ctx: Ctx, traced: bool) -> dict:
    import queries

    reg = queries.specs()
    tables = TABLES_DIR
    mix = queries.MIX[:3] if ctx.tiny else queries.MIX
    ph = [time.perf_counter()]
    setup = [queries.load_tables(ctx.spark, tables, f"setup:{i}") for i in range(SETUP_REPS)]
    ph.append(time.perf_counter())
    t = time.perf_counter()
    order = [mix[i] for i in ctx.rng.permutation(len(mix))]
    failed = queries.check_pass(ctx.spark, reg, order, tables,
                                drop_row=order[0] if ctx.inject == "query_row" else None)
    cold_s = time.perf_counter() - t
    # no separate warm pass: the cold pass warms every plan, and the
    # per-query medians leave out a first timed pass that still runs slow
    ctx.sample_canary()
    ph.append(time.perf_counter())
    r = queries.timed_passes(ctx.spark, reg, ctx.rng, tables, ctx.seconds, "t", mix)
    ph.append(time.perf_counter())
    ctx.sample_canary()
    res = {"e2e": queries.e2e(r), "setup_s": pmedian(setup) / 1e3,
           "attempted": len(r["samples"]) + len(order), "failed": failed,
           "meta": {"pass_s": r["pass_s"], "latency_samples": len(r["samples"]),
                    "phase_s": [round(b - a, 2) for a, b in zip(ph, ph[1:])],
                    "query_ms_p50": {q: pmedian(v) for q, v in sorted(r["per_query"].items())}}}
    if traced:
        lay = res["layers"] = queries.query_layers(ctx.spark, r)
        lay.update(queries.table_layers(ctx.spark, tables, "trace:tables"))
        lay["stagecache.cold_pass_s"] = cold_s
        lay.update(queries.tail_layers(ctx.spark, reg, tables))
    return res


# --------------------------------------------------------------------------
# tracing: probes for layers a workload does not run
# --------------------------------------------------------------------------


def probe_missing(ctx: Ctx, res: dict) -> None:
    """Per-layer metrics print on every workload. A layer the workload
    does not run is measured by a small probe of the same code; the
    probe's output checks count like the workload's."""
    import alerts
    import queries

    layers = res["layers"]
    if "tables.load_ms" not in layers:
        reg = queries.specs()
        tables = TABLES_DIR
        layers.update(queries.table_layers(ctx.spark, tables, "probe:tables"))
        t = time.perf_counter()
        tail = queries.tail_layers(ctx.spark, reg, tables)
        layers["stagecache.cold_pass_s"] = time.perf_counter() - t
        layers.update(tail)
        layers.setdefault("plan.build_ms_total", sum(
            v for k, v in tail.items() if k.endswith(".build_ms")))
        layers.setdefault("plan.build_jobs_total", job_counts(
            ctx.spark, [f"b:tail:{q}" for q in TAIL])["jobs"])
    if "state.commit_ms_p50" not in layers:
        schema = alerts.payload_schema(ctx.spark)
        r = paced_timed(ctx, schema, 2.0 if ctx.tiny else 4.0, True, warmup_s=0.0)
        for k, v in r["layers"].items():
            layers.setdefault(k, v)
        res["attempted"] += r["attempted"]
        res["failed"] += r["failed"]
    if "sources.read_ms_per_kalert" not in layers:
        in_dir = ctx.fresh("probe-in")
        exp = alerts.stage_backlog(ctx.rng, ctx.seed, in_dir, ctx.cores, 20 if ctx.tiny else 150)
        layers.update(alerts.prefix_budget(ctx.spark, in_dir, ctx.fresh("prefix"), exp.alerts))


RUNNERS = {"alerts_paced": run_alerts_paced, "query_mix": run_query_mix}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject", choices=("avro", "query_row"))
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "event_stream_aggr_spark")):
        print("perfbench: event_stream_aggr_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CORES, cpus))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts keeps its scratch in the work dir too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    from event_stream_aggr_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.perf_counter() - t
    try:
        ctx = Ctx(spark, args, os.path.join(work, "runs"))
        ctx.sample_canary()
        res = RUNNERS[args.workload](ctx, bool(args.trace))
        if args.trace:
            probe_missing(ctx, res)
            layers = res["layers"]
            layers["session.start_s"] = session_start_s
            layers["host.canary_ms_p50"] = pmedian(ctx.canary)
            layers["host.canary_ms_max"] = max(ctx.canary)
            layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            vals = dict(res["e2e"], setup_s=res["setup_s"])
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}
        meta = dict(
            ctx.meta, **res["meta"], workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=args.trace, cpus=cpus, defaultParallelism=ctx.cores,
            session_start_s=session_start_s, canary_ms=ctx.canary,
            failed_frac=res["failed"] / max(1, res["attempted"]),
            e2e=res["e2e"], setup_s=res["setup_s"],
        )
    finally:
        stop_spark(spark)
    print(json.dumps({"meta": meta}, default=float))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
