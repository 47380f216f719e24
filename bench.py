"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

The LAST stdout line is ONE compact JSON line (the driver captures only
a 2,000-char tail, so this line must stay small; ``headline_line``
builds it and tests/test_bench_metrics.py pins its size):
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Diagnostics that would blow that budget — the two-SF scaling probe,
streaming throughput and stage budgets, the same-boot A/B vs the
previous round — print as their OWN earlier JSON lines and are also
written to BENCH_LOCAL.json next to this file for post-hoc reading.

Execution is forced through the noop sink (full computation, all rows
consumed, no driver collect overhead). A small warmup query runs first
so JVM/codegen startup isn't billed to the first headline query.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline timings for these ride the tokenized-corpus memo pre-warmed
# by the retrieval_stage_sharing diagnostic (which runs first so its
# cold pass is genuinely cold); their cold costs live in that block.
WARM_MEMO_QUERIES = ("qt17_bm25_scores", "qr01_hybrid_search", "qr02_prf_expansion")

#: diagnostics key -> (headline ``stream`` key, rate key) of the eight
#: stream rates that ride the final line
STREAM_RATES = {
    "streaming": ("alerts_per_sec", "alerts_per_sec"),
    "streaming_curation": ("curation_docs_per_sec", "docs_per_sec"),
    "streaming_cep": ("cep_events_per_sec", "events_per_sec"),
    "streaming_near_dedup": ("near_dedup_docs_per_sec", "docs_per_sec"),
    "streaming_entity_resolution": ("er_records_per_sec", "records_per_sec"),
    "streaming_skyline": ("skyline_parts_per_sec", "parts_per_sec"),
    "streaming_topk": ("topk_orders_per_sec", "orders_per_sec"),
    "streaming_reservoir": ("reservoir_docs_per_sec", "docs_per_sec"),
}


def _noop(df) -> None:
    """Force full computation of ``df`` through the noop sink."""
    df.write.mode("overwrite").format("noop").save()


def _hash_agg(spark, rows: int):
    """The host-load canary's fixed workload: xxhash64 + a two-level
    aggregate over ``spark.range`` (bounded residues, not raw hashes:
    summing 10M raw 64-bit values overflows BIGINT under ANSI mode)."""
    from pyspark.sql import functions as F

    return (
        spark.range(0, rows, 1, 32)
        .select(F.pmod(F.xxhash64("id"), F.lit(1_000_003)).alias("h"))
        .groupBy((F.col("h") % 1024).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    )


def calibration_probe(spark) -> dict:
    """Host-load canary (round-14 VERDICT ask #2): a FIXED synthetic
    workload — 10M-row xxhash64 + two-level aggregate over
    ``spark.range`` — timed min-of-3, independent of SF, data on disk,
    and any code under test. Identical code on an idle vs contended
    box moves this number with the contention (the r13 driver boot ran
    the same tree 2.5x slower than the round-close boot; only a
    same-boot A/B kept the round gradeable), so every BENCH emission
    now carries its own noise denominator: compare rounds as
    headline_total / calibration_sec, not raw seconds. Runs at bench
    START and again at END; the reported ``calibration_sec`` is the
    min across both (the machine's best observed capability this
    boot), and the start/end spread exposes in-run contention drift."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _noop(_hash_agg(spark, 10_000_000))
        runs.append(round(time.perf_counter() - t0, 4))
    return {"min_sec": min(runs), "runs": runs}


# In-run host-load samples from mini_canary: (label, sec) per sample.
# Round 16: the r15 driver boot ran every query AND stream ~3x slower
# than the same-tree close run while BOTH endpoint calibrations stayed
# quiet (0.3706 vs close 0.3302) — minute-scale external contention hit
# only the MIDDLE of the run, exactly the window the start/end probes
# cannot see. These samples make a contended middle visible in the
# emission itself instead of requiring a forensic same-boot re-run.
_CANARY_SAMPLES: list[tuple[str, float]] = []


def mini_canary(spark, label: str) -> float:
    """One ~50-100ms sample of the calibration workload at 1/5 size
    (2M rows, same expression shape), single-run — cheap enough to
    interleave after every headline query and before every stream
    block (~55 samples ≈ +4s total). A quiet box holds these flat;
    the r13/r15-style contention spikes move them 3-10x."""
    t0 = time.perf_counter()
    _noop(_hash_agg(spark, 2_000_000))
    sec = round(time.perf_counter() - t0, 4)
    _CANARY_SAMPLES.append((label, sec))
    return sec


def _canary_summary() -> dict:
    # baseline:* samples (taken right after the endpoint calibration
    # probes, i.e. at the boot's best observed moments) provide the
    # mini probe's own quiet reference — the mini workload is
    # overhead-bound, so its quiet value is ~0.5-0.7x the FULL probe,
    # not 1/5; read p50/max against baseline_min_sec, not against
    # calibration_sec.
    secs = [s for lbl, s in _CANARY_SAMPLES if not lbl.startswith("baseline:")]
    base = [s for lbl, s in _CANARY_SAMPLES if lbl.startswith("baseline:")]
    if not secs:
        return {}
    return {
        "baseline_min_sec": min(base) if base else None,
        "note": "single-run 2M-row probe interleaved after every "
        "headline query and before every stream block; flat samples "
        "= quiet boot, a contended window shows as a spiked span — "
        "read alongside calibration.start/end (which only see the "
        "endpoints; the r15 driver boot was quiet at both endpoints "
        "and ~3x contended in between)",
        "n": len(secs),
        "p50_sec": round(statistics.median(secs), 4),
        "max_sec": max(secs),
        "samples": [[lbl, s] for lbl, s in _CANARY_SAMPLES],
    }


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def headline_line(timings: dict[str, float], diagnostics: dict, sf: float) -> dict:
    """The final line, the one a caller parses, built from the run's
    results only (no Spark). ``main`` prints it with compact separators;
    it must fit in a 2,000-char stdout tail, so stream rates are ints
    (the 0.1/s digit is far below the documented 1.5-2x in-session
    spread; full-precision rates stay in BENCH_LOCAL.json)."""
    calib = diagnostics["calibration"]
    during = calib["during"]
    vs_prev = diagnostics["vs_prev_same_boot"]
    rates = {
        line_key: diagnostics[key].get(rate_key)
        for key, (line_key, rate_key) in STREAM_RATES.items()
    }
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "sf": sf,
        "method": "min_of_2",  # batch timings; streaming is median_of_3
        # host-load canary: min across start+end min-of-3 samples of a
        # fixed synthetic workload — divide totals by this before
        # comparing across boots (README "Reading bench output")
        "calibration_sec": min(calib["start"]["min_sec"], calib["end"]["min_sec"]),
        # r16: [baseline_min, p50, max] of the ~55 in-run 2M-row canary
        # samples (see _canary_summary: baseline_min is the mini probe's
        # own quiet reference — do NOT compare to calibration_sec/5). On
        # a quiet boot p50/baseline stays near 1; the r15 grading boot —
        # quiet at both calibration endpoints, ~3x contended in between
        # — is the case this exposes.
        "calib_mid": [
            during.get("baseline_min_sec"),
            during.get("p50_sec"),
            during.get("max_sec"),
        ],
        "stream": {
            k: (int(round(v)) if isinstance(v, float) else v) for k, v in rates.items()
        },
        "queries": {n: round(s, 2) for n, s in timings.items()},
        # compact A/B summary (full per-query block in the
        # vs_prev_same_boot diagnostics line / BENCH_LOCAL.json):
        # paired ratios from the same boot, the signal cross-round
        # grading should use instead of cross-boot absolute seconds
        "vs_prev": {
            k: vs_prev[k]
            for k in (
                "prev_commit",
                "median_ratio_cur_over_prev",
                "n_compared",
                "stream_ratios",
                "skipped",
                "error",
            )
            if vs_prev.get(k) is not None
        },
    }


def main() -> None:
    from event_stream_aggr_spark.plans.registry import load_all
    from event_stream_aggr_spark.session import get_spark
    from event_stream_aggr_spark.tables import load_table

    # UI on (tests keep it off): the status REST API behind it is how
    # the per-query stage metrics below are measured instead of guessed.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "20000"},
    )
    specs = load_all()
    headline = [name for name, spec in sorted(specs.items()) if spec.bench]

    # warmup: JVM + codegen + parquet footer caches
    load_table(spark, SF_DIR, "region").count()
    _noop(specs[headline[0]].fn(spark, SF_DIR))

    # host-load canary, start-of-bench sample (see calibration_probe)
    calib_start = calibration_probe(spark)
    for _ in range(3):  # the mini probe's quiet reference (same boot)
        mini_canary(spark, "baseline:start")

    # The retrieval-stage-sharing diagnostic runs BEFORE the headline
    # loop so its "cold" pass is genuinely cold; the headline timings
    # of qt17/qr01/qr02 (added to the set in round 6) then ride the
    # warmed memo — the composed-pipeline cost a real session pays.
    sharing = retrieval_stage_sharing(spark, specs)

    # min-of-2 per query (new in round 4; earlier rounds were
    # single-run): the min is the standard low-noise estimator of a
    # query's true cost — single-run timings on this box swing ±25-65%
    # with JIT/GC/IO timing, which drowned the per-query deltas.
    timings: dict[str, float] = {}
    stage_metrics: dict[str, dict] = {}
    for name in headline:
        timings[name], m = _min_time(
            spark, lambda: specs[name].fn(spark, SF_DIR), keys=None
        )
        if m:
            stage_metrics[name] = m
        mini_canary(spark, name)

    diagnostics = {
        "scaling": scaling_probe(spark, specs, headline, timings),
        "scaling_up": upscale_probe(spark, specs, headline, timings),
        "skew": skew_probe(spark, specs),
        "retrieval_stage_sharing": sharing,
        # streaming rates are median-of-3 (r8 VERDICT ask #5: the
        # min-of-2 estimator showed 1.5-2x in-session spread, making
        # round deltas uninterpretable); every run's rate is recorded
        # so the spread itself stays visible
        "streaming": median_of_3_stream(
            stream_bench, spark, rate_key="alerts_per_sec"
        ),
        "streaming_curation": _stage_block(
            spark, curation_stage_attribution, curation_stream_bench, "docs_per_sec"
        ),
        "streaming_cep": median_of_3_stream(
            cep_stream_bench, spark, rate_key="events_per_sec"
        ),
        # the r11 near-dup gate (paired in vs_prev; r13: stage budget
        # — the slowest stream once ER doubled)
        "streaming_near_dedup": _stage_block(
            spark, near_dedup_stage_attribution, near_dedup_stream_bench,
            "docs_per_sec",
        ),
        # the r12 ER gate (paired in vs_prev from r13; stage budget
        # in _er_block per r12 VERDICT ask #2)
        "streaming_entity_resolution": _er_block(spark),
        # r12 VERDICT ask #5: the W9/W10 maintainers get bench rows
        "streaming_skyline": median_of_3_stream(
            skyline_stream_bench, spark, rate_key="parts_per_sec"
        ),
        "streaming_topk": median_of_3_stream(
            topk_stream_bench, spark, rate_key="orders_per_sec"
        ),
        # r15: the weighted-reservoir maintainer, priced like W9/W10
        "streaming_reservoir": median_of_3_stream(
            reservoir_stream_bench, spark, rate_key="docs_per_sec"
        ),
        "stage_metrics": {
            "note": "executor-reported bytes per headline query (warm "
            "run), from the UI status REST API; zero spill everywhere "
            "means no partition outgrew memory at this SF",
            "totals": {
                **{
                    k: round(sum(m[k] for m in stage_metrics.values()), 1)
                    for k in ("shuffle_write_mb", "input_mb", "spill_disk_mb")
                },
                "queries_with_spill": sorted(
                    n
                    for n, m in stage_metrics.items()
                    if m["spill_disk_mb"] > 0 or m["spill_mem_mb"] > 0
                ),
            },
            "per_query": stage_metrics,
        },
        # LAST so it survives in the driver's output tail: the paired
        # same-boot A/B vs the parent commit (r9 ask #2)
        "vs_prev_same_boot": vs_prev_same_boot(spark, specs, headline),
    }
    calib_end = calibration_probe(spark)
    for _ in range(3):
        mini_canary(spark, "baseline:end")
    diagnostics["calibration"] = {
        "note": "fixed 10M-row synthetic agg, min-of-3 at bench start"
        " and end; read cross-boot totals as value/calibration_sec —"
        " a contended host moves both together (r14 VERDICT ask #2)",
        "start": calib_start,
        "end": calib_end,
        # r16: in-run samples — the r15 driver boot was quiet at both
        # endpoints yet ~3x contended through the middle; these catch
        # exactly that window (see mini_canary/_canary_summary)
        "during": _canary_summary(),
    }
    for key, payload in diagnostics.items():
        print(json.dumps({key: payload}))
    line = headline_line(timings, diagnostics, infer_sf(SF_DIR))
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            json.dump({**line, "queries_4dp": timings, **diagnostics}, f, indent=1)
    except OSError:
        pass
    # callers parse the LAST line only
    print(json.dumps(line, separators=(",", ":")))


def _rest(spark, path: str):
    """GET ``path`` from the local UI's status REST API — the same
    AppStatusStore the Spark UI renders, so shuffle/input/spill bytes
    are the executor-reported truth, not estimates. None when the UI
    is off or unreachable (metrics then simply omitted)."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return None
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/{path}", timeout=10
        ) as r:
            return json.load(r)
    except Exception:
        return None


def _completed_stages(spark) -> list[dict]:
    return _rest(spark, "stages?status=complete&details=false") or []


def _max_stage_id(spark) -> int | None:
    stages = _completed_stages(spark)
    if not stages:
        return None
    return max(s.get("stageId", -1) for s in stages)


def _stage_metrics_since(spark, prev_max_stage_id: int) -> dict | None:
    """Sum the executor metrics of stages completed AFTER the snapshot
    (stage IDs are monotonic, so eviction of old stages can't corrupt
    the diff). Captured around the WARM run only: bytes are plan
    properties, identical cold/warm, and the warm run is the one whose
    timing usually wins the min-of-2. shuffle_write_mb is the number
    that matters at 100 TB — it is the data actually exchanged;
    spill > 0 would mean partitions outgrew executor memory."""
    new = _new_stages_since(spark, prev_max_stage_id)
    if not new:
        return None
    mb = lambda k: round(sum(s.get(k, 0) for s in new) / 1e6, 2)  # noqa: E731
    return {
        "stages": len(new),
        "tasks": sum(s.get("numCompleteTasks", s.get("numTasks", 0)) for s in new),
        "input_mb": mb("inputBytes"),
        "shuffle_write_mb": mb("shuffleWriteBytes"),
        "shuffle_read_mb": mb("shuffleReadBytes"),
        "spill_mem_mb": mb("memoryBytesSpilled"),
        "spill_disk_mb": mb("diskBytesSpilled"),
    }


def _min_time(
    spark, build, runs: int = 2, keys=(), tasks: bool = False, skew_split: bool = False
):
    """(min-of-``runs`` seconds of ``_noop(build())``, warm-run stats).
    The stats come from the LAST (warmest) run's stages: the ``keys``
    of ``_stage_metrics_since`` (all of them for None), with ``tasks``
    the heaviest stage's task-time spread, with ``skew_split`` whether
    AQE split a skewed join."""
    capture = keys is None or bool(keys) or tasks or skew_split
    secs, stats = [], {}
    for i in range(runs):
        warm = capture and i == runs - 1
        pre_stage = _max_stage_id(spark) if warm else None
        pre_sql = _max_sql_id(spark) if warm and skew_split else None
        t0 = time.perf_counter()
        _noop(build())
        secs.append(time.perf_counter() - t0)
        if pre_stage is not None:
            m = _stage_metrics_since(spark, pre_stage) or {}
            stats = {k: v for k, v in m.items() if keys is None or k in keys}
            if tasks:
                stats.update(
                    _task_time_dist(spark, _new_stages_since(spark, pre_stage))
                )
            if skew_split:
                stats["aqe_skew_split"] = _skew_split_fired(spark, pre_sql)
    return round(min(secs), 4), stats


def scaling_probe(spark, specs, headline, primary_timings) -> dict:
    """Empirical scale-killer detector: re-time the headline set at a
    second (smaller) scale factor and report t(primary)/t(secondary)
    per query. The SFs differ 10x in data, so after subtracting fixed
    per-query overhead a linear operator shows a ratio well under 10;
    a ratio approaching or exceeding the data ratio flags super-linear
    work (e.g. a quadratic candidate join) that the plan audit can't
    measure. Ratios are noisy for sub-100ms queries — read large
    ratios on large timings as signal, the rest as startup noise."""
    secondary = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if not os.path.isdir(secondary) or os.path.samefile(
        secondary, SF_DIR
    ):
        return {}
    out = {"secondary_sf": infer_sf(secondary), "queries": {}}
    for name in headline:
        # min-of-2, matching the primary timings
        sec, _ = _min_time(spark, lambda: specs[name].fn(spark, secondary))
        ratio = round(primary_timings[name] / sec, 2) if sec > 0 else None
        out["queries"][name] = {"sec": sec, "ratio_vs_primary": ratio}
    return out


def upscale_probe(spark, specs, headline, primary_timings, top_n: int = 10) -> dict:
    """The OTHER direction of the scaling probe (round-7 VERDICT ask
    #3): re-time the top-N most expensive headline queries at the
    LARGEST synthesized .scale_probe/sf* dir (see
    tools/make_scale_probe.py: key-shifted replicas, so cardinalities
    genuinely grow) and report t(probe)/t(primary). With data grown
    R× (data_ratio_vs_primary), a linear operator shows well under R
    after fixed overhead; a ratio at/above R flags super-linear work
    the sf0.01 probe was too small to surface. Skipped silently when
    no probe dir has been generated."""
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.join(here, ".scale_probe")
    candidates = sorted(
        (d for d in (os.listdir(root) if os.path.isdir(root) else [])
         if d.startswith("sf") and os.path.isdir(os.path.join(root, d))),
        key=infer_sf,
    )
    if not candidates:
        return {}
    probe_dir = os.path.join(root, candidates[-1])  # largest synthesized SF
    top = sorted(headline, key=lambda n: -primary_timings[n])[:top_n]
    # Always-probed set (round 15, the r14 verdict's ask #4): the ER
    # blocking compositions ride the official per-round upscale
    # instrument regardless of their primary-SF rank, so their
    # spill-free claims are re-measured every round, not only by the
    # bespoke density grid.
    for must in ("qer01_record_linkage", "qer05_composed_blocking"):
        if must in specs and must not in top:
            top.append(must)
    out = {
        "probe_sf": infer_sf(probe_dir),
        "data_ratio_vs_primary": round(infer_sf(probe_dir) / infer_sf(SF_DIR), 1),
        "note": "primary re-timed back-to-back with the probe run (same"
        " JIT/cache state) — the headline loop ran minutes earlier and"
        " its timings are not warm-for-warm comparable",
        "queries": {},
    }
    for name in sorted(top):
        # fresh primary, same session state as the probe run
        base, _ = _min_time(spark, lambda: specs[name].fn(spark, SF_DIR))
        # at R× data the spill columns answer the 100 TB question
        # directly: did any partition outgrow memory once the data
        # actually grew?
        sec, metrics = _min_time(
            spark,
            lambda: specs[name].fn(spark, probe_dir),
            keys=("shuffle_write_mb", "spill_disk_mb", "spill_mem_mb"),
        )
        out["queries"][name] = {
            "sec": sec,
            "primary_sec": base,
            "ratio_vs_primary": round(sec / base, 2) if base > 0 else None,
            **metrics,
        }
    return out


#: join/window headliners whose key the Zipf probe skews (round-7
#: VERDICT ask #1): the fact-join trio on l_orderkey/o_custkey and the
#: per-user window/groupBy trio on user_id.
SKEW_QUERIES = (
    "q04_join_revenue_by_segment",
    "q45_shipping_priority",
    "q58_volume_shipping",
    "q09_topn_per_group",
    "q10_running_totals",
    "qf01_user_feature_matrix",
)
#: the skew probes' warm-run byte columns
_SKEW_KEYS = ("shuffle_write_mb", "spill_disk_mb")


def _task_time_dist(spark, new_stages: list[dict]) -> dict:
    """Per-task executorRunTime quantiles of the heaviest new stage
    (max total executorRunTime): the max/median ratio IS the skew
    damage — a straggler task serializes the stage however many
    executors sit idle."""
    if not new_stages:
        return {}
    heavy = max(new_stages, key=lambda s: s.get("executorRunTime", 0))
    summ = _rest(
        spark,
        f"stages/{heavy['stageId']}/{heavy.get('attemptId', 0)}/taskSummary"
        "?quantiles=0.0,0.5,1.0",
    )
    try:
        lo, med, hi = summ["executorRunTime"]
        return {
            "heavy_stage_tasks": heavy.get(
                "numCompleteTasks", heavy.get("numTasks", 0)
            ),
            "task_med_ms": round(med, 1),
            "task_max_ms": round(hi, 1),
            "task_imbalance": round(hi / med, 2) if med > 0 else None,
        }
    except Exception:
        return {}


def _new_stages_since(spark, prev_max_stage_id: int) -> list[dict]:
    return [
        s
        for s in _completed_stages(spark)
        if s.get("stageId", -1) > prev_max_stage_id
    ]


def _max_sql_id(spark) -> int:
    return max((e.get("id", -1) for e in _sql_executions(spark)), default=-1)


def _sql_executions(spark) -> list[dict]:
    return _rest(spark, "sql?details=true&planDescription=true&length=100000") or []


def _skew_split_fired(spark, prev_max_sql_id: int) -> bool | None:
    """Did AQE's OptimizeSkewedJoin rewrite any join in the SQL
    executions since the snapshot? (the physical plan tags split
    joins with ``skew=true``)"""
    execs = _sql_executions(spark)
    if not execs:
        return None
    new = [e for e in execs if e.get("id", -1) > prev_max_sql_id]
    return any("skew=true" in (e.get("planDescription") or "") for e in new)


def skew_probe(spark, specs) -> dict:
    """Round-7 VERDICT ask #1: the 10× probe is uniform, but the named
    100 TB killer is a Zipf-skewed join/group key. Re-time the skewed
    headliners on the same-SIZE Zipf(1.1) twin of sf0.1 (hot order =
    ~10% of all lineitems, hot customer/user similar — see
    tools/make_scale_probe.py --zipf) and record, per query: the
    time ratio vs uniform, per-task max/median time of the heaviest
    stage, AQE skew-split activation, shuffle bytes and spill. Then
    the explicit-mitigation twin: a shuffle-forced orders⋈lineitem
    revenue rollup run (a) AQE skew-split ON, (b) both mitigations
    OFF (the unmitigated straggler), (c) operators/skew.py's
    salted_join with AQE OFF — (a) and (c) must restore balance over
    (b). Skipped silently when the zipf dir hasn't been generated."""
    here = os.path.dirname(os.path.abspath(__file__))
    zdir = os.path.join(here, ".scale_probe", "zipf1")
    udir = os.path.join(here, ".scale_probe", "sf1")
    if not (os.path.isdir(zdir) and os.path.isdir(udir)):
        # visible skip, not a silent {} — a fresh workspace must know
        # the probe data is generatable, not that skew was unmeasured
        return {
            "skipped": "probe dirs missing; generate with "
            "`python tools/make_scale_probe.py 10` then "
            "`python tools/make_scale_probe.py --zipf`"
        }
    out: dict = {
        "alpha": 1.1,
        "zipf_dir_sf": 1.0,
        "note": "zipf twin is the SAME row count as the uniform sf1"
        " replica probe (hot order carries ~9% of ALL 6M lineitems) -"
        " ratio vs uniform isolates key-skew cost from data volume;"
        " task_imbalance = max/median executorRunTime of the heaviest"
        " stage",
        "queries": {},
    }
    for name in SKEW_QUERIES:
        u, _ = _min_time(spark, lambda: specs[name].fn(spark, udir))
        z, metrics = _min_time(
            spark,
            lambda: specs[name].fn(spark, zdir),
            keys=_SKEW_KEYS,
            tasks=True,
            skew_split=True,
        )
        out["queries"][name] = {
            "uniform_sec": u,
            "zipf_sec": z,
            "ratio_zipf_vs_uniform": round(z / u, 2) if u > 0 else None,
            **metrics,
        }
    # the window-skew mitigation twin: the plain per-key cumulative
    # window (q10 — the probe's one real victim, hot key's history
    # serialized through one task) vs qz06's staged decomposition
    # (within-day chains + day-grain prefix stitch), both on the Zipf
    # twin. Same values (qz06's oracle IS the plain window); what
    # differs is where the hot key's work lands. qz08 is the r9
    # AUTO-selecting helper: on this Zipf twin its key-skew stats must
    # route it to the staged form (task balance ~ qz06's), while on
    # uniform data it takes the plain window's cheaper single pass.
    out["window_twin"] = {}
    for name in (
        "q10_running_totals",
        "qz06_staged_running_total",
        "qz08_running_total_auto",
    ):
        sec, metrics = _min_time(
            spark, lambda: specs[name].fn(spark, zdir), keys=_SKEW_KEYS, tasks=True
        )
        out["window_twin"][name] = {"sec": sec, **metrics}
    out["salted_twin"] = _salted_twin(spark, zdir)
    return out


def _salted_twin(spark, zdir: str) -> dict:
    """The orders⋈lineitem revenue rollup on the Zipf twin with the
    broadcast escape hatch closed (at 100 TB neither side broadcasts),
    across the three mitigation settings. Each variant reports time,
    task max/median of the heaviest stage, and row count (all three
    must agree — salting must not change the result)."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import auto_skew_join, salted_join
    from event_stream_aggr_spark.tables import load_table

    def revenue(joined):
        return joined.groupBy("o_orderpriority").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )

    def build(mode: str):
        li = load_table(spark, zdir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, zdir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        if mode == "salted":
            # salt sized to the observed max/median partition ratio
            # (~4x — qz04's skew planner recommendation shape), so the
            # right-side replication cost stays proportional to the
            # imbalance it removes
            return revenue(salted_join(li, o, "l_orderkey", salt=4))
        if mode == "auto":
            # the deployable default (qz09): since the round-11
            # re-price the selector credits an armed AQE skew-split —
            # under the aqe-on variant it must route this in-capacity
            # Zipf key to PLAIN and match plain_aqe_skewjoin's time
            # and balance; under the aqe-off variant it must fall back
            # to the excess-sized salt
            return revenue(auto_skew_join(li, o, "l_orderkey"))
        return revenue(li.join(o, "l_orderkey"))

    conf = spark.conf
    # the defaults (256 MB / 5x) are sized for cluster executors; at
    # this probe's ~100 MB total shuffle the hot partition is ~20 MB,
    # so the AQE-on variants scale the trigger down proportionally —
    # the 100 TB deployment uses the defaults, what's demonstrated here
    # is the MECHANISM splitting the straggler partition
    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    }
    defaults = {k: conf.get(k) for k in skew_confs}
    results: dict = {}
    with _conf_fence(spark):  # restores every key touched here
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for label, mode, skew_on in (
            ("plain_aqe_skewjoin", "plain", "true"),
            ("plain_unmitigated", "plain", "false"),
            ("salted_join", "salted", "false"),
            ("auto_join", "auto", "true"),
            ("auto_join_aqe_off", "auto", "false"),
        ):
            conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            for k, v in skew_confs.items():
                conf.set(k, v if skew_on == "true" else defaults[k])
            sec, metrics = _min_time(
                spark,
                lambda: build(mode),
                keys=_SKEW_KEYS,
                tasks=True,
                skew_split=label == "plain_aqe_skewjoin",
            )
            results[label] = {
                "sec": sec,
                "n_groups": build(mode).count(),
                **metrics,
            }
            # record the auto selector's actual decision UNDER THIS
            # VARIANT'S CONF (the r11 selector reads the AQE confs) so
            # a threshold regression is visible in the artifact, not
            # just in the timing: aqe-on must say plain (the credit),
            # aqe-off must say salted with the excess-sized count
            if mode == "auto":
                from event_stream_aggr_spark.operators.skew import (
                    join_skew_strategy,
                )

                t0 = time.perf_counter()
                choice, k = join_skew_strategy(
                    load_table(spark, zdir, "lineitem").select("l_orderkey"),
                    "l_orderkey",
                )
                # the auto rows' sec INCLUDES this one-shot count-per-key
                # pass on every timed run (pricing is part of the
                # deployable default's cost); recording it separately
                # lets the reader see auto = selected plan + stats pass
                # — callers amortize it with stats=(mx, total) or by
                # checkpointing the probe side
                results[label]["strategy"] = {
                    "choice": choice,
                    "salt": k,
                    "stats_pass_sec": round(time.perf_counter() - t0, 4),
                }
    results["note"] = (
        "the mitigation target is TASK BALANCE, not wall-clock at this"
        " probe size (the unmitigated straggler is only ~0.5s; at 100 TB"
        " it scales with hot-key volume while the balanced variants"
        " scale with volume/parallelism): AQE skew-split cuts"
        " max/median task time ~3.8x -> ~1.4x with zero extra shuffle;"
        " salted_join achieves the same balance at the cost of"
        " replicating the right side x salt. auto_join (qz09, r11"
        " re-price) credits the armed backstop: with AQE skew-split on"
        " and the hot key within advisory x parallelism it rides the"
        " plain+AQE plan (strategy must say plain; sec ="
        " plain_aqe_skewjoin's plan + the one-shot stats pass recorded"
        " in strategy.stats_pass_sec, amortizable via stats=(mx,"
        " total)); auto_join_aqe_off proves the fallback still fires —"
        " same stats pass, backstop disarmed, salted with the"
        " excess-sized count"
    )
    return results


def retrieval_stage_sharing(spark, specs) -> dict:
    """r5 VERDICT ask #5 evidence: qt17/qr01/qr02 share the memoized
    tokenized-corpus stage (operators/text.py:tokenized_corpus), so a
    composed retrieval path pays the corpus tokenize ONCE per
    session/corpus. Pass 1 runs the triple cold (the first query
    materializes the stage); pass 2 re-runs it warm — every query
    after the first, in BOTH passes, reads the materialized token
    arrays instead of re-scanning + re-splitting the corpus."""
    names = WARM_MEMO_QUERIES
    out: dict = {"cold_sec": {}, "warm_sec": {}}
    for key in ("cold_sec", "warm_sec"):
        for n in names:
            t0 = time.perf_counter()
            _noop(specs[n].fn(spark, SF_DIR))
            out[key][n] = round(time.perf_counter() - t0, 4)
    out["note"] = (
        "corpus tokenize paid once per session: cold pass's first query"
        " includes the one-time stage materialization; all later"
        " retrieval queries (both passes) reuse it"
    )
    return out


def median_of_3_stream(fn, spark, rate_key: str) -> dict:
    """Run a streaming bench three times and report the MEDIAN-rate
    run with every observed rate kept visible (round-8 VERDICT ask #5:
    min-of-2 streaming rates showed 1.5-2x in-session spread —
    30.5k→48.7k alerts/s on identical code — so two-sample minima made
    round-over-round deltas uninterpretable; the median of three is
    robust to one cold/JIT outlier in either direction, and the
    per-run list lets the reader judge the remaining spread)."""
    mini_canary(spark, f"stream:{getattr(fn, '__name__', rate_key)}")
    runs = [fn(spark) for _ in range(3)]
    ranked = sorted(runs, key=lambda r: r.get(rate_key) or 0.0)
    best = dict(ranked[len(ranked) // 2])
    best["method"] = "median_of_3"
    best[f"runs_{rate_key}"] = [r.get(rate_key) for r in runs]
    return best


def _write_src(spark, src_df, n_files: int, work: str):
    """``src_df`` as ``n_files`` parquet files under ``work``: the
    stream benches' arrival directory. Returns (dir, rows, schema)."""
    src = os.path.join(work, "src")
    src_df.repartition(n_files).write.mode("overwrite").parquet(src)
    stored = spark.read.parquet(src)
    return src, stored.count(), stored.schema


def _stream_rate(
    spark,
    src_df,
    n_files: int,
    files_per_trigger: int,
    sink,
    count_key: str,
    rate_key: str,
    extra=None,
    available_now: bool = True,
    per_row: int = 1,
) -> dict:
    """One timed run of a stream sink, the loop every stream bench
    shares: a fresh parquet-dir source (``src_df`` in ``n_files``
    files, replayed ``files_per_trigger`` per micro-batch), the query
    ``sink(stream, work)`` builds (``work`` holds its state and output
    dirs), timed from start until the source is drained. An
    availableNow query stops by itself; a default-trigger one is
    drained with processAllAvailable. ``rate_key`` counts input rows
    (times ``per_row``) per second, so a sink's drop rate cannot
    inflate it; ``extra(work, rows)`` adds fields read after the clock
    stops. Engine imports stay call-time so ``_vs_prev_streams`` times
    the previous round's engine through this same harness."""
    from event_stream_aggr_spark.sources.files import stream_parquet_dir

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src, n, schema = _write_src(spark, src_df, n_files, work)
        stream = stream_parquet_dir(
            spark, src, schema, max_files_per_trigger=files_per_trigger
        )
        t0 = time.perf_counter()
        writer = sink(stream, work).option(
            "checkpointLocation", os.path.join(work, "_ckpt")
        )
        if available_now:
            writer.trigger(availableNow=True).start().awaitTermination()
        else:
            q = writer.start()
            q.processAllAvailable()
            q.stop()
        elapsed = time.perf_counter() - t0
        return {
            count_key: n,
            **(extra(work, n) if extra else {}),
            "sec": round(elapsed, 4),
            rate_key: round(n * per_row / elapsed, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_bench(spark, n_events: int = 20_000, metrics_per_event: int = 3) -> dict:
    """Streaming throughput of the reference-parity alert pipeline
    (events/s as the reference logs them, app.go:101-109) via the
    hermetic file stream + noop sink."""
    from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA
    from event_stream_aggr_spark.streaming.pipeline import snort_alert_stream
    from tests.fixtures import make_sensor_event

    events = [make_sensor_event(i, metrics_per_event) for i in range(n_events)]
    # batch sizing dominates micro-batch pipelines: 8 files/trigger
    # (2 batches here) amortizes per-batch planning the way
    # maxOffsetsPerTrigger sizing does on Kafka; measured 3-4x over
    # 4-file triggers on this box
    return _stream_rate(
        spark,
        spark.createDataFrame(events, schema=SENSOR_EVENT_SCHEMA),
        16,
        8,
        lambda stream, _work: snort_alert_stream(stream).writeStream.format("noop"),
        "input_events",
        "alerts_per_sec",
        extra=lambda _work, n: {"alerts_out": n * metrics_per_event},
        available_now=False,
        per_row=metrics_per_event,
    )


def _curation_pack(batch_df, cleaned):
    """qp01's pack assignment over a curated batch (the last curation
    stage: source join + pack)."""
    from event_stream_aggr_spark.operators.packing import pack_assignments

    return pack_assignments(
        cleaned.join(batch_df.select("doc_id", "source"), "doc_id")
        .withColumnRenamed("clean_text", "text")
    )


def curation_stream_bench(spark) -> dict:
    """Streaming-curation throughput: documents through the registered
    gate → span-dedup → reassembly → exact-dedup dataflow
    (operators.dedup.curation_clean, qd13's lineage) plus qp01's pack
    assignment, per micro-batch via foreachBatch — the ingest-time
    curation shape where each arriving shard is gated, span-deduped
    and packed before landing. Within-batch dedup scope is the
    micro-batch (cross-batch exact dedup is the streaming/pipeline.py
    watermarked operator's job); docs/s counts INPUT documents so the
    gate's drop rate doesn't inflate the number."""
    from event_stream_aggr_spark.operators.dedup import curation_clean
    from event_stream_aggr_spark.tables import load_table

    def run_batch(batch_df, _batch_id):
        cleaned = curation_clean(batch_df.select("doc_id", "text"))
        _noop(_curation_pack(batch_df, cleaned))

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    return _stream_rate(
        spark, docs, 16, 8,
        lambda stream, _work: stream.writeStream.foreachBatch(run_batch),
        "input_docs", "docs_per_sec",
    )


def _er_records(spark):
    """The ER bench's arrival stream: customers and their derived
    second-source twins interleaved as one record frame."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.linkage import _a_side, _twin_side

    def side(df, p):
        return df.select(
            F.col(f"{p}_id").alias("rec_id"),
            F.col(f"{p}_name").alias("name"),
            F.col(f"{p}_seg").alias("seg"),
            F.col(f"{p}_bal").cast("double").alias("bal"),
            F.col(f"{p}_nation").alias("nation"),
        )

    return side(_a_side(spark, SF_DIR), "a").unionByName(
        side(_twin_side(spark, SF_DIR), "b")
    )


def er_stream_bench(spark, blocking: str | None = None) -> dict:
    """Streaming entity-resolution gate throughput (round 12,
    streaming/linkage.py): customers and their derived second-source
    twins interleaved as one arrival stream through the canonical-
    registry foreachBatch — per epoch: blocked scoring against the
    registry, within-batch connected components, registry fold.
    records/s counts INPUT records. Fresh state root + checkpoint per
    run so every run pays the same empty-registry start. ``blocking``
    forwards to the sink when given; None means the ENGINE's default —
    which keeps the vs_prev pairing default-vs-default when the live
    harness drives the prev round's sink (whose option surface may
    not know the live default's name)."""
    from event_stream_aggr_spark.streaming.linkage import entity_resolution_sink

    def sink(stream, work):
        return stream.writeStream.foreachBatch(
            entity_resolution_sink(
                os.path.join(work, "state"),
                os.path.join(work, "out"),
                **({} if blocking is None else {"blocking": blocking}),
            )
        )

    def extra(work, n):
        out = spark.read.parquet(os.path.join(work, "out", "epoch=*"))
        n_entities = out.filter("is_new").count()
        return {"n_entities": n_entities, "n_linked": n - n_entities}

    return _stream_rate(
        spark, _er_records(spark), 8, 4, sink, "input_records",
        "records_per_sec", extra=extra,
    )


def near_dedup_stream_bench(spark) -> dict:
    """Streaming near-dedup gate throughput (round 11,
    streaming/near_dedup.py): documents replayed as micro-batches
    through the band-store foreachBatch — MinHash banding + bucket
    joins against the admitted corpus + store fold per epoch. docs/s
    counts INPUT documents (the gate's drop rate must not inflate the
    number). Fresh state root + checkpoint per run so every run pays
    the same empty-store start; kept output goes to a temp dir."""
    from event_stream_aggr_spark.streaming.near_dedup import near_dedup_sink
    from event_stream_aggr_spark.tables import load_table

    def sink(stream, work):
        return stream.writeStream.foreachBatch(
            near_dedup_sink(os.path.join(work, "state"), os.path.join(work, "out"))
        )

    def extra(work, _n):
        out = spark.read.parquet(os.path.join(work, "out", "epoch=*"))
        return {"kept_docs": out.count()}

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    return _stream_rate(
        spark, docs, 16, 8, sink, "input_docs", "docs_per_sec", extra=extra
    )


def _state_rows(spark, root: str) -> int:
    """Rows in the merge store a maintainer sink folded into ``root``."""
    from event_stream_aggr_spark.streaming.state_store import read_state

    state, _ = read_state(spark, root)
    return state.count() if state is not None else 0


def skyline_stream_bench(spark) -> dict:
    """Streaming skyline maintainer throughput (round-12 VERDICT ask
    #5: W9 had equivalence/chaos tests but no bench row): part rows
    replayed as micro-batches through ``skyline_sink`` — per epoch:
    point collapse, union with the stored frontier, O(n log n) sweep,
    store fold. parts/s counts INPUT part rows. Fresh state root +
    checkpoint per run (same empty-store start discipline as the
    ER/near-dedup benches)."""
    from event_stream_aggr_spark.streaming.skyline import skyline_sink
    from event_stream_aggr_spark.tables import load_table

    parts = load_table(spark, SF_DIR, "part").select(
        "p_brand", "p_retailprice", "p_size"
    )
    return _stream_rate(
        spark, parts, 16, 8,
        lambda stream, work: stream.writeStream.foreachBatch(
            skyline_sink(os.path.join(work, "state"))
        ),
        "input_parts", "parts_per_sec",
        extra=lambda work, _n: {
            "frontier_points": _state_rows(spark, os.path.join(work, "state"))
        },
    )


def topk_stream_bench(spark) -> dict:
    """Streaming exact top-k maintainer throughput (round-12 VERDICT
    ask #5: W10's bench-row gap, same as skyline): orders replayed as
    micro-batches through ``topk_sink`` — per epoch: batch prune to
    k, union with stored leaderboard, re-prune, store fold. orders/s
    counts INPUT orders."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.streaming.topk import topk_sink
    from event_stream_aggr_spark.tables import load_table

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return _stream_rate(
        spark, orders, 16, 8,
        lambda stream, work: stream.writeStream.foreachBatch(
            topk_sink(os.path.join(work, "state"))
        ),
        "input_orders", "orders_per_sec",
    )


def reservoir_stream_bench(spark) -> dict:
    """Streaming weighted-reservoir maintainer throughput (round 15:
    same pricing discipline as the W9/W10 maintainers — a shipped
    stream sink gets a bench row, not just equivalence/chaos tests):
    documents replayed as micro-batches through
    ``weighted_reservoir_sink`` — per epoch: narrow per-row E-S key
    scoring (no shuffle), union with the stored per-stratum sample,
    window top-R on the strata key (one exchange), store fold.
    docs/s counts INPUT documents."""
    from event_stream_aggr_spark.streaming.reservoir import weighted_reservoir_sink
    from event_stream_aggr_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars")
    return _stream_rate(
        spark, docs, 16, 8,
        lambda stream, work: stream.writeStream.foreachBatch(
            weighted_reservoir_sink(os.path.join(work, "state"), r=64)
        ),
        "input_docs", "docs_per_sec",
        extra=lambda work, _n: {
            "sample_rows": _state_rows(spark, os.path.join(work, "state"))
        },
    )


def cep_stream_bench(spark) -> dict:
    """Stateful-streaming throughput: raw events through the
    applyInPandasWithState CEP matcher (q74's streaming twin,
    streaming/stats.py:cep_match_with_state) — the per-key
    arbitrary-state path (W5), measured as INPUT events/s so match
    selectivity doesn't inflate the number."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.streaming.stats import cep_match_with_state
    from event_stream_aggr_spark.tables import load_table

    tsm = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "user_id", F.expr(tsm).alias("tsm")
    )
    return _stream_rate(
        spark, ev, 16, 8,
        lambda stream, _work: cep_match_with_state(stream)
        .writeStream.format("noop")
        .outputMode("update"),
        "input_events", "events_per_sec",
    )


def prefix_budget(
    spark,
    src_df,
    n_files: int,
    files_per_trigger: int,
    prefixes,
    note: str,
    sink=None,
) -> dict:
    """Cumulative-prefix stage budget of one stream sink. Every row is
    a FULL stream run (same parquet source, availableNow trigger and
    files-per-trigger as the sink's rate bench, fresh checkpoint) whose
    foreachBatch body is a cumulative PREFIX of the real one, timed
    median-of-3; ``marginal_sec`` is the step between successive
    cumulative medians, so the rows cover the whole micro-batch —
    source scan, sink and offset/commit machinery included.

    ``prefixes`` is ((name, body(batch, state)), ...) in cumulative
    order. For a STATEFUL sink, ``sink(state_root, out_dir)`` builds
    the real foreachBatch: a warm REAL run first records, per epoch,
    the store that epoch read (``snap/epoch=N``, append-protocol
    reader), and each body gets that snapshot as ``state`` (None
    before the first fold), so every prefix reproduces the real run's
    epoch inputs (the protocols are deterministic); a last row,
    ``checkpoint_writes_fold_commit``, times the real sink with fresh
    state per run (the empty-store start its headline pays). Without
    ``sink`` the warm run is the last prefix and ``state`` is None.
    Either way the warm run leaves the dataflow JIT/codegen-warm, so
    the first timed prefix does not absorb that cost and invert the
    marginals; snapshot writes stay outside the timed runs."""
    from event_stream_aggr_spark.sources.files import stream_parquet_dir
    from event_stream_aggr_spark.streaming import state_store as ss

    work = tempfile.mkdtemp(prefix="bench_stages_")
    try:
        src, _n, schema = _write_src(spark, src_df, n_files, work)
        snap = os.path.join(work, "snap")

        def run(body, tag):
            stream = stream_parquet_dir(
                spark, src, schema, max_files_per_trigger=files_per_trigger
            )
            stream.writeStream.foreachBatch(body).option(
                "checkpointLocation", os.path.join(work, f"_ckpt_{tag}")
            ).trigger(availableNow=True).start().awaitTermination()

        def replay(body):
            def run_batch(batch, eid):
                p = os.path.join(snap, f"epoch={eid}")
                state = batch.sparkSession.read.parquet(p) if os.path.isdir(p) else None
                body(batch, state)

            return run_batch

        if sink is None:
            run(replay(prefixes[-1][1]), "warm")
        else:
            warm_root = os.path.join(work, "state_warm")
            real = sink(warm_root, os.path.join(work, "out_warm"))

            def recording(batch, eid):
                state, _ = ss.read_append_state(batch.sparkSession, warm_root)
                if state is not None:
                    state.write.mode("overwrite").parquet(
                        os.path.join(snap, f"epoch={eid}")
                    )
                real(batch, eid)

            run(recording, "warm")

        rows = [(name, lambda _j, b=body: replay(b)) for name, body in prefixes]
        if sink is not None:
            rows.append((
                "checkpoint_writes_fold_commit",
                lambda j: sink(
                    os.path.join(work, f"state_{j}"), os.path.join(work, f"out_{j}")
                ),
            ))
        out: dict = {}
        prev = 0.0
        for i, (name, make_body) in enumerate(rows):
            runs = []
            for j in range(3):
                body = make_body(j)
                t0 = time.perf_counter()
                run(body, f"{i}_{j}")
                runs.append(time.perf_counter() - t0)
            cum = statistics.median(runs)
            out[name] = {
                "cumulative_sec": round(cum, 4),
                "marginal_sec": round(max(cum - prev, 0.0), 4),
            }
            prev = cum
        out["note"] = note
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stage_block(spark, stage_fn, bench_fn, rate_key: str) -> dict:
    """Headline rate (median-of-3) plus the sink's full-batch stage
    budget, with ``covers_frac_of_sec`` = the budget's total / the
    headline ``sec`` — the round-10 gap was exactly this number sitting
    at ~0.5 because the stages timed only the transform body; a
    materially sub-1.0 value means the budget went stale.

    The stage table runs FIRST: its warm pass + timed stream runs leave
    the dataflow JIT-compiled, so the headline median-of-3 that follows
    measures the warm steady state — the same discipline the batch
    headline loop applies. Before this ordering the headline's first
    run was 3-4x colder than its third and the median landed on a cold
    run, which is noise, not throughput."""
    stages = stage_fn(spark)
    block = median_of_3_stream(bench_fn, spark, rate_key=rate_key)
    total = max(
        (v.get("cumulative_sec", 0.0) for v in stages.values() if isinstance(v, dict)),
        default=None,
    )
    if total and block.get("sec"):
        stages["covers_frac_of_sec"] = round(total / block["sec"], 3)
    block["stages"] = stages
    return block


def curation_stage_attribution(spark) -> dict:
    """Round-9 VERDICT ask #6, completed in round 11 (ask #3): the
    curation stream runs ~20x slower per input row than the alert
    stream — attribute that floor to a budget that covers the WHOLE
    micro-batch, not just the transform body. Prefixes: pass-through
    noop write (source scan + sink + offset/commit-log machinery) →
    + quality gate → + span dedup/reassembly → + corpus exact dedup →
    + source join & pack assignment. The LAST prefix IS
    curation_stream_bench's pipeline measured the same way, so
    ``covers_frac_of_sec`` should sit near 1.0, off only by the two
    estimators' noise."""
    from event_stream_aggr_spark.operators.dedup import (
        curation_despan_stage,
        curation_exact_stage,
        curation_quality_stage,
    )
    from event_stream_aggr_spark.tables import load_table

    def p_gate(b):
        return curation_quality_stage(b.select("doc_id", "text"))

    def p_despan(b):
        return curation_despan_stage(p_gate(b))

    def p_exact(b):
        return curation_exact_stage(p_despan(b))

    stages = (
        ("source_sink_machinery", lambda b: b),
        ("quality_gate", p_gate),
        ("span_dedup_reassembly", p_despan),
        ("corpus_exact_dedup", p_exact),
        ("source_join_pack", lambda b: _curation_pack(b, p_exact(b))),
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    return prefix_budget(
        spark, docs, 16, 8,
        [(name, lambda b, _state, f=f: _noop(f(b))) for name, f in stages],
        note="every row is a full stream run with a cumulative-prefix"
        " foreachBatch body (median-of-3, fresh checkpoint); the"
        " last cumulative_sec IS the whole curation pipeline, so"
        " marginals cover source+sink+machinery and all four"
        " transform stages with nothing unattributed",
    )


def near_dedup_stage_attribution(spark) -> dict:
    """Round-13: the stage-budget discipline applied to the near-dedup
    gate — with the ER gate doubled, this is the slowest stream. The
    stateful ``prefix_budget`` method, with the band store as state.
    Prefixes: pass-through noop (+ store read) → + MinHash/banding +
    both drop rules (= band_canonical_dedup vs the snapshot store) →
    + token-less union + kept-rows semi-join (the output assembly) →
    the REAL sink (+ disk checkpoint, output write, store fold,
    commit)."""
    from event_stream_aggr_spark.operators.dedup import (
        band_canonical_dedup,
        tokenless_ids,
    )
    from event_stream_aggr_spark.operators.lifecycle import free_blocks
    from event_stream_aggr_spark.streaming.near_dedup import near_dedup_sink
    from event_stream_aggr_spark.tables import load_table

    def p_ident(batch, store):
        if store is not None:
            _noop(store)
        _noop(batch)

    # the band bodies free the dataflow's lazy DISK_ONLY generation
    # after their noop write materializes it (round-14 ADVICE: 3 timed
    # runs x epochs of leaked blocks otherwise occupy local disk and
    # skew later prefixes' marginals)
    def p_band(batch, store, assemble=False):
        gen: list[int] = []
        _, kept_buckets = band_canonical_dedup(batch, seen_buckets=store, gen_out=gen)
        if assemble:
            kept = (
                kept_buckets.select("doc_id")
                .unionByName(tokenless_ids(batch, "doc_id", "text"))
                .distinct()
            )
            _noop(batch.join(kept, "doc_id", "left_semi"))
        else:
            _noop(kept_buckets)
        free_blocks(batch.sparkSession, gen)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    return prefix_budget(
        spark, docs, 16, 8,
        (
            ("source_sink_store_read", p_ident),
            ("minhash_banding_drop_rules", p_band),
            ("tokenless_semijoin_assembly", lambda b, s: p_band(b, s, assemble=True)),
        ),
        sink=near_dedup_sink,
        note="stateful-prefix stage budget (the ER method): full stream"
        " runs with cumulative-prefix foreachBatch bodies reading a"
        " recorded per-epoch band-store snapshot; last row is the"
        " REAL sink, so marginals cover machinery, the band"
        " dataflow, output assembly, and the checkpoint/write/"
        "fold tail with nothing unattributed",
    )


def er_stage_attribution(spark) -> dict:
    """Round-12 VERDICT ask #2: give the streaming ER gate the
    curation treatment — a cumulative-prefix stage budget covering the
    WHOLE micro-batch, then attack the named dominator. The sink is
    STATEFUL (each epoch scores against the registry the previous
    epochs folded), so this is the stateful ``prefix_budget`` method
    with the registry as state. Prefixes:

    pass-through noop (source scan + sink + offset/commit machinery +
    registry read) → + the auto default's block-grain purge probe
    (round 15: the mode decision priced as its own stage) → + store
    blocking/scoring join (match→min-entity per record) → + within-
    batch scoring + connected components + assignment assembly (probe
    + full link_batch) → the REAL sink (+ disk checkpoint,
    assignment/metrics writes, registry fold, commit)."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.lifecycle import (
        disk_checkpoint_lazy,
        free_blocks,
    )
    from event_stream_aggr_spark.operators.linkage import (
        block_key_counts,
        purged_from_counts,
        scored_pairs,
    )
    from event_stream_aggr_spark.streaming.linkage import (
        FIELDS,
        _as_a,
        _as_b,
        entity_resolution_sink,
        link_batch,
    )

    def p_ident(batch, reg):
        if reg is not None:  # same scan the real epoch pays
            _noop(reg)
        _noop(batch)

    def probe(recs, reg, _gen):
        # the auto default's per-epoch purge probe (round 15):
        # block-grain count frames + one collected row — the work
        # the real sink pays BEFORE linking, measured as its own
        # stage so the mode decision's cost is attributed, not
        # buried in the fold/commit tail
        gen: list[int] = []
        try:
            bc, g = disk_checkpoint_lazy(block_key_counts(_as_a(recs, "rec_id"), "a"))
            gen += g
            row = purged_from_counts(bc, bc).select(
                F.col("n_purged_p1").alias("batch_purged_p1"),
                F.col("n_purged_p2").alias("batch_purged_p2"),
            )
            if reg is not None:
                sc_, g2 = disk_checkpoint_lazy(
                    block_key_counts(_as_b(reg, "entity_id"), "b")
                )
                gen += g2
                row = purged_from_counts(bc, sc_).crossJoin(F.broadcast(row))
            row.first()
        finally:
            free_blocks(recs.sparkSession, gen)

    def store_join(recs, reg, _gen):
        if reg is not None:
            _noop(
                scored_pairs(_as_a(recs, "rec_id"), _as_b(reg, "entity_id"))
                .filter(F.col("decision") == "match")
                .groupBy(F.col("a_id").alias("rid"))
                .agg(F.min("b_id").alias("store_ent"))
            )

    def link(recs, reg, gen):
        # the full link dataflow contains the store scoring join, so
        # store_join's work is covered
        _noop(link_batch(recs, reg, cc_gen=gen, carry_fields=True))

    def after_probe(*stages):
        """A body over the real sink's single-source-scan shape (round
        15): the micro-batch read through the same lazily
        DISK_ONLY-marked narrow projection the sink materializes once
        per epoch, the purge probe first (as in the real auto sink),
        then ``stages``; every lazy DISK_ONLY generation is freed once
        its noop write has materialized it (round-14 ADVICE: leaked
        blocks across 3 timed runs skew marginals)."""

        def body(batch, reg):
            recs, gen = disk_checkpoint_lazy(
                batch.select(F.col("rec_id"), *[F.col(f) for f in FIELDS])
            )
            try:
                for stage in (probe, *stages):
                    stage(recs, reg, gen)
            finally:
                free_blocks(batch.sparkSession, gen)
            _noop(batch)

        return body

    return prefix_budget(
        spark, _er_records(spark), 8, 4,
        (
            ("source_sink_state_read", p_ident),
            ("mode_probe", after_probe()),
            ("store_blocking_scoring", after_probe(store_join)),
            ("batch_components_assembly", after_probe(link)),
        ),
        sink=entity_resolution_sink,
        note="every row is a full stream run with a cumulative-prefix"
        " foreachBatch body (median-of-3, fresh checkpoint);"
        " stateful inputs come from a recorded per-epoch registry"
        " snapshot, so prefixes reproduce the real run's epoch"
        " inputs; the last row is the REAL sink, so marginals"
        " cover machinery, the auto mode probe, both scoring"
        " joins, components, and the checkpoint/write/fold tail"
        " with nothing unattributed; caveat: mode_probe replays"
        " the probe COLD per epoch while the real sink amortizes"
        " the registry side via the incremental delta fold, so"
        " that row is an upper bound and the tail marginal a"
        " corresponding lower bound",
    )


def _er_block(spark) -> dict:
    """Headline ER rate plus its stage budget (``_stage_block``), and
    both forced kernels priced beside the 'auto' headline (round 15,
    the r14 verdict's measured-default ask): same corpus, same
    median-of-3 discipline. On this corpus no block purges, so auto
    resolves to flat every epoch and the flat row prices the
    decision-free kernel; the composed row prices the ladders the gate
    switches to past the purge crossover."""
    block = _stage_block(
        spark, er_stage_attribution, er_stream_bench, "records_per_sec"
    )
    block["modes"] = {
        m: median_of_3_stream(
            lambda s, _m=m: er_stream_bench(s, blocking=_m),
            spark,
            rate_key="records_per_sec",
        )
        for m in ("flat", "composed")
    }
    block["default"] = (
        "auto: flat until a flat block would purge this epoch "
        "(exact block-grain probe), then composed"
    )
    return block


def _prev_round_commit(here: str) -> str | None:
    """Hash of the nearest first-parent ancestor of HEAD whose TREE
    differs from HEAD's — normally ``HEAD^``, the tree this change is
    measured against. The tree check prevents a self-comparison: after
    an empty commit (same tree as its parent) HEAD^ holds HEAD's own
    code."""
    import subprocess

    def _git(*args):
        return subprocess.run(
            ["git", *args], cwd=here, check=True, capture_output=True, text=True
        ).stdout

    try:
        head_tree = _git("rev-parse", "HEAD^{tree}").strip()
        out = _git("log", "--first-parent", "--format=%H %T", "-n", "500", "HEAD^")
    except (OSError, subprocess.CalledProcessError):
        return None
    for line in out.splitlines():
        h, tree = line.split()
        if tree != head_tree:
            return h
    return None


def _pkg_modules() -> dict:
    import sys

    return {
        k: v
        for k, v in sys.modules.items()
        if k == "event_stream_aggr_spark"
        or k.startswith("event_stream_aggr_spark.")
    }


#: session confs the repo's query bodies are known to touch (qg07's
#: scoped width/advisory override, the skew twins' AQE toggles) — the
#: fence below restores exactly these
_FENCED_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.autoBroadcastJoinThreshold",
)


class _conf_fence:
    """Round-10 ADVICE: a prev-round query body that mutates session
    conf and throws BEFORE its own finally-restore (the per-query fence
    catches the exception but used to restore nothing) would leave
    every subsequent cur/prev measurement in the boot running under
    polluted conf — skewing exactly the paired ratios the A/B block
    exists to stabilize. Snapshot the known-touched keys before each
    measured run and restore them afterwards, pass or throw. Applied
    to BOTH sides so the fence itself cannot bias the pair."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = {}
        for k in _FENCED_CONF_KEYS:
            try:
                self.saved[k] = self.spark.conf.get(k)
            except Exception:  # noqa: BLE001 — unset key: nothing to restore
                pass

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            try:
                self.spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 — best-effort restore
                pass
        return False


def _load_registry_from(worktree: str) -> tuple[dict, dict]:
    """(fns, modules) from the worktree's query registry, imported
    under temporary sys.path + sys.modules isolation. The closures
    keep their own module objects alive via their globals, so they
    stay callable after the live package's module table is restored —
    two versions of the engine coexist in one interpreter, which is
    what makes the SAME-session A/B possible. The prev module table is
    returned so callers can REINSTALL it around each prev run
    (``_swapped_modules``): a prev query body doing a call-time
    ``from event_stream_aggr_spark.x import y`` would otherwise
    resolve against the live cached modules and silently measure
    live-vs-live for exactly the helpers that changed."""
    import sys

    saved = _pkg_modules()
    for k in saved:
        del sys.modules[k]
    sys.path.insert(0, worktree)
    try:
        import event_stream_aggr_spark.plans.registry as prev_registry

        fns = {name: spec.fn for name, spec in prev_registry.load_all().items()}
        return fns, _pkg_modules()
    finally:
        sys.path.remove(worktree)
        for k in _pkg_modules():
            del sys.modules[k]
        sys.modules.update(saved)


class _swapped_modules:
    """Context manager: run with the prev round's package modules
    installed in sys.modules, restoring the live table on exit.

    Two subtleties both matter (found when qd16's prev side measured
    45x slow): the WORKTREE path goes on sys.path for the swap's
    duration, so a prev fn's call-time import of a module the registry
    load never touched resolves to PREV code (not the live repo via
    cwd); and modules imported during the swap are ADOPTED into the
    prev table on exit instead of discarded, so prev module-level
    state (e.g. the stagecache memo) persists across prev runs exactly
    like live state does — otherwise every prev run rebuilds memoized
    stages and the paired ratio wildly flatters the live side."""

    def __init__(self, prev_modules: dict, worktree: str):
        self.prev = prev_modules
        self.wt = worktree

    def __enter__(self):
        import sys

        self.live = _pkg_modules()
        for k in self.live:
            del sys.modules[k]
        sys.modules.update(self.prev)
        sys.path.insert(0, self.wt)

    def __exit__(self, *exc):
        import sys

        try:
            sys.path.remove(self.wt)
        except ValueError:
            pass
        self.prev.update(_pkg_modules())
        for k in _pkg_modules():
            del sys.modules[k]
        sys.modules.update(self.live)
        return False


def vs_prev_same_boot(spark, specs, headline) -> dict:
    """Round-9 VERDICT ask #2: two consecutive rounds produced headline
    'regressions' (+9.1%, +13.6%) that dissolved into host state on
    same-code reruns — cross-BOOT absolute timings on this box shift
    up to ~40%, so round-over-round deltas were ungradeable. This
    block times the parent commit's code (``_prev_round_commit``, a
    detached git worktree) against the live code in the SAME Spark
    session and boot, interleaved per query (cur, prev, cur, prev; min-of-2 per
    side), and reports the paired ratio — host state cancels out of a
    ratio taken seconds apart.

    Caveats, accepted and caught per query: the prev registry loads
    under module isolation but Python WORKERS resolve by-reference
    pickles via the live PYTHONPATH, so a prev query whose driver code
    references a since-renamed module symbol errors — recorded as that
    query's 'error', never fatal. Queries absent from either registry
    are skipped with the reason recorded."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    prev = _prev_round_commit(here)
    if not prev:
        return {"skipped": "no parent commit with a different tree"}
    wt = tempfile.mkdtemp(prefix="bench_prev_wt_")
    shutil.rmtree(wt)  # git worktree add wants the path absent
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, prev],
            cwd=here,
            check=True,
            capture_output=True,
        )
        prev_fns, prev_modules = _load_registry_from(wt)
        per_query: dict = {}
        for name in headline:
            if name not in prev_fns:
                per_query[name] = {"skipped": "absent in prev round"}
                continue

            def _time_cur():
                with _conf_fence(spark):
                    t0 = time.perf_counter()
                    _noop(specs[name].fn(spark, SF_DIR))
                    return time.perf_counter() - t0

            def _time_prev():
                # prev modules installed so even call-time imports
                # inside the prev fn resolve to the prev code; conf
                # fenced so a prev body throwing mid-mutation can't
                # pollute every later measurement in the boot
                with _swapped_modules(prev_modules, wt), _conf_fence(spark):
                    t0 = time.perf_counter()
                    _noop(prev_fns[name](spark, SF_DIR))
                    return time.perf_counter() - t0

            # up to 4 pairs: sub-second queries show ±40% per-run
            # scheduling/GC noise even paired
            cur_runs, prev_runs, err, first_two = _paired(
                _time_cur, _time_prev, min, 4
            )
            if err or not prev_runs:
                per_query[name] = {"error": err or "prev run produced no timing"}
                continue
            c, p = min(cur_runs), min(prev_runs)
            per_query[name] = {
                "cur_sec": round(c, 4),
                "prev_sec": round(p, 4),
                "ratio_cur_over_prev": round(c / p, 3) if p > 0 else None,
                "n_pairs": min(len(cur_runs), len(prev_runs)),
            }
            if first_two is not None:
                per_query[name]["ratio_first_two"] = first_two
        ratios = [
            v["ratio_cur_over_prev"]
            for v in per_query.values()
            if v.get("ratio_cur_over_prev")
        ]
        median = round(statistics.median(ratios), 3) if ratios else None
        streams = _vs_prev_streams(spark, prev_modules, wt)
        return {
            "prev_commit": prev[:12],
            "method": "interleaved min-of-2 per side, same session/boot",
            "note": "ratio < 1 means the live code is faster than the"
            " parent commit on identical host state; cross-commit"
            " deltas should be read from this, not from cross-boot"
            " absolute seconds",
            "median_ratio_cur_over_prev": median,
            "n_compared": len(ratios),
            "streams": streams,
            "stream_ratios": {
                k: v.get("ratio_cur_over_prev") for k, v in streams.items()
            },
            "queries": per_query,
        }
    except Exception as exc:  # noqa: BLE001 — a broken prev tree (its
        # package import raising anything at load_all()) must cost the
        # A/B block, never the whole bench run's measurements
        return {"error": f"vs_prev setup failed: {exc!r}"[:300]}
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=here,
            capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)


def _vs_prev_streams(spark, prev_modules: dict, wt: str) -> dict:
    """Round-10 VERDICT ask #6: the 45 batch queries are paired, but
    the streaming rates were still cross-boot medians-of-3 — r10's CEP
    +24% was 'probably real but ungraded by the same standard'. Pair
    the three stream benches the same way: the LIVE harness function
    times both sides (the harness is held fixed; what's swapped via
    module isolation is the ENGINE code its call-time imports
    resolve to), interleaved cur/prev/prev/cur, MAX rate per side (the
    rate analogue of min-time — robust to one cold run), ratio > 1
    means the live engine streams faster. Per-stream fences: an error
    costs that stream's pair, never the block."""
    out: dict = {}
    for sname, fn, rate_key in (
        ("alerts", stream_bench, "alerts_per_sec"),
        ("curation", curation_stream_bench, "docs_per_sec"),
        ("cep", cep_stream_bench, "events_per_sec"),
        # round-12 VERDICT ask #4: the two newest streams were still
        # cross-boot medians-of-3 — pair them like the other three
        ("near_dedup", near_dedup_stream_bench, "docs_per_sec"),
        ("entity_resolution", er_stream_bench, "records_per_sec"),
    ):
        def _cur(fn=fn, rate_key=rate_key):
            with _conf_fence(spark):
                return fn(spark)[rate_key]

        def _prev(fn=fn, rate_key=rate_key):
            with _swapped_modules(prev_modules, wt), _conf_fence(spark):
                return fn(spark)[rate_key]

        # MAX rate per side, up to 3 pairs: stream rates show 1.5-2x
        # in-session spread (documented at median_of_3_stream)
        cur_rates, prev_rates, err, first_two = _paired(_cur, _prev, max, 3)
        if err or not cur_rates or not prev_rates:
            out[sname] = {"error": err or "side produced no rate"}
            continue
        c, p = max(cur_rates), max(prev_rates)
        out[sname] = {
            "rate_key": rate_key,
            "cur_rate": round(c, 1),
            "prev_rate": round(p, 1),
            "ratio_cur_over_prev": round(c / p, 3) if p > 0 else None,
            "n_pairs": min(len(cur_rates), len(prev_rates)),
            "cur_rates": [round(r, 1) for r in cur_rates],
            "prev_rates": [round(r, 1) for r in prev_rates],
        }
        if first_two is not None:
            out[sname]["ratio_first_two"] = first_two
    return out


def _paired(time_cur, time_prev, best, max_pairs: int):
    """Interleaved same-boot pairs of one measurement on the live and
    the prev code: returns (cur values, prev values, error or None,
    ratio of the first two pairs or None). ``best`` picks a side's
    estimate (min for seconds, max for rates). The order alternates:
    whoever runs second in a pair rides caches the first just warmed,
    so a fixed order would bias the ratio toward the second side.
    Pairs past the second run ONLY while the ratio sits outside
    [0.8, 1.25]: recurring false tails on unchanged code send readers
    chasing phantom regressions — a genuine change survives the extra
    pairs, noise usually does not. Re-measuring only out-of-band pairs
    shrinks the tails asymmetrically, so the pre-re-measure ratio is
    returned too, keeping that suppression auditable. An exception
    ends the pairs (a per-item fence: it costs that item, never the
    block)."""
    cur: list = []
    prev: list = []
    for i in range(max_pairs):
        if i >= 2:
            c, p = best(cur), best(prev)
            if p > 0 and 0.8 <= c / p <= 1.25:
                break
        order = ((time_cur, cur), (time_prev, prev))
        try:
            for measure, acc in order if i % 2 == 0 else order[::-1]:
                acc.append(measure())
        except Exception as exc:  # noqa: BLE001 — per-item fence
            return cur, prev, repr(exc)[:200], None
    first_two = None
    if len(cur) > 2 and len(prev) >= 2 and best(prev[:2]) > 0:
        first_two = round(best(cur[:2]) / best(prev[:2]), 3)
    return cur, prev, None, first_two


if __name__ == "__main__":
    main()
