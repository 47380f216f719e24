"""``query_mix``: one closed-loop client running a fixed set of the
registry's ``bench=True`` headline queries, each forced through the
noop sink, in a seeded order per pass.

Every query's ``spec.fn(...)`` call (plan build) and its action
(execution) run in separate job groups, so the trace splits build from
execution with ``statusTracker`` counts. The untimed cold pass collects
each result and compares it with the query's DuckDB oracle through
``tools/check_correctness.py`` (``load_duck`` and ``compare``).
"""

from __future__ import annotations

import math
import time

from check_correctness import compare, load_duck
from common import TAIL, job_counts, percentile, pmedian

from event_stream_aggr_spark.plans.registry import load_all
from event_stream_aggr_spark.tables import TABLE_NAMES, load_table

# A fixed subset of the 47 headline queries: relational, event, dedup,
# text, vector, sampling and linkage families, two of the
# orchestration-bound tail and a stagecache user; one warm pass takes
# 5-7 s at local[2] on 4 vCPUs.
MIX = (
    "q01_pricing_summary",
    "q10_running_totals",
    "q13_global_topk",
    "qb01_bloom_join_pruning",
    "qd16_semantic_dedup",
    "qe01_cosine_topk",
    "qer01_record_linkage",
    "qs05_weighted_sample",
    "qt27_rake_keyphrases",
)


def specs() -> dict:
    reg = load_all()
    missing = [n for n in MIX + TAIL if n not in reg or not reg[n].bench]
    if missing:
        raise KeyError(f"not registered as headline queries: {missing}")
    return reg


def load_tables(spark, tables_dir: str, group: str) -> float:
    """Load every table through ``tables.load_table`` (schema resolved);
    returns milliseconds."""
    spark.sparkContext.setJobGroup(group, group)
    t = time.perf_counter()
    for name in TABLE_NAMES:
        load_table(spark, tables_dir, name).schema
    ms = (time.perf_counter() - t) * 1e3
    spark.sparkContext.setJobGroup("idle", "idle")
    return ms


def run_query(spark, spec, tables_dir: str, tag: str) -> tuple[float, float]:
    """(build_ms, exec_ms) for one query through the noop sink; the two
    phases run in job groups ``b:<tag>`` and ``x:<tag>``."""
    sc = spark.sparkContext
    sc.setJobGroup(f"b:{tag}", spec.name)
    t0 = time.perf_counter()
    df = spec.fn(spark, tables_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(f"x:{tag}", spec.name)
    df.write.mode("overwrite").format("noop").save()
    t2 = time.perf_counter()
    sc.setJobGroup("idle", "idle")
    return (t1 - t0) * 1e3, (t2 - t1) * 1e3


# --------------------------------------------------------------------------
# oracle check
# --------------------------------------------------------------------------


def check_pass(spark, reg, names, tables_dir: str, drop_row: str | None = None) -> int:
    """The untimed cold pass: collect each query and compare with its
    oracle. Returns the number of queries that failed. ``drop_row``
    names a query whose first result row is removed (self-test)."""
    con = load_duck(tables_dir)
    failed = 0
    for name in names:
        spec = reg[name]
        try:
            got = spec.fn(spark, tables_dir).toPandas()
            if name == drop_row:
                got = got.iloc[1:]
            problems = (["no oracle"] if spec.oracle is None
                        else compare(name, got, con.execute(spec.oracle).df()))
        except Exception as e:  # a query that raises is a failed operation
            problems = [f"raised {e!r}"]
        failed += bool(problems)
        if problems:
            print(f"query {name}: {'; '.join(problems)}"[:500], flush=True)
    con.close()
    return failed


def timed_passes(spark, reg, rng, tables_dir: str, seconds: float, tag: str, mix=MIX) -> dict:
    """Whole passes over ``mix``, each in a fresh seeded order, until
    ``seconds`` have elapsed (at least one pass)."""
    samples, builds, execs, pass_s, groups = [], [], [], [], []
    per_query: dict[str, list[float]] = {}
    t_end = time.perf_counter() + seconds
    p = 0
    while p == 0 or time.perf_counter() < t_end:
        order = [mix[i] for i in rng.permutation(len(mix))]
        t0 = time.perf_counter()
        b_tot = x_tot = 0.0
        for name in order:
            g = f"{tag}:{p}:{name}"
            b, x = run_query(spark, reg[name], tables_dir, g)
            samples.append(b + x)
            b_tot += b
            x_tot += x
            groups.append(g)
            per_query.setdefault(name, []).append(b + x)
        pass_s.append(time.perf_counter() - t0)
        builds.append(b_tot)
        execs.append(x_tot)
        p += 1
    return {
        "samples": samples,
        "pass_s": pass_s,
        "build_ms": builds,
        "exec_ms": execs,
        "groups": groups,
        "per_query": per_query,
    }


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def e2e(res: dict) -> dict:
    """Every figure starts from each query's median over the passes, so
    a pass slowed by the host for a few seconds moves none of them.
    ``throughput_per_s`` is one client's queries/s at those medians (the
    mix's size over their sum); ``latency_p50_ms`` weighs every query
    alike (their geometric mean), so a change to any one query moves it
    by that query's relative gain; ``latency_p90_ms`` is their p90,
    which lies between the two slowest queries (the orchestration-bound
    tail)."""
    med = [pmedian(v) for v in res["per_query"].values()]
    return {
        "throughput_per_s": len(med) / (sum(med) / 1e3),
        "latency_p50_ms": _geomean(med),
        "latency_p90_ms": percentile(med, 90),
    }


def query_layers(spark, res: dict) -> dict:
    """plan.* / exec.* per pass (median over passes) from a timed run."""
    n_pass = len(res["pass_s"])
    b = job_counts(spark, ["b:" + g for g in res["groups"]])
    x = job_counts(spark, ["x:" + g for g in res["groups"]])
    return {
        "plan.build_ms_total": pmedian(res["build_ms"]),
        "plan.build_jobs_total": b["jobs"] / n_pass,
        "exec.ms_total": pmedian(res["exec_ms"]),
        "exec.jobs_total": x["jobs"] / n_pass,
        "exec.stages_total": x["stages"] / n_pass,
        "exec.tasks_total": x["tasks"] / n_pass,
        "exec.failed_tasks": x["failed_tasks"] + b["failed_tasks"],
    }


def tail_layers(spark, reg, tables_dir: str) -> dict:
    """build_ms / exec_ms / jobs of one call of each tail query."""
    out = {}
    for name in TAIL:
        b, x = run_query(spark, reg[name], tables_dir, f"tail:{name}")
        out[f"query.{name}.build_ms"] = b
        out[f"query.{name}.exec_ms"] = x
        out[f"query.{name}.jobs"] = job_counts(spark, [f"b:tail:{name}", f"x:tail:{name}"])["jobs"]
    return out


def table_layers(spark, tables_dir: str, tag: str) -> dict:
    ms = load_tables(spark, tables_dir, tag)
    return {"tables.load_ms": ms, "tables.load_jobs": job_counts(spark, [tag])["jobs"]}
