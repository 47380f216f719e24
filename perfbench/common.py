"""Small shared helpers: percentiles, the host canary, JVM memory and
job/stage/task counts from ``SparkContext.statusTracker()``."""

from __future__ import annotations

import statistics
import time

# The orchestration-bound tail of the headline queries (most jobs each).
TAIL = (
    "qg07_kcore_peeling",
    "qr02_prf_expansion",
    "qe21_ivf_pq_topk",
    "qb01_bloom_join_pruning",
    "qer01_record_linkage",
)


def pmedian(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def canary_ms() -> float:
    """A fixed pure-Python CPU loop; its time shows host contention."""
    t = time.perf_counter()
    acc = 0
    for i in range(150_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1e3


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark driver JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def job_counts(spark, groups) -> dict:
    """Jobs, stages run, tasks run and failed tasks over job groups."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
                    failed += s.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it (the
    JVM exits when its stdin closes; its Python workers follow)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
