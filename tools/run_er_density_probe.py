"""ER candidate-density probe past 30× (round-12 VERDICT ask #3).

qer01's 10.13 time ratio at the uniform 30× probe is the repo's only
super-linear headline number, and the 30× generator deliberately
freshens replica names/balances (blocks MULTIPLY under natural
growth). This probe measures the OTHER regime — the worst case the
BLOCK_CAP guard exists for: replica customers with IDENTICAL names
and balances, so every blocking block DENSIFIES k× and per-block
candidate products grow k². The grid crosses density k ∈ {30, 100}
with the cap ∈ {off, default 20 000, parallelism-scaled 5 000} to
show, with measured numbers:

- where purging ENGAGES (purged-block counters per pass),
- what it costs in recall (qer03's pair-completeness counters:
  true pairs found vs missed, on the same row),
- that capped time stays BOUNDED as blocks densify past the cap,
  while the uncapped curve grows with Σ|A_b|×|B_b|.

The 5 000 cap row is the "scale BLOCK_CAP with available parallelism"
variant: the cap bounds the largest single block's join product, i.e.
the largest non-splittable unit of scoring work; a 1000-executor
cluster wanting ≤N rows per task picks cap ≈ N, so probing a tighter
cap shows the knob flattening the curve exactly where k² crosses it.

Writes one JSON line per cell + a summary; results go to
SCALING_AUDIT.md. The dense probe dir contains ONLY customer.parquet
(the linkage queries read nothing else) and is deleted afterwards.

Usage: python tools/run_er_density_probe.py [k ...]   (default: 30 100)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = "/root/testdata/sf0.1"
UNCAPPED = 10**15

#: (k, cap, n_timed_runs) cells. Uncapped at k=100 is excluded by
#: default: its candidate volume is ~Σ k²·|names| ≈ 10⁸ pairs, which
#: is exactly the curve the capped rows exist to avoid — the k=30
#: uncapped row already measures the quadratic's slope.
GRID = [
    (30, UNCAPPED, 1),
    (30, 20_000, 2),
    (100, 20_000, 1),
    (100, 5_000, 2),
]

#: Refinement-ladder cells (round-13 follow-up): qer04's refine-then-
#: purge ladder on the SAME dense corpus. With the exact-name bottom
#: level, same-name blocks are the k replicas of one base customer —
#: product k x ~0.75k — so the ladder RECOVERS at the bottom what the
#: flat purge lost (k=30/100 under the default cap), and the
#: parallelism-scaled 5 000 cap shows the bottom purging again once
#: k^2 crosses it (k=100: 7 500 > 5 000).
LADDER_GRID = [
    (30, 20_000, 1),
    (100, 20_000, 1),
    (100, 5_000, 1),
]

#: Composed cells (round-14, VERDICT ask #3): qer05's pass-diverse
#: composition — name ladder (seg-free) ∪ balance ladder (name-free)
#: — on the SAME dense corpus. The r13 findings it must beat: the
#: single qer04 chain's 0.500 recall ceiling (its key chain) and the
#: flat two-pass 0.803-at-10.2s / spilling-at-k100 trade.
COMPOSED_GRID = [
    (30, 20_000, 1),
    (100, 20_000, 1),
    (100, 5_000, 1),
]


def dense_customers(spark, k: int, out_dir: str) -> None:
    """k replicas of sf0.1 customer with IDENTICAL names/segments/
    balances — only c_custkey offset per replica (stride past max) so
    ground-truth twin provenance stays well-defined. This is the
    densifying corpus the 30× generator deliberately avoids."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.tables import load_table

    c = load_table(spark, BASE, "customer")
    max_key = c.agg(F.max("c_custkey")).first()[0]
    stride = 10 ** len(str(int(max_key)))
    replicas = None
    for i in range(k):
        r = c.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * stride))
        replicas = r if replicas is None else replicas.unionByName(r)
    replicas.write.mode("overwrite").parquet(
        os.path.join(out_dir, "customer.parquet")
    )


#: the warm run's byte columns each cell records
SPILL_KEYS = ("shuffle_write_mb", "spill_disk_mb", "spill_mem_mb")


def ladder_cell(spark, sf_dir: str, cap: int, n_runs: int) -> dict:
    """qer04's refinement ladder at an explicit cap on the dense
    corpus: per-level kept counts + purge + completeness + time."""
    import bench

    from event_stream_aggr_spark.operators.linkage import (
        _a_side,
        _twin_side,
        refinement_report,
    )

    a = _a_side(spark, sf_dir)
    b = _twin_side(spark, sf_dir)
    sec, row = bench._min_time(
        spark, lambda: refinement_report(a, b, cap=cap), n_runs, keys=SPILL_KEYS
    )
    row["sec"] = sec
    r = refinement_report(a, b, cap=cap).collect()[0].asDict()
    row.update(r)
    row["pair_completeness"] = round(
        r["n_true_found"] / (r["n_true_found"] + r["n_true_missed"]), 4
    )
    return row


def composed_cell(spark, sf_dir: str, cap: int, n_runs: int) -> dict:
    """qer05's pass-diverse composition at an explicit cap on the
    dense corpus: per-pass per-level kept counts + purges +
    completeness + time (same method as ladder_cell)."""
    import bench

    from event_stream_aggr_spark.operators.linkage import (
        _a_side,
        _twin_side,
        composed_blocking_report,
    )

    a = _a_side(spark, sf_dir)
    b = _twin_side(spark, sf_dir)
    sec, row = bench._min_time(
        spark,
        lambda: composed_blocking_report(a, b, cap=cap),
        n_runs,
        keys=SPILL_KEYS,
    )
    row["sec"] = sec
    r = composed_blocking_report(a, b, cap=cap).collect()[0].asDict()
    row.update(r)
    row["pair_completeness"] = round(
        r["n_true_found"] / (r["n_true_found"] + r["n_true_missed"]), 4
    )
    return row


def probe_cell(spark, sf_dir: str, cap: int, n_runs: int) -> dict:
    """qer01's report dataflow at an explicit cap, plus the qer03
    observability counters for the same corpus/cap."""
    import bench
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.linkage import (
        B_ID_OFFSET,
        _a_side,
        _twin_side,
        candidate_pairs,
        purged_block_counts,
        scored_pairs,
    )

    a = _a_side(spark, sf_dir)
    b = _twin_side(spark, sf_dir)
    n_records = a.count()

    def report():
        return (
            scored_pairs(a, b, cap)
            .groupBy("decision")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(
                    F.when(
                        F.col("b_id") - B_ID_OFFSET == F.col("a_id"), 1
                    ).otherwise(0)
                ).alias("n_true_pairs"),
            )
        )

    sec, row = bench._min_time(spark, report, n_runs, keys=SPILL_KEYS)
    row["sec"] = sec
    row["n_records"] = n_records
    row["n_candidates"] = candidate_pairs(a, b, cap).count()
    purged = purged_block_counts(a, b, cap).first()
    row["n_purged_p1"] = purged["n_purged_p1"]
    row["n_purged_p2"] = purged["n_purged_p2"]
    decided = {
        r["decision"]: r for r in report().collect()
    }
    match = decided.get("match")
    row["n_match_pairs"] = match["n_pairs"] if match else 0
    row["n_true_found"] = sum(
        r["n_true_pairs"] for r in decided.values()
    )
    row["n_true_missed"] = n_records - row["n_true_found"]
    row["pair_completeness"] = round(row["n_true_found"] / n_records, 4)
    return row


def main() -> None:
    args = sys.argv[1:]
    composed_only = "--composed-only" in args
    if composed_only:  # r14: the flat/ladder cells are r13's data
        args = [x for x in args if x != "--composed-only"]
    ks = sorted({int(x) for x in args}) or [30, 100]
    from event_stream_aggr_spark.session import get_spark

    spark = get_spark(
        app_name="er_density_probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
        },
    )
    out: dict = {"base": BASE, "cells": {}}
    for k in ks:
        probe_dir = os.path.join(HERE, ".scale_probe", f"er_dense_{k}x")
        try:
            print(f"building dense {k}x customer corpus at {probe_dir}...")
            dense_customers(spark, k, probe_dir)
            for gk, cap, n_runs in GRID:
                if gk != k or composed_only:
                    continue
                label = f"k{k}_cap{'_off' if cap == UNCAPPED else cap}"
                cell = probe_cell(spark, probe_dir, cap, n_runs)
                out["cells"][label] = cell
                print(json.dumps({label: cell}))
            for gk, cap, n_runs in LADDER_GRID:
                if gk != k or composed_only:
                    continue
                label = f"k{k}_ladder_cap{cap}"
                cell = ladder_cell(spark, probe_dir, cap, n_runs)
                out["cells"][label] = cell
                print(json.dumps({label: cell}))
            for gk, cap, n_runs in COMPOSED_GRID:
                if gk != k:
                    continue
                label = f"k{k}_composed_cap{cap}"
                cell = composed_cell(spark, probe_dir, cap, n_runs)
                out["cells"][label] = cell
                print(json.dumps({label: cell}))
        finally:
            shutil.rmtree(probe_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
