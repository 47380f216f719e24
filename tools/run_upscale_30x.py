"""One-off 30× probe (round-7 VERDICT ask #6): time the top-5
shuffle-heaviest headline queries at .scale_probe/sf3 (k=30 replicas,
~18M lineitems / 3M events / 150k docs) vs sf0.1, with executor-
reported shuffle/spill bytes, to check the shuffle-bytes growth curve
holds another half-decade past the per-round 10× probe. Results are
recorded in SCALING_AUDIT.md; the sf3 dir is deleted afterwards so the
per-round bench keeps probing at sf1 (bench.upscale_probe picks the
largest dir).

Usage: python tools/run_upscale_30x.py [probe_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, ".scale_probe", "sf3")
BASE = "/root/testdata/sf0.1"
QUERIES = (
    "qt27_rake_keyphrases",
    "qd12_span_dedup",
    "qg07_kcore_peeling",
    "q58_volume_shipping",
    "q01_pricing_summary",
    # round-10 VERDICT ask #7: qz09's stats pass + selected plan at 30x
    # (uniform custkey here — the plain branch; the Zipf-hot branch is
    # exercised by _skew_probe below on a Zipf twin of the probe dir)
    "qz09_auto_skew_join",
    # round 12: the ER blocking joins (exact-name + nation x balance
    # band) — candidate volume must grow with block sizes, not |A|x|B|
    "qer01_record_linkage",
    # round 15: the pass-diverse refinement composition — kept-block
    # join products stay <= cap and nothing pair-sized shuffles, so
    # its bytes must grow with kept-block volume, spill-free
    "qer05_composed_blocking",
)


def main() -> None:
    import shutil
    import subprocess

    from event_stream_aggr_spark.plans.registry import load_all
    from event_stream_aggr_spark.session import get_spark

    generated = False
    if not os.path.isdir(PROBE):
        # self-contained: synthesize the k=30 probe, and delete it
        # again afterwards so the per-round bench keeps probing at sf1
        # (bench.upscale_probe picks the LARGEST .scale_probe dir)
        print(f"probe dir {PROBE} missing — generating (k=30)...")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "tools", "make_scale_probe.py"),
             "30", PROBE],
            check=True,
        )
        generated = True

    spark = get_spark(
        app_name="upscale_30x",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "20000"},
    )
    specs = load_all()
    out: dict = {"probe_dir": PROBE, "data_ratio_vs_primary": 30.0, "queries": {}}
    zdir = os.path.join(HERE, ".scale_probe", "zipf_30x_probe")
    try:
        _probe(spark, specs, out)
        print(f"generating Zipf twin of the probe at {zdir}...")
        subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "tools", "make_scale_probe.py"),
                "--zipf",
                "1.1",
                PROBE,
                zdir,
            ],
            check=True,
        )
        _skew_probe(spark, out, zdir)
        print(json.dumps(out))
    finally:
        # ALWAYS delete generated probe dirs — a crash mid-probe that
        # leaked one would silently re-point every later round's bench
        # at 30x (bench.upscale_probe picks the LARGEST dir)
        shutil.rmtree(zdir, ignore_errors=True)
        if generated:
            shutil.rmtree(PROBE, ignore_errors=True)
            print(f"deleted generated probe dir {PROBE}")


def _probe(spark, specs, out) -> None:
    import bench

    bench._noop(specs[QUERIES[0]].fn(spark, BASE))  # warmup

    for name in QUERIES:
        row: dict = {}
        for label, sf_path in (("primary", BASE), ("probe", PROBE)):
            sec, m = bench._min_time(
                spark,
                lambda: specs[name].fn(spark, sf_path),
                keys=("shuffle_write_mb", "input_mb", "spill_disk_mb", "spill_mem_mb"),
            )
            row.update({f"{label}_{k}": v for k, v in m.items()})
            row[f"{label}_sec"] = sec
        row["time_ratio"] = round(row["probe_sec"] / row["primary_sec"], 2)
        if row.get("primary_shuffle_write_mb"):
            row["shuffle_ratio"] = round(
                row["probe_shuffle_write_mb"] / row["primary_shuffle_write_mb"], 2
            )
        out["queries"][name] = row
        print(json.dumps({name: row}))
    print(json.dumps(out))


def _skew_probe(spark, out, zdir: str) -> None:
    """Round-10 VERDICT ask #7: exercise auto_skew_join where the hot
    key is ~30x the sf0.1 grain — the orders⋈lineitem revenue rollup
    (bench._salted_twin's shape, broadcast escape hatch closed) on a
    Zipf(1.1) twin of the 30x probe (hot order ≈ 9% of ~18M
    lineitems), with .scale_probe/zipf1 (same shape at sf1) as the
    sub-linearity baseline. Per dir: the selector's decision + timing
    + spill + heavy-stage balance under ARMED AQE (the r11 default —
    must credit the backstop and ride plain), then the selector's
    decision and the executed salted plan with the backstop disarmed
    (the fallback — the excess-sized salt-count formula at 30x)."""
    import bench
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import (
        auto_skew_join,
        join_skew_strategy,
    )
    from event_stream_aggr_spark.tables import load_table

    z1 = os.path.join(HERE, ".scale_probe", "zipf1")
    dirs = ([("zipf1_baseline", z1)] if os.path.isdir(z1) else []) + [
        ("zipf_30x", zdir)
    ]

    def build(sf_path):
        li = load_table(spark, sf_path, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, sf_path, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        return li, o

    def revenue(joined):
        return joined.groupBy("o_orderpriority").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )

    conf = spark.conf
    section: dict = {
        "alpha": 1.1,
        "note": "salted-twin join at 30x; same scaled-down AQE triggers"
        " as bench._salted_twin (8m/2x/4m — the 100 TB deployment uses"
        " the defaults, the MECHANISM is what scales); aqe_on.strategy"
        " must say plain (the r11 credit), aqe_off.strategy salted with"
        " the excess-sized count",
    }
    with bench._conf_fence(spark):
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        for label, sf_path in dirs:
            row: dict = {}
            for variant, skew_on in (("aqe_on", "true"), ("aqe_off", "false")):
                conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
                li, o = build(sf_path)
                choice, k = join_skew_strategy(li, "l_orderkey")
                sec, metrics = bench._min_time(
                    spark,
                    lambda: revenue(auto_skew_join(*build(sf_path), "l_orderkey")),
                    keys=("shuffle_write_mb", "spill_disk_mb", "spill_mem_mb"),
                    tasks=True,
                )
                row[variant] = {
                    "sec": sec,
                    "strategy": {"choice": choice, "salt": k},
                    **metrics,
                }
            section[label] = row
            print(json.dumps({label: row}))
        if "zipf1_baseline" in section and "zipf_30x" in section:
            base = section["zipf1_baseline"]["aqe_on"]["sec"]
            if base > 0:
                section["time_ratio_30x_vs_zipf1_aqe_on"] = round(
                    section["zipf_30x"]["aqe_on"]["sec"] / base, 2
                )
                section["data_ratio_30x_vs_zipf1"] = 3.0
    out["skew_twin_30x"] = section


if __name__ == "__main__":
    main()
