"""Fast self-test of the benchmark at tiny sizes (a few minutes on 4 vCPUs).

Run from the repository root:

    python3 perfbench/selftest.py

Checks that every end-to-end and per-layer metric prints with its name
and unit, that ``BENCHMARK.json`` (when present) names exactly those
metrics and workloads, that a clean run reports no failures, and that a
corrupted Avro value and a dropped query row each raise ``failed_frac``
above 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["meta"], json.loads(lines[-1])


def check_metrics(res: dict, expected: dict) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == set(expected), set(res["metrics"]) ^ set(expected)
    for name, unit in expected.items():
        m = res["metrics"][name]
        assert m["unit"] == unit, (name, m)
        assert isinstance(m["value"], float), (name, m)


def check_benchmark_json() -> None:
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.exists(path):
        return
    b = json.load(open(path))
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER


def main() -> int:
    check_benchmark_json()
    cases = [
        ("alerts_paced", 0, (), END_TO_END, False),
        ("alerts_paced", 0, ("--inject", "avro"), END_TO_END, True),
        ("query_mix", 0, ("--inject", "query_row"), END_TO_END, True),
        ("alerts_paced", 1, (), PER_LAYER, False),
        ("query_mix", 1, (), PER_LAYER, False),
    ]
    for workload, trace, extra, expected, broken in cases:
        meta, res = bench(workload, trace, *extra)
        check_metrics(res, expected)
        if broken:
            assert res["failed"] > 0 and meta["failed_frac"] > 0 and not res["correct"], res
        else:
            assert res["failed"] == 0 and meta["failed_frac"] == 0 and res["correct"], meta
        print(f"ok  {workload} trace={trace} {' '.join(extra)}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
