"""Unit-pin the bench's stage-metrics attribution (bench.py:
_stage_metrics_since): stages are attributed to a query by MONOTONIC
stage id relative to the pre-run snapshot, so UI eviction of old
stages can never corrupt the diff, and the summed REST field names
stay in sync with what the status API actually serves (the live
end-to-end evidence is the bench run itself — BENCH_LOCAL.json
`stage_metrics` with 45/45 queries captured), and the size of the
headline line callers parse."""

from __future__ import annotations

import bench


def _fake_stage(stage_id, **kw):
    base = {
        "stageId": stage_id,
        "numTasks": 4,
        "numCompleteTasks": 4,
        "inputBytes": 1_000_000,
        "shuffleWriteBytes": 250_000,
        "shuffleReadBytes": 250_000,
        "memoryBytesSpilled": 0,
        "diskBytesSpilled": 0,
    }
    base.update(kw)
    return base


def test_only_stages_after_snapshot_are_attributed(monkeypatch):
    stages = [
        _fake_stage(3),  # before the snapshot: someone else's work
        _fake_stage(7, inputBytes=2_000_000, diskBytesSpilled=500_000),
        _fake_stage(8, shuffleWriteBytes=750_000),
    ]
    monkeypatch.setattr(bench, "_completed_stages", lambda spark: stages)
    m = bench._stage_metrics_since(None, prev_max_stage_id=3)
    assert m["stages"] == 2 and m["tasks"] == 8
    assert m["input_mb"] == 3.0  # stage 3 excluded
    assert m["shuffle_write_mb"] == 1.0
    assert m["spill_disk_mb"] == 0.5
    assert m["spill_mem_mb"] == 0.0


def test_no_new_stages_yields_none(monkeypatch):
    """A query whose stages were all reused (or a REST hiccup returning
    []) records no metrics rather than zeros-that-look-measured."""
    monkeypatch.setattr(
        bench, "_completed_stages", lambda spark: [_fake_stage(5)]
    )
    assert bench._stage_metrics_since(None, prev_max_stage_id=5) is None
    monkeypatch.setattr(bench, "_completed_stages", lambda spark: [])
    assert bench._stage_metrics_since(None, prev_max_stage_id=-1) is None


def test_max_stage_id_none_when_unreachable(monkeypatch):
    """No completed stages (UI off / REST down) → snapshot is None and
    the headline loop skips capture instead of mis-attributing."""
    monkeypatch.setattr(bench, "_completed_stages", lambda spark: [])
    assert bench._max_stage_id(None) is None


def test_task_time_dist_picks_heaviest_stage(monkeypatch):
    """The skew probe's per-task distribution must come from the stage
    with the most total executor time — that's where a straggler
    serializes — and report max/median from the taskSummary quantiles."""
    captured = {}

    class _Resp:
        def __init__(self, payload):
            self._p = payload

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            import json

            return json.dumps(self._p).encode()

    def fake_urlopen(url, timeout=10):
        captured["url"] = url
        return _Resp({"executorRunTime": [10.0, 120.0, 480.0]})

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)

    class _SC:
        uiWebUrl = "http://localhost:4040"
        applicationId = "app-1"

    class _Spark:
        sparkContext = _SC()

    stages = [
        _fake_stage(10, executorRunTime=500),
        _fake_stage(11, executorRunTime=9_000, numCompleteTasks=32),
        _fake_stage(12, executorRunTime=700),
    ]
    m = bench._task_time_dist(_Spark(), stages)
    assert "/stages/11/0/taskSummary" in captured["url"]
    assert m["heavy_stage_tasks"] == 32
    assert m["task_med_ms"] == 120.0 and m["task_max_ms"] == 480.0
    assert m["task_imbalance"] == 4.0


def test_task_time_dist_empty_stages_yields_empty():
    assert bench._task_time_dist(None, []) == {}


def test_skew_split_detection_reads_only_new_executions(monkeypatch):
    """skew=true in an OLD execution's plan must not count; a new
    execution containing the AQE skew-split marker must."""
    execs = [
        {"id": 3, "planDescription": "SortMergeJoin skew=true"},
        {"id": 7, "planDescription": "BroadcastHashJoin"},
    ]
    monkeypatch.setattr(bench, "_sql_executions", lambda spark: execs)
    assert bench._skew_split_fired(None, prev_max_sql_id=3) is False
    execs.append({"id": 9, "planDescription": "SortMergeJoin(skew=true)"})
    assert bench._skew_split_fired(None, prev_max_sql_id=3) is True
    monkeypatch.setattr(bench, "_sql_executions", lambda spark: [])
    assert bench._skew_split_fired(None, prev_max_sql_id=0) is None


def test_headline_line_fits_the_2000_char_tail():
    """Callers keep only a 2,000-char stdout tail and parse the LAST
    line from it, so the headline line must fit whole: the real
    headline set, all eight stream rates and a full vs_prev block, at
    sf0.1-sized values, serialized as main() prints it."""
    import json

    from event_stream_aggr_spark.plans.registry import load_all

    names = sorted(n for n, spec in load_all().items() if spec.bench)
    assert len(names) >= 47
    timings = {n: round(0.25 + 0.0937 * i, 4) for i, n in enumerate(names)}
    rates = (52079.1, 2822.3, 35411.1, 2253.5, 4454.2, 14071.7, 136081.2, 4558.8)
    diagnostics = {
        key: {rate_key: rate}
        for (key, (_, rate_key)), rate in zip(bench.STREAM_RATES.items(), rates)
    }
    diagnostics["calibration"] = {
        "start": {"min_sec": 0.3302},
        "end": {"min_sec": 0.3706},
        "during": {"baseline_min_sec": 0.1713, "p50_sec": 0.1959, "max_sec": 6.4211},
    }
    streams = ("alerts", "curation", "cep", "near_dedup", "entity_resolution")
    diagnostics["vs_prev_same_boot"] = {
        "prev_commit": "90981c6bcc42",
        "median_ratio_cur_over_prev": 0.987,
        "n_compared": len(names),
        "stream_ratios": {s: 1.053 for s in streams},
        "streams": {s: {"ratio_cur_over_prev": 1.053} for s in streams},
        "queries": {n: {"ratio_cur_over_prev": 0.987} for n in names},
    }
    line = bench.headline_line(timings, diagnostics, 0.1)
    printed = json.dumps(line, separators=(",", ":"))
    assert len(printed) < 2000, len(printed)
    parsed = json.loads(printed)
    assert list(parsed["queries"]) == names
    assert len(parsed["stream"]) == 8 and all(parsed["stream"].values())
    assert parsed["vs_prev"]["stream_ratios"] == {s: 1.053 for s in streams}
    assert parsed["calib_mid"] == [0.1713, 0.1959, 6.4211]
    assert parsed["calibration_sec"] == 0.3302


def test_prev_round_commit_is_the_parent(tmp_path):
    """vs_prev pairs against HEAD^ whatever its subject says, and steps
    past a parent whose tree equals HEAD's (no self-comparison)."""
    import subprocess

    def git(*args):
        return subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, check=True, capture_output=True, text=True,
        ).stdout.strip()

    git("init", "-q")
    assert bench._prev_round_commit(str(tmp_path)) is None  # no commits
    (tmp_path / "f").write_text("a")
    git("add", "f")
    git("commit", "-q", "-m", "round 1: verdict/advice/correctness/bench")
    assert bench._prev_round_commit(str(tmp_path)) is None  # no parent
    (tmp_path / "f").write_text("b")
    git("commit", "-q", "-am", "an ordinary change")
    parent = git("rev-parse", "HEAD")
    (tmp_path / "f").write_text("c")
    git("commit", "-q", "-am", "another ordinary change")
    assert bench._prev_round_commit(str(tmp_path)) == parent
    git("commit", "-q", "--allow-empty", "-m", "same tree as its parent")
    assert bench._prev_round_commit(str(tmp_path)) == parent
