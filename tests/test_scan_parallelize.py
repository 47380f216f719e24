"""Focused tests for the round-16 adaptive scan parallelization
(tables._parallelize_scan): the guide §2.5 unsplittable-input remedy,
gated on MEASURED parquet layout so it never fires at scale.

The driver's test tables are one file x one row group, which caps scan
parallelism at a single task however many cores the session has; the
gate inserts one reusable hash repartition above the scan only when
the footers prove the layout cannot feed the cores AND the relation is
big enough for single-threaded decode+compute to matter.
"""

from __future__ import annotations

import pytest

from event_stream_aggr_spark import tables
from event_stream_aggr_spark.tables import load_table

SF_SMALL = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gate_off_below_min_bytes(spark):
    # sf0.001 lineitem is ~115 KB < the 256 KiB floor: the load path
    # must stay the plain declarative scan (no inserted exchange), so
    # every plan-shape pin in the suite sees the unchanged plans.
    plan = _plan(load_table(spark, SF_SMALL, "lineitem"))
    assert "REPARTITION_BY_NUM" not in plan
    assert "Exchange" not in plan


def test_gate_fires_on_single_row_group_file(spark):
    # sf0.01 lineitem is ~1 MB in ONE row group: the gate fires and
    # the inserted exchange hash-partitions on the table's dominant
    # join key to defaultParallelism.
    df = load_table(spark, SF_CORRECTNESS, "lineitem")
    plan = _plan(df)
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning(l_orderkey" in plan
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_opt_out_per_call_site(spark):
    plan = _plan(load_table(spark, SF_CORRECTNESS, "lineitem", parallelize=False))
    assert "REPARTITION_BY_NUM" not in plan


def test_documents_is_opt_in(spark, monkeypatch):
    # documents is NOT in PARALLELIZE_DEFAULT_ON (most document queries
    # shuffle the text payload right after the scan; a pre-repartition
    # would move the payload twice) — the default load stays plain even
    # when the size gate would pass, and parallelize=True opts in.
    monkeypatch.setattr(tables, "SCAN_PAR_MIN_BYTES", 1)
    assert "REPARTITION_BY_NUM" not in _plan(
        load_table(spark, SF_CORRECTNESS, "documents")
    )
    assert "REPARTITION_BY_NUM" in _plan(
        load_table(spark, SF_CORRECTNESS, "documents", parallelize=True)
    )


def test_gate_off_above_max_bytes(spark, monkeypatch):
    # Past the upper bound the repartition's extra full pass over the
    # relation is no longer cheap insurance (the layout offers partial
    # parallelism and the shuffle cost grows with bytes) — the gate
    # must stay off even for a single-row-group file.
    monkeypatch.setattr(tables, "SCAN_PAR_MAX_BYTES", 1)
    plan = _plan(load_table(spark, SF_CORRECTNESS, "lineitem"))
    assert "REPARTITION_BY_NUM" not in plan


def test_gate_off_when_layout_feeds_the_cores(spark, monkeypatch):
    # At scale a table is many files x row groups: when the footers
    # report >= cores/2 row groups the gate must NOT fire — the scan
    # already parallelizes and the repartition would be pure cost.
    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(
        tables, "_scan_layout", lambda path: (max(2, cores // 2), 10**9)
    )
    plan = _plan(load_table(spark, SF_CORRECTNESS, "lineitem"))
    assert "REPARTITION_BY_NUM" not in plan


@pytest.mark.parametrize(
    "name, order",
    [
        ("lineitem", ("l_orderkey", "l_linenumber")),
        ("embeddings", ("vec_id",)),
        ("documents", ("doc_id",)),
    ],
    ids=["lineitem", "embeddings", "documents"],
)
def test_values_identical_with_and_without(spark, monkeypatch, name, order):
    # The repartition must be value-invisible: same rows either way.
    # The floor is lowered so every keyed table's repartition is
    # value-checked at sf0.01, where embeddings and documents fall
    # below the default 256 KiB floor.
    monkeypatch.setattr(tables, "SCAN_PAR_MIN_BYTES", 1)
    on = load_table(spark, SF_CORRECTNESS, name, parallelize=True)
    assert "REPARTITION_BY_NUM" in _plan(on)
    on = on.orderBy(*order)
    off = load_table(spark, SF_CORRECTNESS, name, parallelize=False).orderBy(*order)
    assert on.exceptAll(off).isEmpty() and off.exceptAll(on).isEmpty()


def test_unknown_table_still_rejected(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_CORRECTNESS, "nope")
