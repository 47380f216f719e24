"""Streaming near-dedup gate (round 11): band_canonical_dedup folded
over micro-batches via streaming/near_dedup.near_dedup_sink.

Pins the module's stated contract:
1. a single-batch run admits EXACTLY the qd17 kernel's set;
2. cross-batch near-dups of ADMITTED docs are dropped, novel docs kept,
   and the store grows only by kept docs' buckets;
3. the chain divergence is the documented one (same-batch C dropped,
   next-batch C admitted when its only collision B was itself dropped);
4. post-commit redelivery of an epoch is a no-op for both the store and
   the emitted output; an epoch below the committed one raises (the
   fresh-checkpoint-against-nonempty-store signature);
5. an end-to-end availableNow stream over a parquet dir produces the
   same admitted set as driving the sink by hand, and across batches
   the first arrival of a near-duplicate pair wins, whatever its id.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from event_stream_aggr_spark.operators.dedup import band_canonical_dedup
from event_stream_aggr_spark.sources.files import stream_parquet_dir
from event_stream_aggr_spark.streaming.near_dedup import near_dedup_sink
from event_stream_aggr_spark.streaming.state_store import read_append_state

# token sets: identical tokens → identical MinHash signature → every
# band collides. A/B/E share one vocabulary; C/D another; G is novel.
_TXT_X = "alpha beta gamma delta epsilon zeta"
_TXT_Y = "one two three four five six seven"
_TXT_Z = "red orange yellow green blue indigo"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kept_ids(spark, out_dir):
    return {
        r.doc_id for r in spark.read.parquet(f"{out_dir}/epoch=*").collect()
    }


def test_single_batch_equals_kernel(spark, tmp_path):
    docs = _docs(
        spark,
        [(1, _TXT_X), (2, _TXT_X), (3, _TXT_Y), (4, _TXT_Y), (5, _TXT_Z)],
    )
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    near_dedup_sink(root, out)(docs, 0)
    kernel_kept, _ = band_canonical_dedup(docs)
    assert _kept_ids(spark, out) == {r.doc_id for r in kernel_kept.collect()}
    assert _kept_ids(spark, out) == {1, 3, 5}


def test_cross_batch_near_dups_dropped_and_store_grows_by_kept(
    spark, tmp_path
):
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    sink = near_dedup_sink(root, out)
    sink(_docs(spark, [(1, _TXT_X), (2, _TXT_X)]), 0)  # keep 1, drop 2
    state0, _ = read_append_state(spark, root)
    n0 = state0.count()
    # 3 ~ admitted 1 → dropped; 4 is novel → kept
    sink(_docs(spark, [(3, _TXT_X), (4, _TXT_Y)]), 1)
    assert _kept_ids(spark, out) == {1, 4}
    state1, committed = read_append_state(spark, root)
    assert committed == 1
    # store grew only by doc 4's buckets; doc 1 stays canonical
    assert state1.count() > n0
    canons = {r.canon for r in state1.collect()}
    assert canons == {1, 4}


def test_chain_divergence_is_the_documented_contract(spark, tmp_path):
    # A(1)~B(2) on vocab X; B(2)~C(3) on vocab Y (B holds both vocabs);
    # A and C share nothing.
    a, b, c = (1, _TXT_X), (2, _TXT_X + " " + _TXT_Y), (3, _TXT_Y)
    one_root, one_out = str(tmp_path / "s1"), str(tmp_path / "o1")
    near_dedup_sink(one_root, one_out)(_docs(spark, [a, b, c]), 0)
    # same batch: greedy — C's Y-side bucket's min id is B(2) < 3,
    # so C is dropped even though B itself was dropped via A
    assert _kept_ids(spark, one_out) == {1}

    two_root, two_out = str(tmp_path / "s2"), str(tmp_path / "o2")
    sink = near_dedup_sink(two_root, two_out)
    sink(_docs(spark, [a, b]), 0)  # admits A only
    sink(_docs(spark, [c]), 1)  # B never entered the store → C admitted
    assert _kept_ids(spark, two_out) == {1, 3}


def test_redelivery_noop_and_stale_checkpoint_raises(spark, tmp_path):
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    sink = near_dedup_sink(root, out)
    sink(_docs(spark, [(1, _TXT_X)]), 0)
    sink(_docs(spark, [(2, _TXT_Y)]), 1)
    state_before = sorted(map(tuple, read_append_state(spark, root)[0].collect()))
    out_before = _kept_ids(spark, out)

    # post-commit redelivery (at-least-once): store and output unchanged
    sink(_docs(spark, [(2, _TXT_Y)]), 1)
    assert sorted(map(tuple, read_append_state(spark, root)[0].collect())) == (
        state_before
    )
    assert _kept_ids(spark, out) == out_before

    # a batch id below the committed epoch is a different checkpoint
    # lineage pointed at a live store — must refuse, not silently gate
    with pytest.raises(ValueError, match="below"):
        sink(_docs(spark, [(9, _TXT_Z)]), 0)


def _write_arrivals(spark, src, groups):
    """One parquet file per group of rows, with modification times in
    list order: the file source replays files oldest first, so with
    maxFilesPerTrigger=1 each group is one micro-batch, in this order."""
    os.makedirs(src)
    t0 = time.time() - 100
    for i, rows in enumerate(groups):
        part = os.path.join(src, f"_part{i}")
        _docs(spark, rows).coalesce(1).write.parquet(part)
        (name,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        os.replace(os.path.join(part, name), os.path.join(src, f"arrival-{i}.parquet"))
        os.utime(os.path.join(src, f"arrival-{i}.parquet"), (t0 + i, t0 + i))
        shutil.rmtree(part)


def _run_stream(spark, src, root, out, ckpt):
    q = (
        stream_parquet_dir(spark, src, _docs(spark, []).schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(near_dedup_sink(root, out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_end_to_end_stream_matches_hand_driven(spark, tmp_path):
    rows = [(1, _TXT_X), (2, _TXT_X), (3, _TXT_Y), (4, _TXT_Z), (5, _TXT_Z)]
    src = str(tmp_path / "src")
    _write_arrivals(spark, src, [rows[:4], rows[4:]])
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _run_stream(spark, src, root, out, ckpt)

    # docs 4 and 5 are near-duplicates; 4 arrives first and the batch
    # that holds 5 is vetoed by 4's stored buckets, so the stream keeps
    # the kernel's single-batch answer (where smaller-id-wins keeps 4)
    kernel_kept, _ = band_canonical_dedup(_docs(spark, rows))
    assert _kept_ids(spark, out) == {r.doc_id for r in kernel_kept.collect()}
    assert _kept_ids(spark, out) == {1, 3, 4}
    # a second identical stream run with the SAME checkpoint replays
    # nothing (availableNow already consumed the files): no new epochs
    committed_before = read_append_state(spark, root)[1]
    _run_stream(spark, src, root, out, ckpt)
    assert read_append_state(spark, root)[1] == committed_before
    assert _kept_ids(spark, out) == {1, 3, 4}


def test_end_to_end_stream_first_arrival_wins(spark, tmp_path):
    # the reversed arrival: 5 lands a batch before 4, so 5 is admitted
    # and 4 dropped — first arrival wins across batches, whatever the ids
    src = str(tmp_path / "src")
    _write_arrivals(
        spark, src, [[(5, _TXT_Z)], [(1, _TXT_X), (2, _TXT_X), (3, _TXT_Y), (4, _TXT_Z)]]
    )
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    _run_stream(spark, src, root, out, os.path.join(str(tmp_path), "ckpt"))
    assert _kept_ids(spark, out) == {1, 3, 5}


def test_tokenless_docs_are_admitted_not_silently_dropped(spark, tmp_path):
    """Round-11 ADVICE (medium): docs with no tokens (empty,
    whitespace-only, NULL text) produce no band rows — the pre-fix
    gate silently dropped them even though they are near-duplicates
    of nothing. The exact reported corpus: only doc 1 was admitted;
    now 1, 2, 3 and 4 all are. They must also NOT enter the band
    store (nothing to match on), and a later batch's token-less doc
    is admitted again (exact dedup of identical empties is W4's job,
    not the similarity gate's)."""
    docs = _docs(
        spark, [(1, "a b c"), (2, ""), (3, "   "), (4, None)]
    )
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    sink = near_dedup_sink(root, out)
    sink(docs, 0)
    assert _kept_ids(spark, out) == {1, 2, 3, 4}
    # the store holds only doc 1's buckets — token-less docs add none
    state, _ = read_append_state(spark, root)
    assert {r.canon for r in state.collect()} == {1}
    # next epoch: another empty doc sails through the gate
    sink(_docs(spark, [(9, "")]), 1)
    assert 9 in _kept_ids(spark, out)


def test_kernel_keeps_tokenless_docs(spark):
    """Same contract at the batch-kernel grain (qd17's operator):
    kept_ids includes token-less docs, kept_buckets does not."""
    docs = _docs(
        spark, [(1, "a b c"), (2, "a b c"), (3, ""), (4, None)]
    )
    kept_ids, kept_buckets = band_canonical_dedup(docs)
    assert {r.doc_id for r in kept_ids.collect()} == {1, 3, 4}
    assert {r.doc_id for r in kept_buckets.collect()} == {1}


def test_store_canon_keeps_native_id_type(spark, tmp_path):
    """Round-11 ADVICE (low): the store's canon column used to cast to
    long, nulling canonical attribution for string ids. Native-typed
    ids (UUID-ish strings) must round-trip: canon stays a string, and
    first-writer-wins picks the lexicographically smallest id."""
    docs = spark.createDataFrame(
        [("uuid-b", _TXT_X), ("uuid-a", _TXT_X), ("uuid-z", _TXT_Y)],
        "doc_id string, text string",
    )
    root, out = str(tmp_path / "state"), str(tmp_path / "out")
    near_dedup_sink(root, out)(docs, 0)
    assert _kept_ids(spark, out) == {"uuid-a", "uuid-z"}
    state, _ = read_append_state(spark, root)
    assert dict(state.dtypes)["canon"] == "string"
    assert {r.canon for r in state.collect()} == {"uuid-a", "uuid-z"}
