"""Streaming near-dedup (round 11): the W4×L2 intersection.

``streaming/pipeline.py`` drops EXACT redeliveries by content hash; this
module drops NEAR-duplicates of anything the corpus has already
admitted — the ingest-time gate a 100 TB training-data pipeline puts
in front of its document store (arriving shards are near-deduped
against months of prior intake, not just within their own batch).

Mechanism: ``operators.dedup.band_canonical_dedup`` (MinHash band
buckets, greedy smaller-id-wins) folded over micro-batches via the
repo's versioned merge store (``streaming/state_store.py`` — the same
epoch-gated, atomic-pointer-swap discipline the sketch maintainers
use, with the same replay contract):

- state at ``root``: the band buckets of every KEPT doc so far, as
  ``(bucket struct, canon id)`` rows — a few longs per admitted doc,
  never text; growth is proportional to the corpus actually admitted,
  and a bucket-grain ``left_semi`` against it is an equi-join AQE can
  split.
- per epoch: drop batch docs hitting any stored bucket (cross-batch
  near-dups), apply the within-batch greedy rule, write the kept docs
  to ``out_dir/epoch=N`` (``overwrite`` — replay-idempotent), fold
  the kept docs' buckets into the store, commit the epoch. The band
  dataflow is DISK_ONLY-checkpointed once per epoch and both writes
  (output + store fold) probe the materialized blocks — MinHash and
  the drop rules never run twice per batch. The fold is an APPEND
  delta (round 14): an epoch's kept buckets are disjoint from the
  store by construction (rule (a) rejects any doc whose bucket is
  stored; rule (b) keeps one doc per surviving bucket), so the store
  grows by O(|batch buckets|) per epoch under ``state_store``'s
  append protocol instead of a full O(|store|) groupBy-min rewrite.
- TOKEN-LESS docs (empty/whitespace/NULL text) have no buckets and
  can near-match nothing: they are always ADMITTED and never enter
  the store (collapsing identical empties is exact dedup's job —
  ``streaming/pipeline.py``). The store's ``canon`` column keeps
  ``id_col``'s native type (string UUIDs attribute correctly;
  first-writer-wins needs only an orderable type).
- redelivery of a committed epoch is a no-op (outputs already on
  disk, merging the buckets again would be harmless for membership
  but would still cost a write — the gate skips it, exactly like
  ``merge_state_sink``); an epoch id BELOW the committed one is the
  fresh-checkpoint-against-nonempty-store signature and raises.

Batch-boundary semantics, stated precisely (and pinned in
tests/test_streaming_near_dedup.py): a single-batch run admits
EXACTLY the qd17 kernel's set. Across batches, only the ADMITTED
corpus vetoes an arrival — so on duplicate-chain corpora
(A~B, B~C, A≁C) boundaries matter at the chain's middle: same-batch
C is dropped (greedy: its bucket's min id B is smaller, even though B
itself was dropped), while next-batch C is admitted (B never entered
the store). Both sides of that divergence are deliberate: within a
batch the greedy rule stays a two-join dataflow (no peel loop), and
across batches "compare against what the corpus actually kept" is the
only semantics that doesn't require remembering rejected docs forever
— the store stays proportional to the ADMITTED corpus. Every
first-writer streaming dedup has this property; transitive-closure
dedup is qd08's offline job.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from event_stream_aggr_spark.streaming import state_store as ss


def near_dedup_sink(
    root: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function: near-dedup each micro-batch against
    the band store at ``root``, write kept rows (full input schema) to
    ``out_dir/epoch=<id>``, fold kept buckets into the store.

    Use::

        stream.writeStream.foreachBatch(
            near_dedup_sink(root, out_dir)
        ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    """
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.dedup import (
        band_canonical_dedup,
        tokenless_ids,
    )
    from event_stream_aggr_spark.operators.lifecycle import (
        disk_checkpoint,
        free_blocks,
    )

    # one cursor per sink closure = per store root (single-writer
    # invariant): zero per-epoch filesystem listings after the first
    # cold epoch (round 15, the r14 append-floor tune)
    cursor = ss.AppendCursor()

    def apply(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        state, committed = ss.read_append_state(spark, root, cursor=cursor)
        if epoch_id < committed:
            raise ValueError(
                f"near_dedup_sink at {root}: batch id {epoch_id} is below "
                f"the committed epoch {committed}. Batch ids only move "
                "forward within one checkpoint lineage, so this store was "
                "built by a DIFFERENT (or deleted) streaming checkpoint; "
                "silently gating would drop real data. Point the query at "
                "its original checkpointLocation, or start a new state root."
            )
        if epoch_id == committed:
            # post-commit redelivery: kept rows for this epoch are
            # already on disk and its buckets already folded in
            return
        banded_gen: list[int] = []
        _, kept_buckets = band_canonical_dedup(
            batch, id_col=id_col, text_col=text_col, bands=bands,
            seen_buckets=state, gen_out=banded_gen,
        )
        # ONE evaluation of the band dataflow per epoch (round-11
        # ADVICE: the output semi-join and the store fold each
        # re-ran MinHash + both drop rules): checkpoint the kept
        # buckets, then both writes below probe the materialized
        # blocks. Freed after the commit — the epoch's only consumers
        # are inside this function.
        kept_buckets, n_kept_buckets, blocks = disk_checkpoint(kept_buckets)
        try:
            # kept ids = bucketed survivors ∪ token-less docs — the
            # latter have no buckets (nothing to near-match on) and
            # are ALWAYS admitted; the band store never grows by them
            # (contract in operators/dedup.band_canonical_dedup)
            kept = (
                kept_buckets.select(id_col)
                .unionByName(tokenless_ids(batch, id_col, text_col))
                .distinct()
            )
            kept_rows = batch.join(kept, id_col, "left_semi")
            # output BEFORE the state commit: a crash in between
            # replays this epoch, which rewrites the same rows
            # (overwrite) and folds the buckets exactly once
            kept_rows.write.mode("overwrite").parquet(
                f"{out_dir}/epoch={epoch_id}"
            )
            # canon keeps id_col's NATIVE type (round-11 ADVICE: a
            # cast-to-long nulled canonical attribution for string
            # ids); first-writer-wins needs only an orderable type
            entries = kept_buckets.select(
                "bucket", F.col(id_col).alias("canon")
            )
            # Store fold = APPEND (round 14): this epoch's kept
            # buckets are DISJOINT from the store by construction —
            # drop rule (a) rejects any doc whose bucket is already
            # stored, and rule (b) keeps exactly one doc per surviving
            # bucket — so first-writer-wins is satisfied by appending
            # a delta (O(|batch buckets|)) instead of rewriting the
            # ever-growing store through a groupBy-min each epoch
            # (O(|store|) write + a shuffle, the r13 stage budget's
            # fold tail). n_kept_buckets comes from the checkpoint's
            # materializing count — no extra job.
            ss.append_commit(
                spark,
                root,
                entries,
                epoch_id,
                committed,
                n_new=n_kept_buckets,
                state=state,
                cursor=cursor,
            )
        finally:
            # the epoch's eager kept_buckets checkpoint supersedes the
            # banded generation the operator materialized — free both
            free_blocks(spark, blocks + banded_gen)

    return apply
