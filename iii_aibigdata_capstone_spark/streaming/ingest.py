"""Streaming incremental-ingest admission — the dedup half of the r9
serving pattern (streaming/serving.py): a PREBUILT, fully-checkpointed
dedup index (IngestIndex: content hashes + banded-minhash LSH bands +
shingle table) admits each micro-batch of arriving documents through the
SAME ``ingest_admit`` dataflow the batch ``x1_minhash_ingest`` lane runs —
one spelling, so stream and batch cannot drift.

Contract (pinned by tests/test_streaming.py::
test_streaming_minhash_ingest_equals_batch): the union of per-micro-batch
admissions over any arrival split equals the batch lane's admitted set,
because BOTH lanes test arrivals against the FIXED resident index only —
batch-vs-batch (and arrival-vs-arrival) pairs are out of contract in both.
An ingest that must dedup arrivals against EARLIER arrivals uses the
GROWING twin (``streaming_minhash_ingest_growing`` / batch
``x1_ingest_growing``): admitted docs fold back into the index per
micro-batch via ``ingest_admit_fold`` (sequential-prefix semantics);
within-one-micro-batch pairs remain the stateful cross-batch lane's job
(streaming/neardup.py). For the fixed twin, index evolution = rebuild,
like RagIndex; for the growing twin, evolution = the fold itself. Arrival
doc_ids must be unique per batch and disjoint from resident index ids —
see the ID-NAMESPACE CONTRACT on ``ingest_admit`` (a collision merges two
documents' shingle sets in the verify and silently corrupts Jaccard).

This is the stream-static join shape at 100 TB: the index members are
bounded artifacts (hashes, N_MINHASH_BANDS rows/doc, shingles) readable
from a warm store; per batch the probe cost is O(batch x bands) rows
against the hash-partitioned band index, and NO corpus parquet is
re-scanned per micro-batch (every IngestIndex member is checkpointed —
asserted by tests/test_plans.py::
test_streaming_ingest_micro_batch_plan_rescans_no_parquet).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    IngestIndex,
    ingest_admit,
    ingest_admit_fold_delta,
    ingest_index_load,
    ingest_index_save,
    ingest_union,
    minhash_ingest_index,
)
from ..operators.index_store import (
    complete_segments,
    hadoop_fs,
    index_is_complete,
    latest_segment,
    segment_name_bid,
)

__all__ = [
    "committed_batch_ids",
    "ingest_store_compact",
    "ingest_store_load",
    "streaming_minhash_ingest",
    "streaming_minhash_ingest_growing",
]


def committed_batch_ids(spark: SparkSession, checkpoint: str) -> set[int]:
    """Batch ids the streaming engine has COMMITTED for the query whose
    ``checkpointLocation`` is ``checkpoint`` — read from the engine's own
    commits log (through the checkpoint path's Hadoop filesystem, like
    every store operation — checkpoints live on HDFS/object stores in a
    real deployment). This is the fold boundary of the bounded-tail
    recovery recipe (review r13): an at-least-once sink may also hold
    rows of the batch in flight at the crash, and that batch WILL replay
    on restart — folding its rows into the recovered index would make
    the replay self-reject and an idempotent-by-batch-id sink would then
    overwrite the batch with an empty frame. Only sink batches in this
    set (and at or after the loaded segment's boundary) enter the tail
    fold; a sink batch NOT in this set is about to be replayed and
    recomputed. RETENTION CAVEAT (review r13): the engine keeps only the
    newest ``spark.sql.streaming.minBatchesToRetain`` (default 100)
    commit entries, so ids older than that are absent even though
    committed — the growing trigger therefore validates compact_every
    against the retention at start, which bounds the recovery tail
    (< compact_every batches, all newer than the last flush) inside the
    retained log."""
    d = os.path.join(checkpoint, "commits")
    fs, dpath = hadoop_fs(spark, d)
    if not fs.exists(dpath):
        return set()
    return {
        int(st.getPath().getName())
        for st in fs.listStatus(dpath)
        if st.getPath().getName().isdigit()
    }


def streaming_minhash_ingest(
    index: IngestIndex,
    docs_stream: DataFrame,
    emit: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """Start an availableNow admission query: each micro-batch of
    ``(doc_id, lang, text, n_chars)`` rows is admitted via the shared
    ``ingest_admit`` and the admitted frame handed to
    ``emit(admitted_df, batch_id)``. Returns the StreamingQuery (caller
    awaits/stops). A batch whose docs are ALL rejected emits an empty
    frame (emit still runs — absence of rows, not absence of the call,
    signals total rejection)."""
    return (
        docs_stream.writeStream.foreachBatch(
            lambda df, bid: emit(ingest_admit(index, df), bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _segment_bid(name: str, prefix: str) -> int:
    """Batch id of a KNOWN-well-formed segment name/path (one that came
    through ``complete_segments``) — delegates to ``segment_name_bid``,
    the one spelling of the naming contract (review r14), and raises on
    the impossible malformed case rather than guessing."""
    bid = segment_name_bid(os.path.basename(name), prefix)
    if bid is None:
        raise ValueError(f"not a well-formed {prefix}<digits> segment: {name}")
    return bid


def ingest_store_load(
    spark: SparkSession, store: str, scan: bool = False
) -> tuple[IngestIndex, int] | None:
    """Compose the current index from a growing stream's ``store`` —
    ``(index, boundary_bid)`` where the index covers exactly the batches
    BEFORE ``boundary_bid``, or None if nothing complete has landed.
    The composition is the newest complete ``seg_<bid>`` snapshot (the
    trigger's resident base, or an ``ingest_store_compact`` output;
    covers everything before its bid) unioned with every complete
    ``delta_<bid>`` whose bid is NEWER (each covers the batches between
    the previous flush and its own bid, O(delta) rows). None means an
    EMPTY store (nothing complete ever landed — rebuild from residents
    + the admitted sink); a store holding complete deltas but NO base
    snapshot raises instead of returning None, because that state is
    not "nothing landed" but CORRUPTION (the trigger writes the base
    before any delta can flush, so the base must have been deleted or
    partially copied) and a silent rebuild would paper over it. The composition
    is metadata-only (``ingest_union``); each segment's members come
    back lazily checkpointed, so a restart reads each segment's parquet
    once however many batches it then serves. RECOVERY RECIPE:
    ``index, b = ingest_store_load(...)``; resolve the admitted sink's
    docs for engine-committed batches ``>= b`` (``committed_batch_ids``)
    and pass them as the growing trigger's ``tail_docs``, resuming from
    the source checkpoint — the trigger folds the tail and the NEXT
    delta flush persists it (the tail lives only in the driver until
    then).

    ``scan=True`` loads every member as a PLAIN parquet scan instead of
    a lazy checkpoint — the READ-ONCE shape (review r14): the compactor
    writes the composition exactly once, and checkpointed members would
    pin O(corpus) RDD blocks in executor storage as a side effect of
    that single write. A scan-composed index must NOT be served per
    batch (each serve would re-scan the store); serving callers keep
    the default."""
    segs = complete_segments(spark, store, "seg_")
    deltas = complete_segments(spark, store, "delta_")
    if not segs:
        if not deltas:
            return None
        # deltas without any base snapshot: the trigger writes the base
        # BEFORE any delta can flush, so this store lost its base
        # (deleted, partial copy) — refuse loudly rather than compose a
        # residents-less index or masquerade as an empty store
        raise ValueError(
            f"{store} holds delta segments but no complete base "
            "snapshot (seg_*) — the base was lost after flushes ran; "
            "rebuild from residents + the admitted sink and republish"
        )
    members = IngestIndex._fields if scan else ()
    boundary = _segment_bid(segs[-1], "seg_")
    index = ingest_index_load(
        spark, os.path.join(store, segs[-1]), scan_members=members
    )
    tail = [d for d in deltas if _segment_bid(d, "delta_") > boundary]
    for name in tail:
        index = ingest_union(
            index,
            ingest_index_load(
                spark, os.path.join(store, name), scan_members=members
            ),
        )
        boundary = _segment_bid(name, "delta_")
    return index, boundary


def ingest_store_compact(
    spark: SparkSession, store: str, keep_segments: int = 2
) -> str:
    """OUT-OF-BAND compaction of the growing-ingest store (the second
    half of the O(delta) flush design, r13 verdict ask #2): fold the newest
    base snapshot + every newer delta segment into ONE new
    ``seg_<boundary>`` snapshot, marker written last, then prune — a
    batch maintenance job a deployment schedules nightly, completely
    outside the ingest stream's hot path (which keeps paying only
    O(delta) per flush). Idempotent: if the target snapshot is already
    complete (a previous compactor run crashed after the marker), the
    write is skipped and only pruning proceeds.

    RETENTION GRACE (r13 verdict ask #1) — the store's only pruning:
    the ingest trigger never deletes a segment. Pruning keeps the newest
    ``keep_segments`` snapshots, and keeps every delta newer than the
    OLDEST kept snapshot — so any concurrent reader that composed ANY
    kept generation (snapshot + its deltas, lazy checkpoints still
    unmaterialized) keeps all its input parquet for at least one more
    compaction cycle (pinned by tests/test_streaming.py::
    test_concurrent_reader_survives_flush). Only segments a reader of a
    retired generation would need are deleted — the documented trade:
    retire-delay is one compaction period, so schedule compaction no
    more often than the longest-running reader job; ``keep_segments=1``
    retires immediately, for single-job stores."""
    if keep_segments < 1:
        raise ValueError(f"keep_segments must be >= 1, got {keep_segments}")
    # scan=True: the composition is written exactly once — plain scans
    # stream it through; checkpointed members would pin every segment's
    # rows in executor storage as a side effect of one write (review r14)
    loaded = ingest_store_load(spark, store, scan=True)
    if loaded is None:
        raise ValueError(f"{store} holds no complete segments to compact")
    index, boundary = loaded
    target = os.path.join(store, f"seg_{boundary:09d}")
    if not index_is_complete(spark, target):
        # the composition reads ONLY base+delta parquet at other paths —
        # never the target — so this is not a self-overwrite
        ingest_index_save(index, target)
    keep = set(complete_segments(spark, store, "seg_")[-keep_segments:])
    oldest_kept = min(_segment_bid(name, "seg_") for name in keep)
    fs, spath = hadoop_fs(spark, store)
    for st in fs.listStatus(spath):
        name = st.getPath().getName()
        # only well-formed <prefix><digits> names are ours to retire —
        # segment_name_bid is the one spelling of that contract
        snap_bid = segment_name_bid(name, "seg_")
        delta_bid = segment_name_bid(name, "delta_")
        stale_snap = snap_bid is not None and name not in keep
        stale_delta = delta_bid is not None and delta_bid <= oldest_kept
        if stale_snap or stale_delta:
            fs.delete(st.getPath(), True)
    return target


def _growing_state(
    index: IngestIndex, tail_docs: DataFrame | None
) -> dict:
    """The growing trigger's driver-held state, with THE invariant the
    delta flush rests on: ``cur == base UNION pending`` (pending None =>
    cur IS base). The recovered tail becomes PENDING — folded into
    ``cur`` for admissions but NOT into ``base``, because the first
    delta flush persists pending and unions the LOADED segment into
    base; a base that already contained the tail would then hold every
    tail row TWICE (review r14 — duplicated shingle rows double the
    Jaccard intersection count and corrupt verdicts both directions:
    jac inflates past threshold for true partial overlaps, and a full
    overlap's denominator ``na+nb-2*i`` hits zero). Pinned arithmetic-
    level by tests/test_streaming.py::test_growing_state_invariant."""
    pending0 = None
    cur = index
    if tail_docs is not None:
        # admitted docs are exact-gate survivors and every member is a
        # pure per-doc function, so building their members from scratch
        # reproduces what the original per-batch folds appended (same-
        # text docs admitted within ONE batch collapse to one hash row
        # in both); the delta stays PENDING so the next flush persists it
        pending0 = minhash_ingest_index(tail_docs)
        cur = ingest_union(index, pending0)
    return {"cur": cur, "base": index, "pending": pending0}


def streaming_minhash_ingest_growing(
    index: IngestIndex,
    docs_stream: DataFrame,
    emit: Callable[[DataFrame, int], None],
    checkpoint: str,
    compact_every: int | None = None,
    store: str | None = None,
    tail_docs: DataFrame | None = None,
):
    """The GROWING admission stream (r10 verdict ask #2): after each
    micro-batch is admitted through the shared ``ingest_admit`` spelling,
    its admitted docs FOLD back into the index (``ingest_admit_fold``), so
    every arrival dedups against the residents AND every earlier arrival —
    the sequential-prefix semantics of the batch ``x1_ingest_growing``
    lane, pinned equal across any arrival split/order by
    tests/test_streaming.py (the observed per-batch split replayed as a
    batch-side fold). Within one micro-batch, docs still do not dedup
    against each other (the documented granularity contract on
    ``ingest_admit_fold``).

    Scale/recovery shape: micro-batches run strictly sequentially inside
    one query, so the driver-held index reference is safe to advance
    per batch; each fold adds O(admitted) checkpointed delta rows (LSM
    deltas — residents are never rewritten). On RESTART the driver-held
    deltas are gone, but every member is a pure per-doc function of
    (resident UNION admitted-so-far), and the admitted docs are exactly
    what ``emit`` delivered downstream — so recovery = rebuild the index
    from residents + the admitted sink and resume from the source
    checkpoint (pinned by the mid-stream restart test). A deployment
    that persists segments to the index store skips even that rebuild —
    that is ``compact_every``:

    PERIODIC IN-STREAM FLUSH (r12 verdict ask #6, r13 ask #2): with
    ``compact_every=N`` and a ``store`` directory, the resident index is
    snapshotted ONCE as ``seg_000000000`` when the store is empty, and
    the start of every Nth micro-batch ``bid`` writes ONLY the deltas
    folded since the previous flush to ``<store>/delta_<bid>``
    (``ingest_index_save``, completeness marker last) — O(admitted since
    the last flush) member rows, never O(corpus). The flush runs
    PRE-FOLD, when the engine has committed exactly batches < bid, so a
    segment never contains an uncommitted batch (review r13: its replay
    would self-reject every doc and emit the batch as empty). The driver
    continues on base UNION the LOADED delta, collapsing the per-batch
    delta checkpoints into one parquet read: plan depth stays bounded
    by ``compact_every`` deltas plus one union per elapsed flush. Values
    are untouched — save/load round-trips every member exactly, so the
    composed store equals ``minhash_ingest_index(residents UNION
    admitted-so-far)`` (pinned member-by-member by
    tests/test_streaming.py) and downstream admissions cannot drift.
    Segment count grows by one per flush until the out-of-band
    ``ingest_store_compact`` folds base+deltas back into one snapshot
    and prunes (the store's only retention, including the grace a
    concurrent reader needs) — the classic LSM split: cheap sequential
    flushes on the hot path, compaction amortized off it. A flush that
    finds a snapshot newer than the one it composed on rebases onto the
    store, so the driver never stays pinned to segments the compactor
    prunes. This is the segment half of compaction — physical,
    admission-preserving; the SEMANTIC keep-best reconciliation over
    what the ingest retained is the batch ``x1_ingest_compaction``
    lane.

    RESTART from the store: ``index, b = ingest_store_load(...)``, the
    admitted sink's docs for engine-committed batches ``>= b``
    (``committed_batch_ids``) as ``tail_docs`` (``doc_id, lang, text,
    n_chars`` — the sink carries the ids, ``text`` is resolved by id
    from the raw arrival store), and the source checkpoint — correct at EVERY crash point because a segment never
    contains an uncommitted batch, and strictly cheaper than the full
    rebuild the no-store path needs. The trigger folds the tail as
    PENDING so the next flush persists it (``_growing_state``)."""
    if (compact_every is None) != (store is None):
        raise ValueError(
            "compact_every and store come together: a store without a "
            "trigger would silently never be populated, a trigger "
            "without a store has nowhere to flush"
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    if tail_docs is not None and store is None:
        raise ValueError(
            "tail_docs is the store-recovery handoff (the tail must reach "
            "the NEXT flush); it needs compact_every and store"
        )
    if compact_every is not None:
        # the recovery tail is < compact_every engine-committed batches,
        # all newer than the last flush — it must fit inside the commits
        # log the engine RETAINS, or committed_batch_ids silently
        # under-reports and the tail fold silently drops admitted
        # batches (review r13)
        retain = int(
            docs_stream.sparkSession.conf.get(
                "spark.sql.streaming.minBatchesToRetain", "100"
            )
        )
        if compact_every > retain:
            raise ValueError(
                f"compact_every={compact_every} exceeds the commits-log "
                f"retention (spark.sql.streaming.minBatchesToRetain="
                f"{retain}); the bounded-tail recovery recipe would "
                "silently lose admitted batches — lower compact_every "
                "or raise the retention"
            )
    st = _growing_state(index, tail_docs)
    if store is not None:
        # one-time base snapshot so recovery always has a floor to
        # compose deltas onto — only on a FRESH store (a restart finds
        # segments and must not re-snapshot its recovered composition,
        # which would freeze tail-folded docs into a "residents" base)
        spark0 = index[0].sparkSession
        if not complete_segments(spark0, store, "seg_") and not (
            complete_segments(spark0, store, "delta_")
        ):
            ingest_index_save(index, os.path.join(store, f"seg_{0:09d}"))
        # the snapshot generation the driver-held composition rests on —
        # a flush compares against the CURRENT newest snapshot to detect
        # an out-of-band compaction (full rebase) vs plain delta growth
        # (incremental union); at start the passed index is by contract
        # either the fresh residents (just snapshotted) or the recovery
        # composition off the then-newest snapshot
        st["snap"] = latest_segment(spark0, store)

    def _flush(spk: SparkSession, bid: int) -> None:
        # flush BEFORE folding this batch: the engine has committed
        # exactly batches < bid, so the segment never contains an
        # uncommitted batch — a crash anywhere after this point
        # replays only batches the segment does NOT cover, and their
        # docs admit normally instead of self-rejecting (review
        # r13). Replay of the flush batch `bid` itself: if its segment
        # is already COMPLETE, skip the save — the recovered state
        # composed it already, and saving would overwrite the very
        # parquet the recovered index's lazy checkpoints still read
        # from (review r13 #2). A marker-LESS segment (crash mid-save)
        # is re-saved safely: nothing loadable reads from it.
        seg = os.path.join(store, f"delta_{bid:09d}")
        replay = index_is_complete(spk, seg)
        if not replay:
            if st["pending"] is None:
                # nothing folded since the last flush (reachable only
                # when the first post-restart batch IS a flush boundary)
                # — an EMPTY delta still lands so the covered boundary
                # advances and the recovery tail stays bounded by
                # compact_every
                ingest_index_save(
                    IngestIndex(*(m.limit(0) for m in st["base"])), seg
                )
            else:
                ingest_index_save(st["pending"], seg)
        # collapse + compaction pickup, on EVERY path (review r14 passes
        # 2-4): if an out-of-band ingest_store_compact landed a NEWER
        # snapshot since the last flush, REBASE the whole composition
        # from the store (one full re-read, collapses the live plan;
        # skipping this on the empty/replay paths would leave the driver
        # pinned to segments the compactor's NEXT cycle prunes).
        # Otherwise union just the written delta (keeping every
        # already-materialized segment checkpoint — a full rebase per
        # flush would re-read O(corpus) parquet each cycle in a design
        # sold on O(delta) flushes); on replay the recovered base
        # composed the segment already, and an empty delta adds nothing
        # — both no-ops. No pruning here: only ingest_store_compact
        # retires segments.
        snap = latest_segment(spk, store)
        if snap != st["snap"]:
            st["snap"] = snap
            st["base"] = ingest_store_load(spk, store)[0]
        elif st["pending"] is not None and not replay:
            st["base"] = ingest_union(st["base"], ingest_index_load(spk, seg))
        st["pending"] = None
        st["cur"] = st["base"]

    def _admit_and_fold(df: DataFrame, bid: int) -> None:
        if compact_every and bid > 0 and bid % compact_every == 0:
            _flush(df.sparkSession, bid)
        # eager=True: the delta's lineage roots in THIS micro-batch's
        # DataFrame — it must materialize inside the batch, or the next
        # batch's admission would replay this batch's source (broken on
        # cleaned/archived files or Kafka past retention; review r11)
        admitted, delta = ingest_admit_fold_delta(st["cur"], df, eager=True)
        st["cur"] = ingest_union(st["cur"], delta)
        if store is not None:
            st["pending"] = (
                delta
                if st["pending"] is None
                else ingest_union(st["pending"], delta)
            )
        emit(admitted, bid)

    return (
        docs_stream.writeStream.foreachBatch(_admit_and_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
