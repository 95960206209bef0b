"""Index persistence (r12 verdict ask #1): the IvfPqIndex / IngestIndex
parquet store — save, load, and serve-from-loaded pins, INCLUDING the
fresh-JVM pin that makes build-once/serve-many real across JOBS (a
nightly build's index served by tomorrow's process, which session-scoped
checkpoints cannot express)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyspark.sql.functions as F

from .conftest import TEST_SF_DIR


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_pq_index_save_load_serves_identically(spark):
    """ivf_pq_serve over a LOADED index == the registered x3_ivf_pq_topk
    rows exactly — the save/load boundary changes physical lineage only
    (parquet round-trips ints/doubles bit-for-bit; every member consumer
    is order-insensitive)."""
    from iii_aibigdata_capstone_spark.operators.similarity import (
        _resident_probe_ids,
        ivf_pq_index,
        ivf_pq_index_load,
        ivf_pq_index_save,
        ivf_pq_serve,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    path = tempfile.mkdtemp(prefix="ivfpq_store_")
    try:
        ivf_pq_index_save(ivf_pq_index(spark, TEST_SF_DIR), path)
        loaded = ivf_pq_index_load(spark, path)
        got = _sorted_rows(ivf_pq_serve(loaded, _resident_probe_ids(spark)))
        want = _sorted_rows(
            registry()["x3_ivf_pq_topk"].builder(spark, TEST_SF_DIR)
        )
        assert got and got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ingest_index_save_load_admits_identically(spark):
    """ingest_admit against a LOADED index == the registered
    x1_minhash_ingest rows — the warm-store admission path."""
    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit,
        ingest_index_load,
        ingest_index_save,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    docs = table(spark, TEST_SF_DIR, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    path = tempfile.mkdtemp(prefix="ingest_store_")
    try:
        ingest_index_save(minhash_ingest_index(docs.where(~is_batch)), path)
        loaded = ingest_index_load(spark, path)
        got = _sorted_rows(ingest_admit(loaded, docs.where(is_batch)))
        want = _sorted_rows(
            registry()["x1_minhash_ingest"].builder(spark, TEST_SF_DIR)
        )
        assert got and got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_rag_index_save_load_serves_identically(spark):
    """rag_serve over a LOADED RagIndex == the registered x9_rag_pipeline
    rows exactly — the third index family on the same store spelling
    (probe ids and terms re-derived from the loaded tf member, exactly
    what the registered lane does from the built one)."""
    from iii_aibigdata_capstone_spark.operators.curation import (
        _resident_probe_queries,
        rag_index,
        rag_index_load,
        rag_index_save,
        rag_serve,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    path = tempfile.mkdtemp(prefix="rag_store_")
    try:
        rag_index_save(rag_index(spark, TEST_SF_DIR), path)
        loaded = rag_index_load(spark, path)
        got = _sorted_rows(
            rag_serve(loaded, *_resident_probe_queries(spark, loaded))
        )
        want = _sorted_rows(
            registry()["x9_rag_pipeline"].builder(spark, TEST_SF_DIR)
        )
        assert got and got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ivf_pq_index_add_equals_frozen_trainer_rebuild(spark):
    """ADD-AFTER-TRAIN (the ANN family's LSM delta fold): growing a base
    index by the arrival slice must be MEMBER-WISE row-identical to a
    full rebuild whose codebook trainer saw exactly the base — FAISS's
    add() contract, provable here because every appended row is a pure
    per-vector function of (vector, frozen centroids, frozen codebook).
    Composed with the store: the GROWN index saved + loaded serves
    hash-identically to the registered x3_ivf_pq_add lane — the grown
    index IS the next segment."""
    import pyspark.sql.functions as SF

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.similarity import (
        IVFPQ_ADD_SPLIT,
        _resident_probe_ids,
        ivf_pq_index_add,
        ivf_pq_index_from,
        ivf_pq_index_load,
        ivf_pq_index_save,
        ivf_pq_serve,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    e = table(spark, TEST_SF_DIR, "embeddings")
    base = ivf_pq_index_from(
        e.where(SF.col("vec_id") < IVFPQ_ADD_SPLIT), train_max=IVFPQ_ADD_SPLIT
    )
    grown = ivf_pq_index_add(
        base, e.where(SF.col("vec_id") >= IVFPQ_ADD_SPLIT)
    )
    rebuilt = ivf_pq_index_from(e, train_max=IVFPQ_ADD_SPLIT)
    for member, have, wanted in zip(grown._fields, grown, rebuilt):
        got_rows = sorted(map(tuple, have.collect()))
        want_rows = sorted(map(tuple, wanted.collect()))
        assert got_rows and got_rows == want_rows, (
            f"grown member {member} diverged from the frozen-trainer rebuild"
        )

    path = tempfile.mkdtemp(prefix="ivfpq_add_store_")
    try:
        ivf_pq_index_save(grown, path)
        loaded = ivf_pq_index_load(spark, path)
        got = _sorted_rows(ivf_pq_serve(loaded, _resident_probe_ids(spark)))
        want = _sorted_rows(
            registry()["x3_ivf_pq_add"].builder(spark, TEST_SF_DIR)
        )
        assert got and got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_streaming_ann_serving_runs_off_loaded_index(spark):
    """The streaming ANN serving twin handed a LOADED index (the
    deployment shape: the serving job never builds) emits exactly the
    batch lane's rows for the same probe ids."""
    from iii_aibigdata_capstone_spark.operators.similarity import (
        _resident_probe_ids,
        ivf_pq_index,
        ivf_pq_index_load,
        ivf_pq_index_save,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.serving import (
        streaming_ann_serving,
    )

    path = tempfile.mkdtemp(prefix="ivfpq_store_stream_")
    src = tempfile.mkdtemp(prefix="ann_qids_src_")
    ck = tempfile.mkdtemp(prefix="ann_qids_ck_")
    try:
        ivf_pq_index_save(ivf_pq_index(spark, TEST_SF_DIR), path)
        loaded = ivf_pq_index_load(spark, path)
        _resident_probe_ids(spark).coalesce(1).write.mode("overwrite").parquet(src)
        qids_stream = spark.readStream.schema("query_id long").parquet(src)
        served: list = []
        q = streaming_ann_serving(
            loaded,
            qids_stream,
            emit=lambda df, bid: served.extend(df.collect()),
            checkpoint=ck,
        )
        assert q.awaitTermination(300), "serving stream did not finish"
        q.stop()
        got = sorted(tuple(r) for r in served)
        want = _sorted_rows(
            registry()["x3_ivf_pq_topk"].builder(spark, TEST_SF_DIR)
        )
        assert got and got == want
    finally:
        for d in (path, src, ck):
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_rag_serving_runs_off_stored_segment(spark):
    """The streaming RAG twin started from the LATEST STORE SEGMENT (r13
    verdict ask #7 — the same serve-from-store story the ANN twin has):
    a build job publishes the RagIndex as a versioned segment, the
    serving job discovers it with ``latest_segment``, loads it, and
    serves query micro-batches emitting exactly the batch
    x9_rag_pipeline rows. All three index families now share one
    deployment shape: build -> segment -> latest -> load -> serve."""
    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.curation import (
        RAG_PROBES,
        rag_index,
        rag_index_load,
        rag_index_save,
    )
    from iii_aibigdata_capstone_spark.operators.index_store import (
        latest_segment,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.serving import (
        streaming_rag_serving,
    )

    store = tempfile.mkdtemp(prefix="rag_store_segs_")
    src = tempfile.mkdtemp(prefix="rag_store_qsrc_")
    ck = tempfile.mkdtemp(prefix="rag_store_qck_")
    try:
        rag_index_save(
            rag_index(spark, TEST_SF_DIR), os.path.join(store, "seg_000000001")
        )
        seg = latest_segment(spark, store)
        assert seg and seg.endswith("seg_000000001")
        loaded = rag_index_load(spark, seg)
        probes = (
            table(spark, TEST_SF_DIR, "documents")
            .where(F.col("doc_id") < RAG_PROBES)
            .select(F.col("doc_id").alias("query_id"), "text")
        )
        probes.coalesce(1).write.mode("overwrite").parquet(src)
        served: list = []
        q = streaming_rag_serving(
            loaded,
            spark.readStream.schema("query_id long, text string").parquet(src),
            emit=lambda df, bid: served.extend(df.collect()),
            checkpoint=ck,
        )
        assert q.awaitTermination(300), "serving stream did not finish"
        q.stop()
        got = sorted(tuple(r) for r in served)
        want = _sorted_rows(
            registry()["x9_rag_pipeline"].builder(spark, TEST_SF_DIR)
        )
        assert got and got == want
    finally:
        for d in (store, src, ck):
            shutil.rmtree(d, ignore_errors=True)


_FRESH_JVM_CHILD = r"""
import json, sys
sys.path.insert(0, {repo!r})
from iii_aibigdata_capstone_spark.session import get_spark
from iii_aibigdata_capstone_spark.operators.similarity import (
    _resident_probe_ids, ivf_pq_index_load, ivf_pq_serve)
from iii_aibigdata_capstone_spark.operators.dedup import (
    ingest_admit, ingest_index_load)
from iii_aibigdata_capstone_spark.operators.curation import (
    _resident_probe_queries, rag_index_load, rag_serve)
from iii_aibigdata_capstone_spark.catalog import table
import pyspark.sql.functions as F

spark = get_spark(app_name="index-store-fresh", master="local[4]",
                  shuffle_partitions=4)
spark.sparkContext.setLogLevel("OFF")
ann = sorted(tuple(r) for r in ivf_pq_serve(
    ivf_pq_index_load(spark, {ivf_path!r}), _resident_probe_ids(spark)
).collect())
docs = table(spark, {sf_dir!r}, "documents")
adm = sorted(tuple(r) for r in ingest_admit(
    ingest_index_load(spark, {ingest_path!r}),
    docs.where(F.col("doc_id") % 5 == 4),
).collect())
ragix = rag_index_load(spark, {rag_path!r})
rag = sorted(tuple(r) for r in rag_serve(
    ragix, *_resident_probe_queries(spark, ragix)
).collect())
with open({out!r}, "w") as fh:
    json.dump({{"ann": ann, "admitted": adm, "rag": rag}}, fh)
spark.stop()
"""


def test_fresh_jvm_serves_persisted_indexes_identically(spark):
    """THE build-once/serve-many-jobs pin: a FRESH JVM (new process, new
    SparkSession — yesterday's build served by today's job) loads both
    persisted indexes and reproduces the registered lanes' rows exactly,
    never touching the builders. One child process covers all THREE index
    families (JVM startup dominates the test's cost)."""
    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.curation import (
        rag_index,
        rag_index_save,
    )
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_index_save,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_index_save,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="index_store_fresh_")
    ivf_path = os.path.join(tmp, "ivfpq")
    ingest_path = os.path.join(tmp, "ingest")
    rag_path = os.path.join(tmp, "rag")
    out = os.path.join(tmp, "child.json")
    try:
        ivf_pq_index_save(ivf_pq_index(spark, TEST_SF_DIR), ivf_path)
        docs = table(spark, TEST_SF_DIR, "documents")
        ingest_index_save(
            minhash_ingest_index(docs.where(F.col("doc_id") % 5 != 4)),
            ingest_path,
        )
        rag_index_save(rag_index(spark, TEST_SF_DIR), rag_path)
        script = _FRESH_JVM_CHILD.format(
            repo=repo,
            ivf_path=ivf_path,
            ingest_path=ingest_path,
            rag_path=rag_path,
            sf_dir=TEST_SF_DIR,
            out=out,
        )
        proc = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        with open(out) as fh:
            child = json.load(fh)
        want_ann = _sorted_rows(
            registry()["x3_ivf_pq_topk"].builder(spark, TEST_SF_DIR)
        )
        want_adm = _sorted_rows(
            registry()["x1_minhash_ingest"].builder(spark, TEST_SF_DIR)
        )
        want_rag = _sorted_rows(
            registry()["x9_rag_pipeline"].builder(spark, TEST_SF_DIR)
        )
        assert [tuple(r) for r in child["ann"]] == want_ann
        assert [tuple(r) for r in child["admitted"]] == want_adm
        assert [tuple(r) for r in child["rag"]] == want_rag
        assert want_ann and want_adm and want_rag
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incomplete_segment_refused_by_load_and_skipped_by_latest(spark, tmp_path):
    """The completeness protocol (review r13): a segment directory whose
    marker never landed (crash between member writes) must be refused by
    ``index_load`` with a clear error and skipped by ``latest_segment``
    — never trusted, never silently partial."""
    import pytest

    from iii_aibigdata_capstone_spark.operators.dedup import ingest_index_load
    from iii_aibigdata_capstone_spark.operators.index_store import (
        INDEX_COMPLETE_MARKER,
        latest_segment,
    )

    store = tmp_path / "store"
    complete = store / "seg_000000001"
    partial = store / "seg_000000002"  # newer, but interrupted mid-write
    complete.mkdir(parents=True)
    (complete / INDEX_COMPLETE_MARKER).write_text("")
    partial.mkdir()
    (partial / "hashes").mkdir()  # some members landed, marker did not

    assert latest_segment(spark, str(store)) == str(complete)
    with pytest.raises(ValueError, match="not a complete index segment"):
        ingest_index_load(spark, str(partial))


def test_segment_listing_numeric_sort_and_stray_names(spark, tmp_path):
    """The naming contract's sharp edges (review r14 pass 3): (a) the
    listing sorts by BATCH ID, not name — an unpadded or 10-digit bid
    must not make the newest segment read as stale (lexicographic
    'seg_1000000000' < 'seg_999999999' would prune the true newest);
    (b) stray entries — non-ASCII digits ('seg_²' crashes int() while
    passing str.isdigit), tool droppings, manual copies — are neither
    trusted, nor deleted, nor allowed to crash boundary arithmetic."""
    from iii_aibigdata_capstone_spark.operators.index_store import (
        INDEX_COMPLETE_MARKER,
        complete_segments,
        latest_segment,
        segment_name_bid,
    )

    store = tmp_path / "store"
    for name in ("seg_5", "seg_999999999", "seg_1000000000"):
        (store / name).mkdir(parents=True)
        (store / name / INDEX_COMPLETE_MARKER).write_text("")
    for stray in ("seg_²", "seg_tmp", "seg_000000003.bak", "other"):
        (store / stray).mkdir()
        (store / stray / INDEX_COMPLETE_MARKER).write_text("")

    assert segment_name_bid("seg_²", "seg_") is None
    assert segment_name_bid("seg_000000003.bak", "seg_") is None
    assert complete_segments(spark, str(store)) == [
        "seg_5",
        "seg_999999999",
        "seg_1000000000",
    ]
    assert latest_segment(spark, str(store)).endswith("seg_1000000000")


def test_compaction_trigger_validation(spark, tmp_path):
    """Misconfiguration fails at START (review r13): a store without a
    trigger would silently never populate (discovered only at recovery
    time), a trigger without a store has nowhere to flush, and a
    non-positive interval is meaningless."""
    import pytest

    from iii_aibigdata_capstone_spark.streaming.ingest import (
        streaming_minhash_ingest_growing,
    )

    for kwargs in (
        {"store": str(tmp_path / "s")},
        {"compact_every": 2},
        {"compact_every": 0, "store": str(tmp_path / "s")},
    ):
        with pytest.raises(ValueError):
            streaming_minhash_ingest_growing(
                None, None, emit=lambda df, bid: None,
                checkpoint=str(tmp_path / "ck"), **kwargs
            )
    # tail_docs is the store-recovery handoff: without a store no flush
    # would ever persist the tail
    with pytest.raises(ValueError, match="tail_docs"):
        streaming_minhash_ingest_growing(
            None, None, emit=lambda df, bid: None,
            checkpoint=str(tmp_path / "ck"), tail_docs=spark.range(1),
        )


def test_index_save_refuses_silent_overwrite_of_complete_index(spark, tmp_path):
    """ADVICE r13: index_save on a path holding a COMPLETE index used to
    delete the marker then rewrite members in place — a crash mid-write
    leaves NO loadable index at the path that serving jobs read. The API
    now enforces the republish discipline: refuse unless overwrite=True
    (crash-replay over a marker-LESS partial still needs no flag)."""
    import pytest

    from iii_aibigdata_capstone_spark.operators.index_store import (
        index_is_complete,
        index_load,
        index_save,
    )
    from typing import NamedTuple

    class Tiny(NamedTuple):
        a: object

    path = str(tmp_path / "idx")
    idx = Tiny(a=spark.range(5).withColumnRenamed("id", "k"))
    index_save(idx, path)
    assert index_is_complete(spark, path)
    with pytest.raises(ValueError, match="fresh versioned path"):
        index_save(Tiny(a=spark.range(3)), path)
    # the refused save changed nothing
    assert index_is_complete(spark, path)
    assert index_load(spark, path, Tiny).a.count() == 5
    # explicit opt-in performs the destructive rewrite
    index_save(Tiny(a=spark.range(3).withColumnRenamed("id", "k")), path, overwrite=True)
    assert index_load(spark, path, Tiny).a.count() == 3
