"""Physical-plan regression guards: the plans we shipped are the plans we
keep. A correctness-neutral edit that drops a broadcast, un-pushes a filter,
or widens a parquet scan is a 100 TB regression that sf0.001 wall-clock will
never notice — so assert the plan shape itself (via plans.audit).

Lane-level claims live in one table, ``plans/claims.py``; the registry
sweep and the at-scale test below check every row of it. The tests after
them audit sub-builders and micro-batch plans that no registered lane
exposes."""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest

from iii_aibigdata_capstone_spark.plans import PlanAudit, audit
from iii_aibigdata_capstone_spark.plans.claims import ROWS, audit_lane, broadcast_off
from iii_aibigdata_capstone_spark.queries import registry

from .conftest import TEST_SF_DIR

ROW = {(r.lane, r.at_scale): r for r in ROWS}
PLANS_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")

FORMATTED = """== Physical Plan ==
AdaptiveSparkPlan (8)
+- Window (7)
   +- WindowGroupLimit (6)
      +- BroadcastNestedLoopJoin Inner BuildRight (5)
         :- MapInPandas (2)
         :  +- Scan parquet  (1)
         +- BroadcastExchange (4)
            +- FlatMapGroupsInPandas (3)


(1) Scan parquet
Output [1]: [doc_id#1L]

(2) MapInPandas
Input [1]: [doc_id#1L]

(3) FlatMapGroupsInPandas
Input [1]: [doc_id#1L]

(4) BroadcastExchange
Input [1]: [doc_id#2L]

(5) BroadcastNestedLoopJoin
Join type: Inner

(6) WindowGroupLimit
Input [1]: [doc_id#1L]

(7) Window
Input [1]: [doc_id#1L]

(8) AdaptiveSparkPlan
Output [1]: [doc_id#1L]
"""


def test_plan_audit_counts_each_node_once():
    a = PlanAudit(FORMATTED)
    # every operator is printed twice: once in the tree, once as a header
    assert a.text.count("BroadcastNestedLoopJoin") == 2
    assert a.nodes("BroadcastNestedLoopJoin") == 1
    assert a.nodes("Window") == 1  # WindowGroupLimit is another operator
    assert a.nodes("Window", "WindowGroupLimit") == 2
    assert a.nodes("CartesianProduct") == 0
    assert a.python_map_operators == 2


def test_claim_rows_name_lanes_and_plans_md_shows_them():
    """Every row names a registered lane (or flagship) once per setting,
    and PLANS.md, the table's rendering, has exactly the rows' sections,
    each listing the row's claims (run tools/gen_plans.py after edits)."""
    lanes = set(registry()) | {"flagship"}
    assert not [r.lane for r in ROWS if r.lane not in lanes]
    assert all(r.claims for r in ROWS)
    assert len({(r.lane, r.at_scale) for r in ROWS}) == len(ROWS)
    with open(PLANS_MD) as fh:
        sections = dict(
            part.split("\n", 1) for part in fh.read().split("\n## ")[1:]
        )
    assert list(sections) == [r.title for r in ROWS]
    missing = [
        (r.title, text)
        for r in ROWS
        for text, _ in r.claims
        if f"\n- ✅ {text}\n" not in sections[r.title]
    ]
    assert not missing, missing


@pytest.fixture(scope="module")
def plan(spark):
    """``plan(lane, at_scale=False)``: the lane's audited plan, built once
    per setting for the whole module (the sweep and the per-lane tests
    below share it)."""
    cache: dict[tuple[str, bool], PlanAudit] = {}

    def get(lane: str, at_scale: bool = False) -> PlanAudit:
        if (lane, at_scale) not in cache:
            cache[lane, at_scale] = audit_lane(spark, TEST_SF_DIR, lane, at_scale)
        return cache[lane, at_scale]

    return get


def _holds(plan, lane: str, at_scale: bool = False) -> None:
    """Assert the lane's table row for the setting."""
    row = ROW[lane, at_scale]
    broken = row.failures(plan(lane, at_scale))
    assert not broken, f"{row.title}: plan claims no longer hold: {broken}"


def test_no_scale_killers_in_any_registered_plan(plan):
    """Builds every registered query (and the flagship) once and checks:

    - the lane's default-setting row in ``plans/claims.py``, if it has one;
    - no CartesianProduct node, and no table scanned three or more times
      (the r5 sweep): the two shapes that silently turn a correct sf0.001
      query into a 100 TB non-starter (unbounded pair space; re-running a
      corpus scan per consumer instead of materializing a shared subplan
      once). A lane with a legitimate triple scan must be whitelisted here
      with a reason."""
    TRIPLE_SCAN_ALLOWED: dict[str, str] = {}  # name -> justification

    broken, offenders = [], []
    for name in ["flagship", *registry()]:
        a = plan(name)
        if (name, False) in ROW:
            broken += [f"{name}: {c}" for c in ROW[name, False].failures(a)]
        cart = a.nodes("CartesianProduct")
        # Scans hosted under a runtime bloom-filter subquery (Spark's
        # injected build of the join key's bloom: `bloom_filter_agg` in the
        # subquery plan — single-column, filter-pushed) are a pruning aid,
        # not a consumer re-scanning the corpus, so they are exempt from
        # the triple-scan rule. Any OTHER subquery scan (a user-authored
        # scalar subquery recomputing a global min/max/threshold is a real
        # hidden fact-table pass) still counts.
        main, _, subq = a.text.partition("===== Subqueries =====")
        files = Counter(re.findall(r"/(\w+)\.parquet", main))
        for sub in re.split(r"\n(?=Subquery:\d+ )", subq):
            if "bloom_filter_agg" not in sub:
                files.update(re.findall(r"/(\w+)\.parquet", sub))
        triple = {t: n for t, n in files.items() if n >= 3}
        if cart or (triple and name not in TRIPLE_SCAN_ALLOWED):
            offenders.append((name, cart, triple))
    assert not broken, "plan claims no longer hold:\n" + "\n".join(broken)
    assert not offenders, offenders


@pytest.mark.parametrize(
    "row", [r for r in ROWS if r.at_scale], ids=lambda r: r.lane
)
def test_at_scale_plan_claims(plan, row):
    """The table's at-scale rows, each built with auto-broadcast off."""
    _holds(plan, row.lane, at_scale=True)


# Per-lane guards: each asserts one row of the table (see the row's note
# in plans/claims.py, rendered with its plan in PLANS.md) on the plan the
# sweep or the at-scale test already built.


def test_flagship_broadcasts_dims_merges_facts(plan):
    _holds(plan, "flagship")


def test_q1_scan_is_pruned_and_pushed(plan):
    _holds(plan, "q1_pricing_summary")


def test_p1_filter_reaches_parquet(plan):
    _holds(plan, "p1_scan_project_filter")


def test_j1_dim_side_is_broadcast(plan):
    _holds(plan, "j1_lookup_left_join")


def test_copartition_pipeline_reuses_exchanges(plan):
    _holds(plan, "x8_copartition_pipeline", at_scale=True)


@pytest.mark.parametrize("qname", ["w2_nms_greedy", "t4_person_assembly"])
def test_grouped_kernels_shuffle_once(plan, qname):
    _holds(plan, qname)


def test_decontaminate_benchmark_side_broadcasts(plan):
    _holds(plan, "x4_decontaminate")


def test_histogram_bounds_broadcast(plan):
    _holds(plan, "x5_histogram_bins")


def test_rollup_hierarchy_single_raw_scan(plan):
    _holds(plan, "ts_rollup_hierarchy")


def test_q7_nation_dims_broadcast_even_at_scale(plan):
    _holds(plan, "q7_nation_trade", at_scale=True)


def test_q10_topk_never_full_sorts(plan):
    _holds(plan, "q10_returned_items", at_scale=True)


def test_q21_window_reuses_join_partitioning(plan):
    _holds(plan, "q21_sole_late_supplier", at_scale=True)


def test_doc_packing_single_shuffle(plan):
    _holds(plan, "x9_doc_packing")


def test_q2_dims_broadcast_fact_aggregates_once(plan):
    _holds(plan, "q2_min_cost_supplier", at_scale=True)


@pytest.mark.parametrize("qname", ["q11_important_stock", "q15_top_supplier"])
def test_scalar_subquery_queries_scan_fact_once(plan, qname):
    _holds(plan, qname)


def test_q20_semi_filter_precedes_aggregation(plan):
    _holds(plan, "q20_dominant_supplier", at_scale=True)


def test_banded_interval_join_is_hash_not_nlj(plan):
    _holds(plan, "x5_interval_join_banded", at_scale=True)


def test_snm_single_partitioned_window(plan):
    _holds(plan, "x2_sorted_neighborhood")


def test_postings_window_is_salted(plan):
    _holds(plan, "x4_postings")


def test_q16_anti_and_dim_joins_broadcast(plan):
    _holds(plan, "q16_supplier_count", at_scale=True)


def test_q6_all_predicates_push_to_scan(plan):
    _holds(plan, "q6_forecast_revenue")


def test_blocked_neardup_single_tile_exchange(plan):
    _holds(plan, "x2_embedding_neardup")


def test_tokenize_apply_folds_vocab_not_instances(plan):
    _holds(plan, "x4_bpe_tokenize_apply")


@pytest.mark.parametrize(
    "qname", ["x2_minhash_banded", "x1_incremental_ingest", "x1_fuzzy_dedup_pipeline"]
)
def test_banded_dedup_joins_are_hash_not_nlj(plan, qname):
    _holds(plan, qname)


def test_quality_model_score_is_one_scan_no_shuffle(plan):
    _holds(plan, "x4_quality_model_score")


def test_dsir_model_join_is_broadcast(plan):
    _holds(plan, "x9_dsir_resample", at_scale=True)


def test_rf_apply_is_pure_projection(plan):
    _holds(plan, "m3_rf_apply")


def test_source_quota_partial_topk_and_single_split(plan):
    _holds(plan, "x9_source_quota")


def test_bloom_probe_is_map_only(plan):
    _holds(plan, "x5_bloom_semijoin")


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """At 100 TB the single biggest scan-reducer for a selectively-filtered
    dim ⋈ fact join is the runtime bloom filter: Spark builds a bloom of
    the filtered dim keys and injects might_contain(fact.key) ABOVE the
    fact scan, dropping non-joining rows before the shuffle. Guard that
    the engine's session still gets the injection when the sizes qualify
    (thresholds forced here because test SF is tiny)."""
    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.plans.audit import plan_text

    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = table(spark, TEST_SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, TEST_SF_DIR, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        text = plan_text(j)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "might_contain" in text, text
    assert "bloom_filter_agg" in text


def test_repeated_spans_parallelizes_before_explode(spark):
    """x2_repeated_spans: gram hashing must fan out BEFORE the explode (a
    compact-file corpus otherwise runs the whole O(chars x gram) hashing on
    one input partition) — audited on the gram builder directly because the
    query's lazy localCheckpoint truncates the visible lineage. Guards the
    pre-explode exchange and the 64-bit xxhash64 gram keys (not md5 hex)."""
    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.dedup import _span_grams
    from iii_aibigdata_capstone_spark.plans.audit import plan_text

    docs = table(spark, TEST_SF_DIR, "documents").where(F.length("text") >= 20)
    text = plan_text(_span_grams(spark, docs))
    assert "xxhash64" in text and "md5" not in text, text
    # tree prints top-down (sink first): the exchange must be a CHILD of
    # the Generate (appear after it), i.e. the shuffle happens pre-explode
    gen_pos = text.find("Generate")
    exch_pos = text.find("Exchange")
    assert gen_pos != -1 and exch_pos != -1 and exch_pos > gen_pos, text
    assert "hashpartitioning(doc_id" in text, text


def test_pagerank_iteration_no_driver_action(spark):
    """x10_pagerank (VERDICT r2 item 3): one iteration must be a pure
    transform — dangling mass folded in as a broadcast 1-row aggregate, no
    CartesianProduct, and no ``collect`` anywhere inside the loop body
    (the r2 version paid a full-ranks anti-join action per iteration)."""
    import inspect

    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.operators.graph import (
        pagerank_step,
        purchase_edges,
        x10_pagerank,
    )

    # source-level guard: the loop body performs no driver actions
    src = inspect.getsource(x10_pagerank)
    assert ".collect(" not in src, "driver action inside the pagerank loop"

    # checkpoint the loop inputs (as the operator does) so the audit sees
    # one iteration's plan, not the edge-derivation lineage
    edges = purchase_edges(spark, TEST_SF_DIR).localCheckpoint()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = edges.select(F.col("src").alias("node")).union(edges.select("dst")).distinct()
    nodes_deg = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .localCheckpoint()
    )
    ranks = nodes_deg.select("node", "deg", F.lit(1.0).alias("rank"))
    a = audit(pagerank_step(ranks, edges, nodes_deg, 100))
    assert "CartesianProduct" not in a.text, a.text
    # dangling mass arrives via a broadcast of the 1-row aggregate
    assert "BroadcastNestedLoopJoin" in a.text or "BroadcastExchange" in a.text, a.text
    # two logical shuffle stages per iteration (contrib agg on dst/node,
    # rank rebuild join) — allow the physical count a little headroom for
    # the partial/final agg split, but a blowup means the shape regressed
    assert a.hash_exchanges <= 8, a.text


def test_mmr_probes_broadcast_and_single_grouped_kernel(spark, plan):
    """x3_mmr_rerank: the probe set is explicitly broadcast against ONE
    corpus scan (never a shuffled join of the full embedding table) —
    audited on the pre-checkpoint candidate builder since r5 materializes
    the candidate table once for the pair self-join — and the lane's
    at-scale row (one grouped-pandas kernel) holds."""
    from iii_aibigdata_capstone_spark.operators.similarity import _mmr_candidates

    with broadcast_off(spark):
        c = audit(_mmr_candidates(spark, TEST_SF_DIR))
    assert "Broadcast" in c.text, c.text
    assert len(c.read_widths) == 2, c.read_widths  # probes + corpus, once each
    _holds(plan, "x3_mmr_rerank", at_scale=True)


def test_rank_metrics_single_corpus_pass(spark, plan):
    """m8_rank_metrics/binary_rank_metrics: the scored corpus is reduced
    to the distinct-score curve in ONE pass — one pruned scan, one scoring
    map, one hash exchange — and the metric branches consume the
    checkpointed curve, never a rebuilt scan (pre-checkpoint this plan
    read + re-scored the corpus FOUR times). Downstream of the checkpoint
    no scan and no scoring map may reappear: m8_rank_metrics' row."""
    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.ml.metrics import _score_curve
    from iii_aibigdata_capstone_spark.operators.textual import score_documents

    scored = score_documents(table(spark, TEST_SF_DIR, "documents")).select(
        F.col("logit_milli").alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    a = audit(_score_curve(scored, "score", "y"))
    assert a.python_map_operators == 1, a.text
    assert len(a.read_widths) == 1 and a.read_widths[0] <= 4, a.read_widths
    assert a.hash_exchanges == 1, a.text
    _holds(plan, "m8_rank_metrics")


def test_paragraph_split_parallelizes_before_explode(spark):
    """x2_paragraph_dedup's splitter (_paragraphs): the doc_id repartition
    must sit BELOW the posexplode (compact-file corpora read as one input
    partition — without the pre-explode exchange the whole O(docs x
    windows) split runs on a single core), and the token array must be
    projected exactly once (inlined split(text) re-evaluates per
    sub-expression — the shingles() discipline)."""
    from iii_aibigdata_capstone_spark.operators.dedup import _paragraphs
    from iii_aibigdata_capstone_spark.plans.audit import plan_text

    text = plan_text(_paragraphs(spark, TEST_SF_DIR))
    gen_pos = text.find("Generate")
    exch_pos = text.find("Exchange")
    # tree prints top-down (sink first): the exchange printing AFTER the
    # Generate means it executes before it
    assert gen_pos != -1 and exch_pos != -1 and exch_pos > gen_pos, text
    assert "hashpartitioning(doc_id" in text, text
    assert text.count("split(text") == 1, text


def test_streaming_serving_micro_batch_plan_rescans_no_parquet(spark):
    """The streaming serving twin's per-micro-batch plan (serve_query_batch
    over a static query frame — exactly what foreachBatch executes) must
    read ONLY the checkpointed RagIndex members: zero parquet scans per
    batch, no CartesianProduct, no Python operators. This is the r9
    zero-rescan property, asserted on the STREAM-side spelling instead of
    only the batch twin (the x9_rag_pipeline PLANS entry)."""
    from iii_aibigdata_capstone_spark.operators.curation import rag_index
    from iii_aibigdata_capstone_spark.streaming.serving import serve_query_batch

    index = rag_index(spark, TEST_SF_DIR)
    queries = spark.createDataFrame(
        [(1, "alpha beta gamma"), (3, "delta epsilon")],
        "query_id long, text string",
    )
    a = audit(serve_query_batch(index, queries))
    assert ".parquet" not in a.text, "micro-batch plan re-scans parquet"
    assert "CartesianProduct" not in a.text
    assert a.python_map_operators == 0


def test_streaming_ingest_micro_batch_plan_rescans_no_parquet(spark):
    """The ingest twin's per-micro-batch plan (ingest_admit over a static
    arrival frame — exactly what foreachBatch executes) must read ONLY the
    checkpointed IngestIndex members: zero parquet scans per batch, no
    CartesianProduct, no Python operators (the serving-plan discipline on
    the dedup lane)."""
    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit,
        minhash_ingest_index,
    )

    docs = table(spark, TEST_SF_DIR, "documents")
    index = minhash_ingest_index(docs.where(F.col("doc_id") % 5 != 4))
    arrivals = spark.createDataFrame(
        [(4, "en", "some arriving text body", 23), (9, "fr", "another doc", 11)],
        "doc_id long, lang string, text string, n_chars long",
    )
    a = audit(ingest_admit(index, arrivals))
    assert ".parquet" not in a.text, "micro-batch plan re-scans parquet"
    assert "CartesianProduct" not in a.text
    assert a.python_map_operators == 0


def test_streaming_growing_ingest_micro_batch_plan_rescans_no_parquet(spark):
    """The GROWING twin's per-micro-batch plan: after a fold, the NEXT
    batch's admission must still read only checkpoints — the base members
    plus the fold's O(admitted) delta checkpoints (whose lineage roots in
    the in-memory arrival frame, not parquet). The LSM-delta property at
    100 TB: growth never reintroduces a corpus scan into the per-batch
    plan."""
    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit,
        ingest_admit_fold,
        minhash_ingest_index,
    )

    docs = table(spark, TEST_SF_DIR, "documents")
    index = minhash_ingest_index(docs.where(F.col("doc_id") % 5 != 4))
    batch1 = spark.createDataFrame(
        [(100004, "en", "first arriving text body here", 29)],
        "doc_id long, lang string, text string, n_chars long",
    )
    _admitted, grown = ingest_admit_fold(index, batch1)
    batch2 = spark.createDataFrame(
        [(100009, "fr", "second arriving doc", 19)],
        "doc_id long, lang string, text string, n_chars long",
    )
    a = audit(ingest_admit(grown, batch2))
    assert ".parquet" not in a.text, "grown micro-batch plan re-scans parquet"
    assert "CartesianProduct" not in a.text
    assert a.python_map_operators == 0


def test_streaming_ann_micro_batch_plan_rescans_no_parquet(spark):
    """The ANN serving twin's per-micro-batch plan (serve_ann_batch over
    a static probe-id frame — exactly what foreachBatch executes) must
    read ONLY the checkpointed IvfPqIndex members (cells, codebook,
    subvectors, inverted lists, re-rank vectors): zero parquet scans per
    batch, no CartesianProduct, no Python operators — the serving-plan
    discipline applied to the ANN product."""
    from iii_aibigdata_capstone_spark.operators.similarity import ivf_pq_index
    from iii_aibigdata_capstone_spark.streaming.serving import serve_ann_batch

    index = ivf_pq_index(spark, TEST_SF_DIR)
    qids = spark.createDataFrame([(1,), (3,), (7,)], "query_id long")
    a = audit(serve_ann_batch(index, qids))
    assert ".parquet" not in a.text, "micro-batch plan re-scans parquet"
    assert "CartesianProduct" not in a.text
    assert a.python_map_operators == 0
