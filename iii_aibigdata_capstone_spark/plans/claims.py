"""The plan-shape claims the engine makes about its lanes, in one table.

Each :class:`Row` names a lane (a registered query, or ``flagship``), says
what its physical plan looks like and why that shape holds at 100 TB, and
lists the claims, ``(text, predicate over PlanAudit)`` pairs, that pin the
shape. The registry plan sweep in ``tests/test_plans.py`` checks every row,
and ``tools/gen_plans.py`` renders the table, with each plan, as PLANS.md.

A row with ``at_scale=True`` is audited with auto-broadcast off: at test
scale every join would broadcast, hiding the sort-merge shape that runs
once facts outgrow any broadcast threshold. A lane has at most one row per
setting.
"""

from __future__ import annotations

import contextlib
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..queries import flagship, registry
from .audit import PlanAudit, audit

Claim = tuple[str, Callable[[PlanAudit], bool]]

BNLJ = "BroadcastNestedLoopJoin"


@dataclass(frozen=True)
class Row:
    lane: str
    note: str
    claims: tuple[Claim, ...]
    at_scale: bool = False

    @property
    def title(self) -> str:
        return self.lane + (" (at-scale shape: auto-broadcast off)" if self.at_scale else "")

    def failures(self, a: PlanAudit) -> list[str]:
        """Texts of the claims that do not hold on ``a``."""
        return [text for text, holds in self.claims if not holds(a)]


@contextlib.contextmanager
def broadcast_off(spark: SparkSession) -> Iterator[None]:
    """Disable auto-broadcast joins for the block (the at-scale plan)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def audit_lane(spark: SparkSession, sf_dir: str, lane: str, at_scale: bool = False) -> PlanAudit:
    """Build ``lane`` (auto-broadcast off if ``at_scale``) and audit its plan."""
    build = flagship if lane == "flagship" else registry()[lane].builder
    with broadcast_off(spark) if at_scale else contextlib.nullcontext():
        return audit(build(spark, sf_dir))


# Claim builders. Text fragments count raw occurrences: formatted explain
# prints each operator twice (tree line and detail header), so
# ``broadcasts(2)`` holds with a single BroadcastHashJoin node.


def _exactly(n: int, noun: str) -> str:
    return f"no {noun}s" if n == 0 else f"exactly {n} {noun}" + "s" * (n > 1)


def present(s: str) -> Claim:
    return (f"`{s}` in the plan", lambda a: s in a.text)


def absent(s: str) -> Claim:
    return (f"no `{s}` in the plan", lambda a: s not in a.text)


def at_most_once(s: str) -> Claim:
    return (f"`{s}` at most once in the plan", lambda a: a.text.count(s) <= 1)


def exactly_once(s: str) -> Claim:
    return (f"`{s}` exactly once in the plan", lambda a: a.text.count(s) == 1)


def broadcasts(n: int) -> Claim:
    return (f"`BroadcastHashJoin` at least {n} times in the plan", lambda a: a.broadcast_joins >= n)


def equi_joins(n: int) -> Claim:
    return (
        f"`BroadcastHashJoin` + `SortMergeJoin` at least {n} times in the plan",
        lambda a: a.broadcast_joins + a.sort_merge_joins >= n,
    )


def exchanges(n: int) -> Claim:
    return (_exactly(n, "hash exchange"), lambda a: a.hash_exchanges == n)


def exchanges_at_most(n: int) -> Claim:
    return (f"at most {n} hash exchange" + "s" * (n > 1), lambda a: a.hash_exchanges <= n)


def bnlj_nodes(n: int) -> Claim:
    return (_exactly(n, f"{BNLJ} node"), lambda a: a.nodes(BNLJ) == n)


def python_maps(n: int) -> Claim:
    return (_exactly(n, "Python map operator"), lambda a: a.python_map_operators == n)


def widest_scan(n: int) -> Claim:
    return (
        f"parquet scans read at most {n} column" + "s" * (n > 1),
        lambda a: bool(a.read_widths) and max(a.read_widths) <= n,
    )


def one_scan_of_width(n: int) -> Claim:
    return (f"exactly one parquet scan, reading {n} columns", lambda a: a.read_widths == [n])


def _semi_join_below_window(a: PlanAudit) -> bool:
    # formatted-explain ids are assigned child-before-parent, so the semi
    # join's id is lower iff it sits under the window subtree
    semi = re.search(r"BroadcastHashJoin LeftSemi \w+ \((\d+)\)", a.text)
    win = re.search(r"\bWindow \((\d+)\)", a.text)
    return bool(semi and win) and int(semi.group(1)) < int(win.group(1))


def _keep_flags_above_sort(a: PlanAudit) -> bool:
    # a deterministic keep filter would be pushed below the sort and the
    # exchange; on the scan's path to the root the flags must follow the Sort
    path = a.scan_path("lineitem")
    return "Sort" in path and "ArrowEvalPython" in path[path.index("Sort"):]


def _fact_shuffles_after_dim_join(a: PlanAudit) -> bool:
    # lineitem's path up to its sort-merge join holds one exchange, and a
    # broadcast hash join sits below it
    path = a.scan_path("lineitem")
    below_smj = path[: path.index("SortMergeJoin Inner")] if "SortMergeJoin Inner" in path else []
    shuffles = [i for i, op in enumerate(below_smj) if op == "Exchange"]
    return len(shuffles) == 1 and any(
        op.startswith("BroadcastHashJoin") for op in below_smj[: shuffles[0]]
    )


def _verify_joins_key_on_hashes(a: PlanAudit) -> bool:
    # the xxhash64 expression itself sits BEFORE the checkpoint (lineage-
    # truncated), so assert its effect on JOIN-KEY lines: the candidate/
    # verify joins key on the LONG-typed s#NNL hash, while the ground-truth
    # self-join keys on the raw string gram by design (exactness of the
    # truth lane) — exactly one join's key-line pair carries a string s
    key_lines = [ln for ln in a.text.splitlines() if "keys" in ln]
    return any(re.search(r"s#\d+L", ln) for ln in key_lines) and (
        sum(1 for ln in key_lines if re.search(r"s#\d+(?![0-9L])", ln)) == 2
    )


NO_CARTESIAN = absent("CartesianProduct")
NO_PARQUET = absent(".parquet")
PUSHED: Claim = ("filter pushed to the parquet scan", lambda a: a.has_pushed_filters)
KERNEL_MAP: Claim = ("at least 1 Python map operator", lambda a: a.python_map_operators >= 1)
SHUFFLED_JOIN: Claim = (
    "the join is sort-merge or shuffled hash",
    lambda a: a.sort_merge_joins > 0 or "ShuffledHashJoin" in a.text,
)
ONE_WINDOW: Claim = (
    "exactly 1 Window node, no WindowGroupLimit",
    lambda a: a.nodes("Window") == 1 and a.nodes("WindowGroupLimit") == 0,
)
EQUI_DEDUP_NOTE = (
    "The banded-MinHash candidate join and the incremental-ingest "
    "anti/shingle joins must all be equi (broadcast/shuffled hash or SMJ) "
    "— a BroadcastNestedLoopJoin would mean a band/key predicate stopped "
    "being an equality and the plan degenerated to a cross product."
)

ROWS: tuple[Row, ...] = (
    Row(
        "flagship",
        "Scan -> filter -> 5-way join -> aggregate -> window rank. Dimension tables "
        "broadcast; the lineitem-orders fact spine is MERGE-hinted since r5 "
        "(compressed-parquet size estimates auto-broadcast a fact table otherwise — "
        "the plan that dies at 100 TB); the windowed ranking runs on the (tiny) "
        "aggregated table.",
        (broadcasts(2), present("SortMergeJoin")),
    ),
    Row(
        "q1_pricing_summary",
        "TPC-H Q1 shape: the date filter is pushed into the parquet scan and the scan "
        "reads only the columns the aggregate needs.",
        (PUSHED, widest_scan(7)),
    ),
    Row(
        "q5_region_revenue",
        "6-way star join ordered so the region filter acts before the fact shuffle: "
        "lineitem first joins the broadcast supplier dimension (supplier, nation and "
        "the two regions), so its only exchange carries the surviving lines to the "
        "MERGE-hinted join with orders; customer joins last on the local-supplier "
        "key pair.",
        (
            (
                "lineitem's only exchange before its sort-merge join sits above its "
                "broadcast hash join to the supplier dimension",
                _fact_shuffles_after_dim_join,
            ),
            present("SortMergeJoin"),
            absent(BNLJ),
        ),
    ),
    Row(
        "w2_nms_greedy",
        "Custom physical operator (greedy NMS) as keep flags: ONE hash exchange on the "
        "group key, an in-partition sort makes groups contiguous, then an iterator "
        "pandas_udf (ArrowEvalPython) sends only image_id, lo and hi to Python and the "
        "filter keeps the flagged rows; the other columns never leave the JVM. The "
        "UDF is nondeterministic so the filter stays above the sort.",
        (
            python_maps(0),
            present("ArrowEvalPython"),
            exchanges_at_most(2),
            ("the keep flags (ArrowEvalPython) are computed above the Sort",
             _keep_flags_above_sort),
        ),
    ),
    Row(
        "x2_ngram_jaccard",
        "Inverted-index near-dup join on fixed-width hashed shingle keys. The shingle "
        "table is materialized once (localCheckpoint) because exchange reuse does not "
        "cover the two self-join sides — without it the explode+window pipeline runs "
        "twice. Shown with auto-broadcast disabled to expose the at-scale sort-merge "
        "join.",
        (at_most_once("documents.parquet"),),
        at_scale=True,
    ),
    Row(
        "x5_bloom_semijoin",
        "Explicit Bloom-filter semi-join: the ~2 KB filter (and the build-side "
        "membership set) arrive by broadcast, so the fact-side probe is MAP-ONLY — the "
        "single hash exchange in the plan is the final per-year aggregation, and the "
        "orders scan reads exactly the two consumed columns. The shape Spark's own "
        "runtime bloom filters inject, made explicit and hash-checkable.",
        (exchanges(1), broadcasts(5), widest_scan(2)),
    ),
    Row(
        "x5_bootstrap_ci",
        "One-pass multiplier bootstrap: 16 Poisson-weighted replica means per group "
        "ride a SINGLE map-side-combinable aggregation (34 exact-integer partial "
        "columns), so the only exchange in the plan is the 5-group hash aggregate — no "
        "resampled data copies, no Python, the whole weight ladder and CI pick inside "
        "whole-stage codegen.",
        (exchanges(1), widest_scan(3), python_maps(0)),
    ),
    Row(
        "x4_decontaminate",
        "Benchmark decontamination: the tiny benchmark gram index broadcasts; the "
        "corpus-side gram table never shuffles for the join.",
        (present("BroadcastHashJoin"), absent("SortMergeJoin")),
    ),
    Row(
        "x5_histogram_bins",
        "Two-pass histogram: the 1-row min/max aggregate broadcasts "
        "(BroadcastNestedLoopJoin); binning is map-side; the only hash exchange "
        "carries 20 bin rows.",
        (
            (
                f"`{BNLJ}` or `BroadcastHashJoin` in the plan",
                lambda a: BNLJ in a.text or a.broadcast_joins >= 1,
            ),
            exchanges_at_most(2),
        ),
    ),
    Row(
        "ts_rollup_hierarchy",
        "Hierarchical rollup: day/week grains re-aggregate the checkpointed hourly "
        "partial — the raw events scan appears at most once.",
        (at_most_once("events.parquet"),),
    ),
    Row(
        "x5_interval_join_banded",
        "Interval join with NO equi key: banding by the window width turns the O(n^2) "
        "nested-loop range join into a hash join on the band id (errors explode into "
        "exactly 2 bands each; the exact range predicate filters inside the band).",
        (NO_CARTESIAN, absent(BNLJ), SHUFFLED_JOIN),
        at_scale=True,
    ),
    Row(
        "q20_dominant_supplier",
        "Correlated-subquery decorrelation: the per-part total is a window SUM over "
        "the (part, supplier) aggregate, and the part-name semi-filter sits BELOW both "
        "(broadcast semi join feeds the hash aggregate), so the big shuffle only "
        "carries matching parts.",
        (
            present("BroadcastHashJoin LeftSemi"),
            ("the semi join sits under the window (lower operator id)", _semi_join_below_window),
        ),
        at_scale=True,
    ),
    Row(
        "x2_repeated_spans",
        "Repeated-substring dedup: the gram table (doc_id, pos, md5) is checkpointed "
        "once and feeds both the duplicated-hash aggregate and the position semi join "
        "— the raw documents scan appears at most once; the interval-union windows and "
        "the span group-by all share the doc_id partitioning.",
        (at_most_once("documents.parquet"), NO_CARTESIAN),
        at_scale=True,
    ),
    Row(
        "x10_triangle_count",
        "Degree-oriented triangle counting: edges and the oriented edge set are "
        "checkpointed once, wedges self-join on the apex, and the closure is a plain "
        "hash join even though the logical query is a 3-way theta join. The only "
        "nested-loop join is the r4 edge-count fold: a 1-row broadcast aggregate "
        "attached to the (already tiny) result — bounded by construction.",
        (NO_CARTESIAN, (f"at most 1 {BNLJ} node", lambda a: a.nodes(BNLJ) <= 1)),
        at_scale=True,
    ),
    Row(
        "x2_minhash_banded",
        "Banded MinHash LSH: each shingle is md5-hashed ONCE; all per-seed affine "
        "signature mins compute in a single (doc_id, lang) aggregation (no per-seed "
        "row explode), band keys stack from the mins, candidates come from an equi "
        "join on (lang, band, key), and only candidate pairs pay the exact-Jaccard "
        "verify. The shingle table is checkpointed once and feeds signature, sizes, "
        "and verify.",
        (at_most_once("documents.parquet"), NO_CARTESIAN, absent(BNLJ)),
        at_scale=True,
    ),
    Row(
        "x2_minhash_banded",
        EQUI_DEDUP_NOTE,
        (absent(BNLJ), NO_CARTESIAN),
    ),
    Row(
        "x3_pq_codebooks",
        "Deterministic PQ training: the 4 Lloyd iterations are eager-materialized "
        "checkpoint stages (broadcast 1024-row codebook join, ONE map-side-combinable "
        "integer-distance aggregation per iteration), so the visible plan fragment is "
        "the final codebook read off the checkpoint boundary — no parquet re-scan, no "
        "Python, no shuffle in the emit path. The per-iteration shape is asserted on "
        "x3_pq_adc_topk below, whose encode pass runs the same _pq_assign aggregation "
        "un-truncated.",
        (NO_PARQUET, python_maps(0)),
    ),
    Row(
        "x3_pq_adc_topk",
        "PQ search cascade: the trained codebook (checkpointed by the trainer, "
        "session-cached since r6) and the per-probe distance table both attach by "
        "BROADCAST, the encode pass is one map-side-combinable integer aggregation, "
        "the ADC prune ranks exact int64 sums, and only the 200-deep shortlist "
        "survivors pay the exact cosine re-rank — full floats never shuffle.",
        (broadcasts(2), NO_CARTESIAN, python_maps(0)),
    ),
    Row(
        "x2_paragraph_dedup",
        "Paragraph-grain near-dup: documents repartition on doc_id BEFORE the "
        "paragraph explode (the compact single-file scan would otherwise run the whole "
        "O(rows x paragraphs) stage on one core), the paragraph table is checkpointed "
        "once and feeds signatures, band keys and the exact verify, and candidates "
        "come from band equi-joins only.",
        (at_most_once("documents.parquet"), NO_CARTESIAN, absent(BNLJ)),
        at_scale=True,
    ),
    Row(
        "x8_table_stats",
        "ANALYZE-TABLE shape: ONE orders scan fans out map-locally into the 5 "
        "per-column stat branches (row/null counts, typed min/max, mean length, exact "
        "+ HLL NDV), so the table is read once no matter how many columns are profiled "
        "— the at-scale contract for a stats collector.",
        (at_most_once("orders.parquet"), python_maps(0)),
    ),
    Row(
        "m4_lloyd_iterations",
        "Deterministic Lloyd's as dataflow: each iteration is a CASE-cascade argmin + "
        "ONE map-side-combined integer aggregation over the checkpointed pixel table, "
        "with the K x 3 fixed-point centroids attached as double LITERALS (r14: the "
        "bounded state lives on the driver between iterations, the MLlib-KMeans shape "
        "— one K*3-long collect per iteration replaces the former checkpointed 1-row "
        "frame + BroadcastNestedLoopJoin attach, removing a Catalyst compile + eager "
        "AQE sub-execution + two BNLJs per iteration; 6.4 -> 3.4 s interleaved A/B at "
        "sf0.1, bit-identical output by the same IEEE update tree). The visible "
        "fragment is the final assignment/histogram pass over the checkpointed pixel "
        "table; the 5-row centroid output table attaches by broadcast hash join. No "
        "Python operators anywhere. Prior floor history (r8, superseded): steady "
        "4.6-4.8 s with the in-plan centroid chain.",
        (present("BroadcastHashJoin"), absent(BNLJ), python_maps(0), NO_PARQUET),
    ),
    Row(
        "x4_bm25_search",
        "BM25 more-like-this search: the probe-term table (terms + idf + avgdl, ~250 "
        "rows) arrives by BROADCAST, so candidate generation is a map-side join "
        "against the checkpointed corpus postings — the corpus never shuffles for the "
        "probe join; scores aggregate on (query, doc) and the top-k lowers to a "
        "windowed rank over that small result.",
        (present("BroadcastHashJoin"), NO_CARTESIAN, python_maps(0)),
    ),
    Row(
        "x8_corr_matrix",
        "One-pass correlation matrix: ONE documents scan feeds a single "
        "map-side-combinable aggregation carrying all 15 moment sums; the 6 "
        "upper-triangle correlations are emitted by INLINE over the one-row result (a "
        "UNION of per-pair SELECTs would re-run the scan per pair — measured 6 scans "
        "before this shape).",
        (exactly_once("documents.parquet"), absent("Join"), python_maps(0)),
    ),
    Row(
        "x3_power_iteration",
        "Matrix-free power iteration: the component table is checkpointed once and "
        "each unrolled iteration is two keyed matvec aggregations with the 64-row "
        "direction vector arriving by broadcast — the Gram matrix never materializes. "
        "The visible fragment is the final renormalization off the checkpoint "
        "boundary; the per-iteration shape is the same two-aggregation pattern the "
        "un-truncated first iteration shows.",
        (NO_PARQUET, NO_CARTESIAN, python_maps(0)),
    ),
    Row(
        "x9_shard_manifest",
        "Deterministic training-shard manifest: ONE window = shuffle into content-hash "
        "shard partitions + per-shard sort — the same physical layout the sharded "
        "corpus write needs, so the manifest sort is the write path's sort, not an "
        "extra pass.",
        (exchanges(1), absent("Join")),
    ),
    Row(
        "ts_ewma",
        "Dyadic EWMA: all 15 LAGs plus the 30-term weighted reassembly ride ONE Window "
        "node over ONE user_id exchange — Catalyst collapses the identical inline "
        "window specs of the generated SQL; the scan reads only the 3 consumed "
        "columns.",
        (exchanges(1), ONE_WINDOW, python_maps(0), one_scan_of_width(3)),
    ),
    Row(
        "x10_kcore",
        "k-core peel, final emit path (the per-round lineage is truncated by the "
        "localCheckpoint that flattens each peel iteration — the PageRank discipline): "
        "two semi-equi-joins of the checkpointed edge list against the surviving set, "
        "then one map-side-combinable degree count. Each peel round upstream is the "
        "same two-semi-join + aggregate shape.",
        (NO_CARTESIAN, NO_PARQUET, python_maps(0)),
    ),
    Row(
        "x10_adamic_adar",
        "Link prediction: candidate pairs come ONLY from the wedge self-equi-join on "
        "the customer key (never supplier x supplier), contributions are pre-floored "
        "integers so the pair aggregation is map-side combinable, and the global "
        "top-40 lowers to TakeOrderedAndProject — no unpartitioned window, no full "
        "sort.",
        (NO_CARTESIAN, present("TakeOrderedAndProject"), python_maps(0)),
    ),
    Row(
        "x10_bfs_levels",
        "Multi-source BFS, final emit path (each wave's lineage is cut by a "
        "localCheckpoint): the emitted level table is a union of the checkpointed "
        "per-wave frontiers — no join, no window, no re-scan of parquet; all graph "
        "work happened inside the per-wave semi-join/anti-join rounds upstream of the "
        "checkpoints.",
        (NO_CARTESIAN, NO_PARQUET, python_maps(0)),
    ),
    Row(
        "x10_hyperball",
        "HyperBall, final emit path (per-radius lineage cut by localCheckpoint): the "
        "harmonic-centrality reassembly is pure projection over the checkpointed "
        "top-radius register table — 16 packed registers per node, exact-BIGINT "
        "denominator, one fixed IEEE tree floored to micro-units per node BEFORE the "
        "global sum. No join, no parquet re-scan on the emit path.",
        (NO_CARTESIAN, NO_PARQUET, python_maps(0)),
    ),
    Row(
        "x10_random_walks",
        "Hash-derandomized random walks, final emit path (per-step lineage cut by "
        "localCheckpoint): the emitted corpus is a union of the checkpointed per-step "
        "frontiers, each produced upstream by ONE equi-join of the |V| x "
        "walks-per-node frontier against the rank-indexed adjacency on (node, md5-draw "
        "mod degree) — never a neighbor-array collect, never a cartesian.",
        (NO_CARTESIAN, NO_PARQUET, python_maps(0)),
    ),
    Row(
        "x4_cdc_chunks",
        "Content-defined chunking: ONE window cumsum assigns chunk ids riding the "
        "doc_id partitioning, ONE groupBy reassembles chunks engine-side "
        "(array_sort(collect_list), bounded by the ~16-token expected chunk) — pure "
        "Catalyst, the scan reads only doc_id+text.",
        (ONE_WINDOW, absent("Join"), python_maps(0), one_scan_of_width(2)),
    ),
    Row(
        "x2_cdc_dedup",
        "Chunk-level dedup: first-occurrence-keeps decided by ONE MIN window over the "
        "packed (doc_id, chunk_idx) per chunk_key — no self-join anywhere, so a hot "
        "boilerplate chunk costs O(occurrences), never O(occurrences^2); final doc "
        "aggregation is map-side combinable integer sums.",
        (absent("Join"), python_maps(0), exactly_once("documents.parquet")),
    ),
    Row(
        "x10_community_lpa",
        "Seeded min-label propagation, final emit path (per-round lineage cut by "
        "localCheckpoint — the PageRank discipline): the emitted partition map is pure "
        "projection + ONE community-keyed window count over the checkpointed fixpoint "
        "state; each round upstream is one edge equi-join + a map-side-combinable MIN "
        "on the packed (dist, seed) BIGINT. No parquet re-scan, no join, no Python on "
        "the emit path.",
        (NO_CARTESIAN, NO_PARQUET, exchanges(1), python_maps(0)),
    ),
    Row(
        "x10_walk_pairs",
        "Skip-gram pairs + banded negative sampling, emit path (the walk corpus and "
        "the positive-pair table are checkpointed; the weight cumsum interval table "
        "too): positives self-equi-join the corpus on the walk key (bounded groups), "
        "negative draws resolve via the BANDED interval-containment equi-join. Since "
        "r14 the 1-row total weight is collected and attached as a literal, and the "
        "negative slots fan out row-locally (explode(sequence)) instead of through a "
        "5-row slot table, so no nested-loop join remains (the r14 before/after plans "
        "show 2 -> 0); the node table is never nested-looped.",
        (NO_CARTESIAN, NO_PARQUET, absent(BNLJ), equi_joins(2), python_maps(0)),
    ),
    Row(
        "x5_spacesaving_topk",
        "Batch SpaceSaving twin: the corpus-wide work is ONE map-side-combinable "
        "(shard, term) count; the python fold sees only each shard's VOCABULARY (never "
        "corpus rows) through a single applyInPandas stage keyed on the shard. Three "
        "hash exchanges total: the pre-explode repartition, the count aggregation, and "
        "the shard regroup feeding the kernel.",
        (absent("Join"), python_maps(1), exactly_once("documents.parquet"), exchanges_at_most(3)),
    ),
    Row(
        "x9_rag_pipeline",
        "The composed retrieval product (chunk -> chunk-BM25 max-pool -> IVF "
        "multiprobe + exact rerank -> integer RRF -> serving join), served from a "
        "RagIndex whose EVERY member is checkpointed (tf, df, corpus constants, IVF "
        "cells, serving dim) — so the emit plan re-scans NO parquet at all, the "
        "property that lets the streaming twin serve micro-batches without touching "
        "the corpus. The bounded top-k side broadcasts into the serving join (J1 "
        "shape); fusion joins two <= queries x LANE_K rank lists; no Python anywhere.",
        (NO_CARTESIAN, NO_PARQUET, present("BroadcastHashJoin"), python_maps(0)),
    ),
    Row(
        "x10_modularity",
        "Newman Q of the LPA partition, emit path (labels and the label-joined edge "
        "list are checkpointed): e2/d_sum come from ONE map-side-combinable "
        "aggregation on the community key — no COUNT DISTINCT, so no Expand in the "
        "plan; community sizes aggregate the |V|-sized label table separately; the "
        "1-row 2m total returns by bounded broadcast. No parquet re-scan on the emit "
        "path.",
        (NO_CARTESIAN, NO_PARQUET, absent("Expand"), python_maps(0)),
    ),
    Row(
        "x3_ann_eval",
        "ANN quality evaluation: recall@3 + MRR of the IVF nprobe=2 cascade against "
        "the exact brute-force top-3. Both rank lists are bounded (probes x k), so the "
        "hit detection is an equi LEFT join of two tiny tables — per-probe metrics "
        "are integer arithmetic on integer ranks, the exact lane is bounded to the "
        "probe set, and the IVF lane is the shortlist->rerank cascade (never "
        "all-pairs). The single nested-loop join is the probe-set self-exclusion (NOT "
        "vec_id = vec_id over the bounded probe rows), not a corpus-sized product.",
        (NO_CARTESIAN, equi_joins(3), bnlj_nodes(1), python_maps(0)),
    ),
    Row(
        "m8_calibration",
        "Model-calibration evaluation (reliability bins + Brier partials): the sigmoid "
        "confidence and the fixed-width bin id are map-side Catalyst expressions over "
        "the engine-side logit, so the WHOLE evaluation is one pruned scan into one "
        "map-combinable hash aggregate of <= 10 rows — no rank/NTILE (an equal-count "
        "decile would global-sort the corpus in one task), no join, no Python.",
        (absent("Join"), exchanges(1), widest_scan(3), python_maps(0)),
    ),
    Row(
        "x2_dedup_eval",
        "LSH quality evaluation: ground-truth exact-Jaccard pairs vs the "
        "banded-MinHash candidate/verified sets, per language. ONE checkpointed "
        "shingle table (raw grams feed the md5 minhash bands AND the ground-truth "
        "self-join — the truth lane is exact on the gram strings, free of the "
        "xxhash64-collision caveat the detection lanes document; the xxhash64 column "
        "keys the candidate/verify joins — 8-byte shuffle keys where the join grades "
        "the detection spelling); one shared sizes aggregation; metrics are integer "
        "division on per-lang counts.",
        (
            NO_CARTESIAN,
            NO_PARQUET,
            absent(BNLJ),
            (
                "verify joins key on the 8-byte hashed s (long); only the "
                "ground-truth self-join keys on raw grams",
                _verify_joins_key_on_hashes,
            ),
            python_maps(0),
        ),
        at_scale=True,
    ),
    Row(
        "x9_data_factory",
        "The corpus-build flagship, emit path: quality gate -> exact + LSH fuzzy dedup "
        "(CC keep-best) -> 5-gram decontamination -> DSIR x temperature-mix selection "
        "-> context-bin packing -> content-addressed sharding, over ONE projected "
        "documents scan (the base checkpoint; every stage consumes checkpoints, so the "
        "emit plan re-scans ZERO parquet). The bench gram index, DSIR bucket models "
        "(256 rows) and per-source quotas all broadcast; packing/sharding are two "
        "keyed windows over the budget-bounded selected set. Since r14 the 1-row DSIR "
        "totals are collected and attached as literals, so no nested-loop join remains "
        "(the r14 before/after plans show 1 -> 0).",
        (NO_CARTESIAN, NO_PARQUET, absent(BNLJ), broadcasts(4), python_maps(0)),
    ),
    Row(
        "x1_ingest_growing",
        "Three sequential arrival batches admitted against a GROWING index "
        "(ingest_admit_fold): each batch's admitted docs fold back as O(admitted) LSM "
        "delta checkpoints, so batch k dedups against residents AND batches < k. ONE "
        "projected documents scan (the base checkpoint) feeds the resident index build "
        "and all three batch slices; every admission consumes checkpoints, so the "
        "emit plan re-scans ZERO parquet. All joins are equi (band-key probes, md5 "
        "anti gates, candidate-restricted verify) — no nested-loop broadcast anywhere.",
        (NO_CARTESIAN, NO_PARQUET, absent(BNLJ), python_maps(0)),
    ),
    Row(
        "x1_ingest_compaction",
        "Keep-best compaction over the growing ingest's retained corpus: the near-dup "
        "pass runs on the index's STORED artifacts — the band table self-joined on "
        "(lang, band, bkey) restricted to exact survivors, verified by the shared "
        "exact_jaccard_verify reading the index's checkpointed shingles with "
        "precomputed sizes — so compaction re-shingles NOTHING and the only text "
        "expression it adds is one md5 window over retained rows. Candidates stay "
        "banded (never all-pairs), components are the size-gated label propagation, "
        "the fate join is broadcast-sized equi joins; the one documents scan is the "
        "ingest's own base checkpoint.",
        (NO_CARTESIAN, absent(BNLJ), python_maps(0)),
    ),
    Row(
        "x9_rag_eval",
        "Retrieval-quality evaluation: the production fused list (the rag_serve lane "
        "helpers — shared BM25 checkpoint + IVF dense) graded against the exact "
        "composite truth (same BM25 fused with EXHAUSTIVE cosine over the checkpointed "
        "vector table). Everything downstream of rag_index reads checkpoints; the "
        "only nested-loop broadcast is the bounded RAG_PROBES-row probe frame's "
        "self-exclusion in the exhaustive truth lane (the x3_ann_eval precedent); IDCG "
        "is the compile-time constant _NDCG_IDCG_MICRO and the discounts are "
        "precomputed _NDCG_DISC_MICRO literals — no transcendental engine-side, no "
        "per-query idcg aggregation at all.",
        (NO_CARTESIAN, NO_PARQUET, bnlj_nodes(1), python_maps(0)),
    ),
    Row(
        "x3_ivf_pq_topk",
        "Residual IVF-PQ composed index (inverted lists whose entries ARE the PQ "
        "codes, encoded against the rn=1 cell centroid's quantized subvectors — true "
        "FAISS IVFADC): the cell-bucketed residual code lists are checkpointed once, "
        "the probe side (2 cells x queries) and the PER-(query, probed cell) integer "
        "distance tables (each probe's residual vs THAT cell's centroid, centroids a "
        "KB-sized broadcast re-derived from the index's own vector table) broadcast "
        "into them on (cid, m, j), and the ADC prune is one map-side-combinable "
        "integer SUM — full float vectors are read only by the shortlist re-rank. "
        "Every join is either a broadcast of bounded probe/codebook/centroid state or "
        "an index-build equi join; no nested-loop broadcast anywhere.",
        (NO_CARTESIAN, absent(BNLJ), broadcasts(4), python_maps(0)),
    ),
    Row(
        "x3_ivf_pq_add",
        "Add-after-train (FAISS index.add): base IVF-PQ built (and trained) on the "
        "vec_id < IVFPQ_ADD_SPLIT prefix, arrivals coarse-ranked against the FROZEN "
        "centroids (one broadcast argmin), residualized against the frozen KB-sized "
        "csub broadcast, encoded with the frozen broadcast codebook, and UNIONED into "
        "ranked/invl — no resident row rewritten, no retraining, O(arrivals) work; the "
        "serve tail is the standard ivf_pq_serve broadcast cascade. Same plan "
        "discipline as x3_ivf_pq_topk: every join is an equi join or a bounded "
        "broadcast; nothing corpus-vs-corpus.",
        (NO_CARTESIAN, absent(BNLJ), broadcasts(4), python_maps(0)),
    ),
    Row(
        "x3_truncation_eval",
        "Matryoshka truncation evaluation: full-dim truth and half-dim detector are "
        "the SAME _brute_ranked_topk spelling — each lane is one corpus pass with the "
        "bounded probe frame broadcast, so the only nested-loop joins are the two "
        "bounded probe self-exclusions (the x3_cosine_topk shape, twice); the hit "
        "detection is an equi LEFT join of two <= probes x k rank lists and the "
        "metrics are integer arithmetic on integer ranks.",
        (NO_CARTESIAN, bnlj_nodes(2), python_maps(0)),
    ),
    Row(
        "x3_ivf_pq_eval",
        "IVF-PQ cascade evaluation: the cascade side is the serving plan "
        "(checkpoint-fed inverted lists, broadcast probes/ptab/codebook), the truth "
        "side is one bounded-probe brute pass, and the hit detection is an equi LEFT "
        "join of two <= probes x k rank lists with integer metrics. The only "
        "nested-loop join is the truth lane's bounded probe self-exclusion (the "
        "x3_ann_eval precedent).",
        (NO_CARTESIAN, bnlj_nodes(1), python_maps(0)),
    ),
    Row(
        "x4_decontam_eval",
        "Sampled-index decontamination recall vs the full 5-gram truth: the distinct "
        "bench-gram table is checkpointed once and BOTH the truth join and the "
        "md5-sampled detector join broadcast it into one streaming pass each over the "
        "corpus grams (the x4_decontaminate shape); the per-doc distinct-gram "
        "aggregate and the <= 4-row severity rollup are the only exchanges, and the "
        "truth-vs-detected alignment is a doc_id equi join.",
        (NO_CARTESIAN, broadcasts(2), absent(BNLJ), python_maps(0)),
    ),
    Row(
        "p1_scan_project_filter",
        "Scan -> project -> filter: the predicate reaches the parquet reader as a "
        "pushed filter.",
        (PUSHED,),
    ),
    Row(
        "q6_forecast_revenue",
        "TPC-H Q6 shape: every predicate pushes into the parquet scan, which reads "
        "only the columns the revenue sum needs.",
        (PUSHED, widest_scan(4)),
    ),
    Row(
        "j1_lookup_left_join",
        "Lookup left join: the dimension side broadcasts; the fact side never shuffles "
        "for the join.",
        (present("BroadcastHashJoin"), absent("SortMergeJoin")),
    ),
    Row(
        "x8_copartition_pipeline",
        "The explicit repartitions on the join key are the ONLY data exchanges before "
        "the final small group-by — the per-order aggregation and the join both "
        "satisfy their requirement from them.",
        (exchanges_at_most(3), SHUFFLED_JOIN),
        at_scale=True,
    ),
    Row(
        "t4_person_assembly",
        "Grouped kernel: exactly one hash exchange on the group key feeds the Python "
        "map (plus AQE bookkeeping); a second data exchange means the single-shuffle "
        "design regressed.",
        (KERNEL_MAP, exchanges_at_most(2)),
    ),
    Row(
        "q7_nation_trade",
        "nation is 25 rows at every SF — the explicit broadcast hints survive a "
        "disabled auto-threshold; the facts sort-merge join.",
        (present("BroadcastHashJoin"), present("SortMergeJoin")),
        at_scale=True,
    ),
    Row(
        "q10_returned_items",
        "The global top-20 plans as TakeOrderedAndProject (per-partition top-k + "
        "merge), not a total sort of the aggregate.",
        (present("TakeOrderedAndProject"),),
        at_scale=True,
    ),
    Row(
        "q21_sole_late_supplier",
        "The per-order supplier counts ride the join's l_orderkey partitioning as a "
        "window — plan budget: 2 join-input exchanges, 1 distinct, 2 supplier-join "
        "exchanges. A 6th means the window formulation regressed to groupBy + "
        "join-back (an extra full shuffle of the joined lines).",
        (exchanges_at_most(5), present("TakeOrderedAndProject")),
        at_scale=True,
    ),
    Row(
        "x9_doc_packing",
        "hashpartitioning(source) from the window satisfies the (source, bin) "
        "group-by's clustered distribution — exactly one exchange end-to-end.",
        (exchanges(1),),
    ),
    Row(
        "q2_min_cost_supplier",
        "part/supplier/nation/region are hint-broadcast (they survive a disabled "
        "auto-threshold), so no join sort-merges: the (partkey, suppkey) aggregation "
        "is the single big shuffle, and the window min rides the much smaller supply "
        "table.",
        (broadcasts(2), absent("SortMergeJoin"), present("TakeOrderedAndProject")),
        at_scale=True,
    ),
    Row(
        "q11_important_stock",
        "The global-aggregate scalar subquery re-aggregates the materialized partial "
        "instead of rescanning lineitem — the checkpoint cuts the second branch.",
        (at_most_once("lineitem.parquet"),),
    ),
    Row(
        "q15_top_supplier",
        "The global-max scalar subquery re-aggregates the materialized partial instead "
        "of rescanning lineitem — the checkpoint cuts the second branch.",
        (at_most_once("lineitem.parquet"),),
    ),
    Row(
        "x2_sorted_neighborhood",
        "The block-partitioned window runs ONCE (one blk exchange feeds the explode "
        "fan-out — a union formulation re-runs it per lead), hash-partitioned on blk, "
        "never a single-partition global sort.",
        (exactly_once("hashpartitioning(blk"), exchanges_at_most(2)),
    ),
    Row(
        "x4_postings",
        "The first top-k rank windows over (term, salt) — pmod in the partition key — "
        "so a hot term's posting set never sorts in one task; the unsalted term window "
        "only sees <= 640 survivors.",
        (present("pmod"), exchanges_at_most(4)),
    ),
    Row(
        "q16_supplier_count",
        "The negative-balance supplier anti join and the part bucket dim join both "
        "stay broadcast at scale (explicit hints).",
        (broadcasts(2), absent("SortMergeJoin")),
        at_scale=True,
    ),
    Row(
        "x2_embedding_neardup",
        "Blocked matmul: the ONLY data shuffle is the groupBy(p1,p2) tile exchange; "
        "the block-pair fan-out rides a broadcast nested-loop join of the B-row range "
        "(no exchange of the embedding table for the crossJoin, no driver collect in "
        "the plan).",
        (
            exchanges_at_most(1),
            present(BNLJ),
            (
                "`FlatMapGroupsInPandas` in the plan, no other `MapInPandas`",
                lambda a: "FlatMapGroupsInPandas" in a.text
                and "MapInPandas" not in a.text.replace("FlatMapGroupsInPandas", ""),
            ),
        ),
    ),
    Row(
        "x4_bpe_tokenize_apply",
        "The merge folds (higher-order aggregate over the symbol array) sit above the "
        "DISTINCT-word aggregate, not the raw word-instance explode — folding every "
        "instance was ~8x the work. The nested merge-fold is evaluated in the Results "
        "of the w-keyed aggregate, once per distinct word; the word-instance side "
        "(behind the lazy checkpoint) only joins on w and re-aggregates by doc_id.",
        (present("size(aggregate("), present("Keys [1]: [w#"), present("hashpartitioning(doc_id")),
    ),
    Row(
        "x1_incremental_ingest",
        EQUI_DEDUP_NOTE,
        (absent(BNLJ), NO_CARTESIAN),
    ),
    Row(
        "x1_fuzzy_dedup_pipeline",
        EQUI_DEDUP_NOTE,
        (absent(BNLJ), NO_CARTESIAN),
    ),
    Row(
        "x4_quality_model_score",
        "Broadcast-model scoring is a single narrow pass — the parquet scan pruned to "
        "the 4 input columns feeds one MapInPandas, with NO exchange anywhere (a "
        "shuffle in a pure scoring map is a 100 TB regression).",
        (exchanges(0), python_maps(1), widest_scan(4)),
    ),
    Row(
        "x9_dsir_resample",
        "The 256-row bucket log-ratio model reaches the token table via an explicit "
        "broadcast (constant-size by construction — hashed features — so the join "
        "never shuffles the token side); the global top-k is TakeOrderedAndProject "
        "(distributed partial top-k), never a single-partition window sort of the "
        "whole corpus.",
        (present("BroadcastHashJoin"), NO_CARTESIAN, present("TakeOrderedAndProject")),
        at_scale=True,
    ),
    Row(
        "x3_mmr_rerank",
        "The greedy MMR re-rank runs as exactly one grouped-pandas kernel over the "
        "top-20-shrunk pairs (the broadcast probe join is audited on the "
        "pre-checkpoint candidate builder in tests/test_plans.py).",
        (python_maps(1),),
        at_scale=True,
    ),
    Row(
        "m3_rf_apply",
        "Model application is the 100 TB hot path — the frozen forest scores as ONE "
        "pruned scan + projection: no exchange, no join, no Python anywhere in the "
        "plan.",
        (exchanges(0), python_maps(0), widest_scan(1), absent("Join")),
    ),
    Row(
        "m8_rank_metrics",
        "The metric branches consume the checkpointed distinct-score curve (one pruned "
        "scan, one scoring map and one exchange upstream, audited on _score_curve in "
        "tests/test_plans.py), never a rebuilt scan — pre-checkpoint this plan read "
        "and re-scored the corpus four times.",
        (python_maps(0), ("no parquet ReadSchema in the plan", lambda a: not a.read_widths)),
    ),
    Row(
        "x9_source_quota",
        "The rank <= K filter lowers to WindowGroupLimit (each input partition keeps "
        "its own per-source top-K BEFORE the exchange — the shape that caps shuffle "
        "rows at K per (partition, source) even when one domain dominates the corpus), "
        "and the tokenization is projected exactly once; the logit is Catalyst "
        "arithmetic.",
        (present("WindowGroupLimit"), exactly_once("split(text"), python_maps(0)),
    ),
)
