"""Grouped sequential kernels (SURVEY.md §2.11): greedy NMS (W2), greedy
one-to-one matching (W3), person-assembly connected components (T4).

These are the reference's three genuinely non-relational algorithms —
order-dependent greedy loops whose semantics change if 'relationalized'
(SURVEY.md §7 risk register). They become custom *physical* operators:
one shuffle on the group key (image id), groups made contiguous by an
in-partition sort, then Python over Arrow batches of thousands of groups
running the exact greedy logic. NMS only decides one keep bit per box, so
W2 sends the three columns it reads through an iterator ``pandas_udf`` and
filters on the returned flags (``nms_keep_batches``); the kernels that emit
new rows (W3's pairs, T4's components, the replay lane) stream whole-group
batches through ``mapInPandas`` (see _grouped_blocks). Everything
upstream/downstream stays Catalyst.

Scale shape: work is embarrassingly parallel across groups; a group is
dozens of rows (boxes/peaks per image), so the kernel is O(small^2) per
group and the shuffle on the group key is the only data movement. Skewed
group sizes are handled by AQE; Arrow batches amortize the JVM<->Python
crossing over many groups (~100x fewer crossings than per-group
applyInPandas at TPC-H group cardinalities).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..catalog import table
from ..registry import QuerySpec, make_registrar

SPECS: list[QuerySpec] = []
query = make_registrar(SPECS)


# ---------------------------------------------------------------------------
# Grouped-map execution strategy
# ---------------------------------------------------------------------------
#
# ``applyInPandas`` invokes the Python kernel ONCE PER GROUP. With TPC-H-shaped
# keys (~1 group per order, 1-7 rows each) that is ~150k Python calls + Arrow
# slices at sf0.1 and ~150M at 100 TB — per-group overhead dominates by 100×.
#
# Instead: shuffle once on the group key, sort within partitions so each
# group is contiguous, then ONE Python call per Arrow batch (thousands of
# groups), carrying a group that straddles two Arrow batches over to the
# next. Exact same greedy semantics, ~100× less crossing overhead, and the
# only data movement is the one hash shuffle on the key (identical to what
# applyInPandas needs anyway). Two forms:
# - a kernel that only keeps or drops rows (W2's NMS) is a keep-flag
#   iterator ``pandas_udf`` in a ``where``: only the columns it reads cross
#   into Python, one bool per row comes back, and the other columns stay
#   in the JVM;
# - a kernel that emits new rows (pairs, components) runs through
#   ``_grouped_blocks``' ``mapInPandas``.


def _grouped_blocks(
    df: DataFrame,
    key: str,
    sort_cols: list[Column],
    block_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Run ``block_fn`` over batches of whole groups: repartition by ``key``,
    sort within partitions (``sort_cols`` must lead with ``key`` ascending so
    groups are contiguous), stream Arrow batches through Python carrying the
    trailing (possibly incomplete) group over to the next batch."""
    # Explicit partition count (r14): a count-less repartition is
    # AQE-coalescible, and with byte-size-first coalescing (the r14
    # session policy) a small-bytes input collapses to ONE partition —
    # serializing the CPU-heavy Python kernel behind it (measured 2-3x
    # on t4/m8/w2 at sf0.1). The kernel's cost is per ROW, not per
    # byte, so its parallelism is deliberate: pin it to the cluster
    # core count (scale-parameterized — defaultParallelism is the
    # executor-core total on a real deployment, not a local constant).
    par = df.sparkSession.sparkContext.defaultParallelism
    part = df.repartition(par, F.col(key)).sortWithinPartitions(*sort_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            keys = pdf[key].to_numpy()
            cut = int(np.searchsorted(keys, keys[-1], side="left"))
            if cut == 0:  # whole batch is one group: keep accumulating
                carry = pdf
                continue
            carry = pdf.iloc[cut:]
            yield block_fn(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield block_fn(carry)

    return part.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# Kernels (plain pandas functions — unit-tested directly in tests/)
# ---------------------------------------------------------------------------


def iou_1d(lo_a: float, hi_a: float, lo_b: float, hi_b: float) -> float:
    inter = max(0.0, min(hi_a, hi_b) - max(lo_a, lo_b))
    union = (hi_a - lo_a) + (hi_b - lo_b) - inter
    return inter / union if union > 0 else 0.0


def nms_greedy(group: pd.DataFrame, iou_threshold: float = 0.3) -> pd.DataFrame:
    """Exact greedy NMS (pi/digit_detector/detect.py:8-63): repeatedly take
    the highest-prob remaining box, suppress all remaining boxes whose IoU
    with it exceeds the threshold. Deterministic tiebreak on box id."""
    g = group.sort_values(["prob", "box_id"], ascending=[False, True])
    kept: list[int] = []
    rows = list(g.itertuples(index=False))
    alive = [True] * len(rows)
    for i, r in enumerate(rows):
        if not alive[i]:
            continue
        kept.append(i)
        for j in range(i + 1, len(rows)):
            if alive[j] and iou_1d(r.lo, r.hi, rows[j].lo, rows[j].hi) > iou_threshold:
                alive[j] = False
    out = pd.DataFrame(rows).iloc[kept] if kept else pd.DataFrame(columns=group.columns)
    return out[list(group.columns)]


def greedy_match(group: pd.DataFrame) -> pd.DataFrame:
    """Greedy one-to-one assignment (pi/dl_k_to_ss.py:175-182): walk
    candidate pairs by descending score; accept a pair iff neither endpoint
    is already used; stop once min(|A|,|B|) pairs are accepted."""
    g = group.sort_values(["score", "a", "b"], ascending=[False, True, True])
    used_a: set = set()
    used_b: set = set()
    limit = min(g["a"].nunique(), g["b"].nunique())
    keep = []
    for r in g.itertuples(index=False):
        if len(keep) >= limit:
            break
        if r.a in used_a or r.b in used_b:
            continue
        used_a.add(r.a)
        used_b.add(r.b)
        keep.append(r)
    return pd.DataFrame(keep, columns=list(group.columns)) if keep else pd.DataFrame(
        columns=group.columns
    )


def connected_components(group: pd.DataFrame) -> pd.DataFrame:
    """Union-find over the limb graph (pi/dl_k_to_ss.py:191-235: merge limb
    connections sharing endpoints into person subsets; merge two partial
    persons; else start a new person). Component id = smallest member node,
    which makes the output deterministic and oracle-checkable."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for r in group.itertuples(index=False):
        for node in (r.a, r.b):
            if node not in parent:
                parent[node] = node
        union(r.a, r.b)
    nodes = sorted(parent)
    return pd.DataFrame({"node": nodes, "component": [find(n) for n in nodes]})


# ---------------------------------------------------------------------------
# Block kernels: same greedy semantics, applied to a batch of whole groups
# (rows contiguous + pre-sorted per group). ``nms_keep`` is vectorized
# rank arithmetic; the other four walk each group's run (``_runs``) with
# three shared pieces: the candidate pair enumerator (``_iou_pairs``), the
# greedy one-to-one walk (``_greedy_pairs``) and the min-label union-find
# (``min_label_components``, also dedup's driver-side connected components).
# ---------------------------------------------------------------------------


def _runs(img: np.ndarray) -> Iterator[tuple[int, int]]:
    """``(start, end)`` of each run of equal keys in the key-sorted ``img``."""
    starts = np.flatnonzero(np.r_[True, img[1:] != img[:-1]])
    return zip(starts.tolist(), np.r_[starts[1:], len(img)].tolist())


def min_label_components(edges: Iterable[tuple]) -> list[tuple]:
    """Path-compressed union-find over ``(a, b)`` edges: ``(node, min member
    of its component)`` for every node that appears in an edge. Union by min
    keeps each root AT its component min, so the label read-off is find()."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def _greedy_pairs(pairs: list[tuple]) -> list[int]:
    """Indices of the ``(a, b)`` pairs, given in priority order, that the
    greedy one-to-one walk accepts: a pair is taken iff neither endpoint is
    used yet (separate pools for a and b), stopping at min(distinct a,
    distinct b) accepted pairs."""
    limit = min(len({a for a, _ in pairs}), len({b for _, b in pairs}))
    used_a: set = set()
    used_b: set = set()
    keep: list[int] = []
    for i, (a, b) in enumerate(pairs):
        if len(keep) >= limit:
            break
        if a not in used_a and b not in used_b:
            used_a.add(a)
            used_b.add(b)
            keep.append(i)
    return keep


def _iou_pairs(box: list, lo: list, hi: list, s: int, e: int) -> list[tuple]:
    """``(iou, a, b)`` for each pair of rows in ``[s, e)`` with positive
    overlap, ``a < b`` by box id. Rows sharing an id never pair (the join
    predicate is ``a.box_id < b.box_id``; duplicate source rows share ids)."""
    out = []
    for i in range(s, e):
        for j in range(i + 1, e):
            inter = min(hi[i], hi[j]) - max(lo[i], lo[j])
            if inter > 0 and box[i] != box[j]:
                union = (hi[i] - lo[i]) + (hi[j] - lo[j]) - inter
                out.append((inter / union, min(box[i], box[j]), max(box[i], box[j])))
    return out


def nms_keep(
    img: np.ndarray, lo: np.ndarray, hi: np.ndarray, iou_threshold: float = 0.3
) -> np.ndarray:
    """Keep mask of greedy NMS over boxes sorted by (image_id asc, prob desc,
    box_id asc). Keeps exactly the rows :func:`nms_greedy` keeps per group.

    Vectorized rank iteration: greedy suppression only ever flows from a
    lower-rank (higher-prob) box to higher ranks in the same group, so
    processing local rank r = 0,1,2,... with full-array numpy ops — suppress
    every alive box whose IoU with its group's (still-alive) rank-r box
    exceeds the threshold — reproduces the sequential greedy exactly, in
    max_group_size passes over the block instead of a Python loop per row."""
    n = len(img)
    alive = np.ones(n, dtype=bool)
    if n == 0:
        return alive
    starts = np.flatnonzero(np.r_[True, img[1:] != img[:-1]])
    sizes = np.diff(np.r_[starts, n])
    row_start = np.repeat(starts, sizes)  # each row -> its group's first index
    local = np.arange(n) - row_start  # local rank within group (prob desc)
    for r in range(int(sizes.max())):
        ref = row_start + r  # rank-r row of each row's group
        cand = (local > r) & (ref < n) & alive
        cand &= alive[np.minimum(ref, n - 1)]
        if not cand.any():
            continue
        c = np.flatnonzero(cand)
        rc = ref[c]
        inter = np.minimum(hi[c], hi[rc]) - np.maximum(lo[c], lo[rc])
        union = (hi[c] - lo[c]) + (hi[rc] - lo[rc]) - inter
        suppress = (inter > 0) & (inter / union > iou_threshold)
        alive[c[suppress]] = False
    return alive


def nms_keep_batches(
    batches: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    """Iterator ``pandas_udf`` body: the :func:`nms_keep` flag of every row of
    one sorted partition, streamed as ``(image_id, lo, hi)`` Arrow batches.
    The last group's rows are carried into the next batch and re-ranked
    with it; that is exact because a box's fate depends only on the
    higher-ranked boxes of its own group, which come earlier in the order."""
    carry: list[np.ndarray] | None = None
    for batch in batches:
        cols = [c.to_numpy() for c in batch]
        n = 0 if carry is None else len(carry[0])
        if n:
            cols = [np.concatenate([c, b]) for c, b in zip(carry, cols)]
        yield pd.Series(nms_keep(*cols)[n:])
        if len(cols[0]):
            last = int(np.searchsorted(cols[0], cols[0][-1], side="left"))
            carry = [c[last:] for c in cols]


def match_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy one-to-one matching over a block sorted by (image_id asc,
    score desc, a asc, b asc). Identical output to :func:`greedy_match`."""
    a = pdf["a"].to_numpy().tolist()
    b = pdf["b"].to_numpy().tolist()
    keep = np.zeros(len(pdf), dtype=bool)
    for s, e in _runs(pdf["image_id"].to_numpy()):
        for i in _greedy_pairs(list(zip(a[s:e], b[s:e]))):
            keep[s + i] = True
    return pdf[keep]


def components_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Union-find per contiguous image_id run over an edge block sorted by
    image_id asc. Output: (image_id, node, component=min member)."""
    img = pdf["image_id"].to_numpy()
    a = pdf["a"].to_numpy().tolist()
    b = pdf["b"].to_numpy().tolist()
    rows = [
        (img[s], node, comp)
        for s, e in _runs(img)
        for node, comp in sorted(min_label_components(zip(a[s:e], b[s:e])))
    ]
    return pd.DataFrame(rows, columns=["image_id", "node", "component"])


def match_from_boxes_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """W3 fused: generate IoU-scored candidate pairs per image IN the kernel
    (the J4 join shape, O(group^2) on tiny groups) and greedy-match them —
    one shuffle of the box table instead of a two-sided self-join plus a
    kernel shuffle. Pair semantics match the relational form: a < b by
    box_id, same-id rows never pair, score = round(IoU, 6) > 0; greedy
    semantics match :func:`greedy_match` (separate endpoint pools, stop at
    min distinct endpoints)."""
    img = pdf["image_id"].to_numpy()
    box, lo, hi = (pdf[c].to_numpy().tolist() for c in ("box_id", "lo", "hi"))
    rows = []
    for s, e in _runs(img):
        # sorted (-score, a, b) is the walk order; round(x * 1e6) / 1e6 is
        # numpy's round(x, 6) (rint of x * 1e6, then / 1e6), bit for bit
        ranked = sorted(
            (-round(iou * 1e6) / 1e6, a, b) for iou, a, b in _iou_pairs(box, lo, hi, s, e)
        )
        ranked = [(a, b, -neg) for neg, a, b in ranked if neg < 0]
        rows += [(img[s], *ranked[i]) for i in _greedy_pairs([p[:2] for p in ranked])]
    return pd.DataFrame(rows, columns=["image_id", "a", "b", "score"])


def assembly_block(pdf: pd.DataFrame, iou_threshold: float = 0.3) -> pd.DataFrame:
    """Person assembly from BOXES (not pre-joined edges): per contiguous
    image_id run, pair boxes with IoU >= threshold and union-find the
    resulting graph — the edge generation happens here, in O(group^2) work
    per tiny group, instead of a relational self-join that would shuffle
    the box table a second time. Output matches :func:`components_block`
    fed with the IoU edge list."""
    img = pdf["image_id"].to_numpy()
    box, lo, hi = (pdf[c].to_numpy().tolist() for c in ("box_id", "lo", "hi"))
    rows = [
        (img[s], node, comp)
        for s, e in _runs(img)
        for node, comp in sorted(min_label_components(
            (a, b) for iou, a, b in _iou_pairs(box, lo, hi, s, e) if iou >= iou_threshold
        ))
    ]
    return pd.DataFrame(rows, columns=["image_id", "node", "component"])


# ---------------------------------------------------------------------------
# Derived detection/graph tables over the driver's parquet (query surface)
# ---------------------------------------------------------------------------


def detection_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-D detection boxes derived from lineitem: image =
    order, box interval from quantity, prob from discount (+ linenumber
    epsilon as a stable tiebreak)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("image_id"),
        F.col("l_linenumber").alias("box_id"),
        F.col("l_quantity").alias("lo"),
        (F.col("l_quantity") + 5 + F.col("l_linenumber")).alias("hi"),
        F.round(F.col("l_discount") * 10 + F.col("l_linenumber") * 0.0001, 6).alias("prob"),
    )


_NMS_IOU_SQL = (
    "LEAST(k.hi, r.hi) - GREATEST(k.lo, r.lo) > 0 AND "
    "(LEAST(k.hi, r.hi) - GREATEST(k.lo, r.lo)) "
    "/ ((k.hi - k.lo) + (r.hi - r.lo) - (LEAST(k.hi, r.hi) - GREATEST(k.lo, r.lo)))"
    " > 0.3"
)


@query(
    "w2_nms_greedy",
    oracle=f"""
        WITH RECURSIVE boxes AS (
            SELECT l_orderkey AS image_id, l_linenumber AS box_id,
                   l_quantity AS lo, l_quantity + 5 + l_linenumber AS hi,
                   ROUND(l_discount * 10 + l_linenumber * 0.0001, 6) AS prob
            FROM lineitem
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id
                      ORDER BY prob DESC, box_id, lo, hi) AS rk
            FROM boxes
        ),
        walk AS (
            SELECT image_id, rk, box_id, lo, hi, prob,
                   TRUE AS kept_flag,
                   [{{'lo': lo, 'hi': hi}}] AS kept
            FROM ranked WHERE rk = 1
            UNION ALL
            SELECT r.image_id, r.rk, r.box_id, r.lo, r.hi, r.prob,
                   LEN(LIST_FILTER(w.kept, k -> {_NMS_IOU_SQL})) = 0,
                   CASE WHEN LEN(LIST_FILTER(w.kept, k -> {_NMS_IOU_SQL})) = 0
                        THEN LIST_APPEND(w.kept, {{'lo': r.lo, 'hi': r.hi}})
                        ELSE w.kept END
            FROM walk w JOIN ranked r
              ON r.image_id = w.image_id AND r.rk = w.rk + 1
        )
        SELECT image_id, box_id, lo, hi, prob FROM walk WHERE kept_flag
    """,
    tags=("W2", "grouped-map"),
)
def w2_nms_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy non-maximum suppression per image as keep flags from an
    iterator ``pandas_udf`` over the image-sorted partitions (only
    image_id, lo and hi cross into Python) — the exact sequential
    semantics of detect.py:37-60 (window-rank approximations would change
    results; SURVEY.md §4).

    Oracle-checked (upgraded from rows-only in r2): the DuckDB twin walks
    each image's boxes rank by rank in a recursive CTE, carrying the kept
    intervals as a LIST and re-deriving the keep/suppress decision with
    the same IEEE double IoU arithmetic — recursion depth = max boxes per
    image (13 at sf0.01), total recursive rows = |boxes|. The sort is a
    TOTAL order (prob desc, box_id, lo, hi): the synthetic lineitem has
    ~1.5k duplicate (pk, prob) groups with differing intervals, where a
    partial order would leave greedy results layout-dependent on both
    engines."""
    boxes = detection_boxes(spark, sf_dir)
    # asNondeterministic pins the keep filter above the sort: a
    # deterministic predicate would be pushed below the sort and the
    # exchange, and the flags would then see rows out of group order.
    keep = F.pandas_udf(nms_keep_batches, "boolean").asNondeterministic()
    par = spark.sparkContext.defaultParallelism  # as _grouped_blocks
    return (
        boxes.repartition(par, "image_id")
        .sortWithinPartitions(
            F.asc("image_id"), F.desc("prob"), F.asc("box_id"), F.asc("lo"), F.asc("hi")
        )
        .where(keep("image_id", "lo", "hi"))
    )


_W3_IOU_SQL = (
    "ROUND((LEAST(i.hi, j.hi) - GREATEST(i.lo, j.lo)) "
    "/ ((i.hi - i.lo) + (j.hi - j.lo) - (LEAST(i.hi, j.hi) - GREATEST(i.lo, j.lo))), 6)"
)
_W3_ACC_SQL = (
    "w.taken < w.lim AND NOT LIST_CONTAINS(w.ua, r.a) AND NOT LIST_CONTAINS(w.ub, r.b)"
)


@query(
    "w3_greedy_match",
    oracle=f"""
        WITH RECURSIVE boxes AS (
            SELECT l_orderkey AS image_id, l_linenumber AS box_id,
                   l_quantity AS lo, l_quantity + 5 + l_linenumber AS hi,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber, l_quantity) AS rid
            FROM lineitem
        ),
        pair AS (
            SELECT i.image_id,
                   LEAST(i.box_id, j.box_id) AS a,
                   GREATEST(i.box_id, j.box_id) AS b,
                   {_W3_IOU_SQL} AS score
            FROM boxes i JOIN boxes j
              ON i.image_id = j.image_id AND i.rid < j.rid
             AND i.box_id <> j.box_id
            WHERE LEAST(i.hi, j.hi) - GREATEST(i.lo, j.lo) > 0
              AND {_W3_IOU_SQL} > 0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id
                      ORDER BY score DESC, a, b) AS rk
            FROM pair
        ),
        lim AS (
            SELECT image_id,
                   LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b)) AS lim
            FROM pair GROUP BY 1
        ),
        walk AS (
            SELECT r.image_id, r.rk, r.a, r.b, r.score,
                   TRUE AS acc, [r.a] AS ua, [r.b] AS ub,
                   1 AS taken, l.lim AS lim
            FROM ranked r JOIN lim l USING (image_id) WHERE r.rk = 1
            UNION ALL
            SELECT r.image_id, r.rk, r.a, r.b, r.score,
                   {_W3_ACC_SQL},
                   CASE WHEN {_W3_ACC_SQL}
                        THEN LIST_APPEND(w.ua, r.a) ELSE w.ua END,
                   CASE WHEN {_W3_ACC_SQL}
                        THEN LIST_APPEND(w.ub, r.b) ELSE w.ub END,
                   w.taken + CASE WHEN {_W3_ACC_SQL} THEN 1 ELSE 0 END,
                   w.lim
            FROM walk w JOIN ranked r
              ON r.image_id = w.image_id AND r.rk = w.rk + 1
        )
        SELECT image_id, CAST(a AS INT) AS a, CAST(b AS INT) AS b, score
        FROM walk WHERE acc
    """,
    tags=("W3", "J4", "grouped-map"),
)
def w3_greedy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy one-to-one candidate matching per image (dl_k_to_ss.py:
    175-182). Candidate generation (the J4 join shape, IoU-scored box
    pairs) is fused into the grouped kernel — one shuffle of the box table;
    the relational self-join form it replaces is output-identical (asserted
    when this fusion landed) and survives as j4_limb_candidates for the
    oracle-checked join shape.

    Oracle-checked (upgraded from rows-only in r2): the DuckDB twin
    enumerates the same unordered ROW pairs (rid self-join below the
    diagonal — duplicate box_ids in the synthetic lineitem mean a pair of
    box ids can carry several scores, so pairing must be by row, not id),
    ranks by (score desc, a, b), and replays the greedy walk in a
    recursive CTE carrying used-endpoint lists and the accepted count
    against the min-distinct-endpoints cap."""
    boxes = detection_boxes(spark, sf_dir).select("image_id", "box_id", "lo", "hi")
    return _grouped_blocks(
        boxes,
        key="image_id",
        sort_cols=[F.asc("image_id"), F.asc("box_id")],
        block_fn=match_from_boxes_block,
        schema="image_id long, a int, b int, score double",
    )


@query(
    "t4_person_assembly",
    oracle="""
        WITH RECURSIVE boxes AS (
            SELECT l_orderkey AS image_id, l_linenumber AS node,
                   l_quantity AS lo, l_quantity + 5 + l_linenumber AS hi
            FROM lineitem
        ), pair AS (
            SELECT a.image_id, a.node AS a, b.node AS b
            FROM boxes a JOIN boxes b
              ON a.image_id = b.image_id AND a.node < b.node
            WHERE GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))
                  / ((a.hi - a.lo) + (b.hi - b.lo)
                     - GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))) >= 0.3
        ), edges AS (
            SELECT image_id, a, b FROM pair
            UNION ALL SELECT image_id, b, a FROM pair
        ), nodes AS (
            SELECT DISTINCT image_id, a AS node FROM edges
        ), reach AS (
            SELECT image_id, node AS src, node AS dst FROM nodes
            UNION
            SELECT r.image_id, r.src, e.b AS dst
            FROM reach r JOIN edges e ON e.image_id = r.image_id AND e.a = r.dst
        )
        SELECT image_id, src AS node, MIN(dst) AS component
        FROM reach GROUP BY image_id, src
    """,
    tags=("T4", "grouped-map"),
)
def t4_person_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Person assembly = connected components over the limb-connection
    graph (dl_k_to_ss.py:191-235), with edges = box pairs at IoU >= 0.3.
    Union-find per image in the grouped kernel; component id = min member.

    The oracle is a recursive-CTE transitive closure (WITH RECURSIVE) —
    viable because groups are tiny; the Spark kernel is the form that
    scales. Only nodes with at least one edge appear (isolated boxes are
    not 'persons', mirroring the reference which only creates subsets from
    connections).

    Plan shape: boxes shuffle ONCE on image_id and the IoU pairing runs
    inside the grouped kernel (O(group^2) on tiny groups) — a relational
    self-join would shuffle the box table twice and materialize the edge
    rows through a second exchange before the kernel."""
    boxes = detection_boxes(spark, sf_dir)
    schema = "image_id long, node int, component int"
    return _grouped_blocks(
        boxes,
        key="image_id",
        sort_cols=[F.asc("image_id"), F.asc("box_id")],
        block_fn=assembly_block,
        schema=schema,
    )
