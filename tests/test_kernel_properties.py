"""Property tests: the vectorized/batched block kernels must agree with the
straightforward per-group reference kernels on arbitrary inputs — random
group sizes, tied probabilities/scores, degenerate boxes, duplicate ids."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from iii_aibigdata_capstone_spark.operators.grouped import (
    assembly_block,
    components_block,
    connected_components,
    greedy_match,
    iou_1d,
    match_block,
    match_from_boxes_block,
    min_label_components,
    nms_greedy,
    nms_keep,
    nms_keep_batches,
)

# boxes: small coordinate/prob domains force collisions, ties and overlaps
box_row = st.tuples(
    st.integers(0, 5),  # image_id
    st.integers(0, 9),  # box_id
    st.integers(0, 20),  # lo
    st.integers(1, 10),  # width
    st.sampled_from([0.1, 0.25, 0.5, 0.5, 0.9]),  # prob with forced ties
)


def _boxes_frame(rows):
    df = pd.DataFrame(
        [(i, b, float(lo), float(lo + w), p) for i, b, lo, w, p in rows],
        columns=["image_id", "box_id", "lo", "hi", "prob"],
    )
    # the contract: distinct box_id within a group, block pre-sorted
    df = df.drop_duplicates(["image_id", "box_id"])
    return df.sort_values(
        ["image_id", "prob", "box_id"], ascending=[True, False, True]
    ).reset_index(drop=True)


@settings(max_examples=200, deadline=None)
@given(st.lists(box_row, min_size=1, max_size=40))
def test_nms_block_equals_per_group_greedy(rows):
    block = _boxes_frame(rows)
    got = block[nms_keep(*(block[c].to_numpy() for c in ("image_id", "lo", "hi")))]
    assert _kept(got) == _kept(_greedy_per_group(block))


def _greedy_per_group(block):
    return pd.concat(
        [nms_greedy(g) for _, g in block.groupby("image_id", sort=True)],
        ignore_index=True,
    )


def _kept(frame):
    return set(map(tuple, frame[["image_id", "box_id"]].to_numpy()))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(box_row, min_size=1, max_size=40),
    st.lists(st.integers(0, 5), max_size=12),
)
def test_nms_keep_flags_survive_any_batch_split(rows, sizes):
    """The iterator UDF body over one sorted partition cut into Arrow
    batches anywhere (inside a group, 1-row and empty batches) keeps
    exactly the rows of per-group greedy NMS, one flag per input row."""
    block = _boxes_frame(rows)
    bounds = np.minimum(np.cumsum([0, *sizes]), len(block)).tolist() + [len(block)]
    batches = [block.iloc[s:e] for s, e in zip(bounds, bounds[1:])]
    flags = list(nms_keep_batches((b["image_id"], b["lo"], b["hi"]) for b in batches))
    assert [len(f) for f in flags] == [len(b) for b in batches]
    got = block[np.concatenate([f.to_numpy(dtype=bool) for f in flags])]
    assert _kept(got) == _kept(_greedy_per_group(block))


pair_row = st.tuples(
    st.integers(0, 3),  # image_id
    st.integers(0, 5),  # a
    st.integers(10, 15),  # b (disjoint endpoint spaces)
    st.sampled_from([0.2, 0.5, 0.5, 0.8]),  # score with ties
)


@settings(max_examples=200, deadline=None)
@given(st.lists(pair_row, min_size=1, max_size=30))
def test_match_block_equals_per_group_greedy(rows):
    df = pd.DataFrame(rows, columns=["image_id", "a", "b", "score"]).drop_duplicates(
        ["image_id", "a", "b"]
    )
    block = df.sort_values(
        ["image_id", "score", "a", "b"], ascending=[True, False, True, True]
    ).reset_index(drop=True)
    got = match_block(block)
    expected = pd.concat(
        [greedy_match(g) for _, g in block.groupby("image_id", sort=True)],
        ignore_index=True,
    )
    got_set = set(map(tuple, got[["image_id", "a", "b"]].to_numpy()))
    exp_set = set(map(tuple, expected[["image_id", "a", "b"]].to_numpy()))
    assert got_set == exp_set


@settings(max_examples=200, deadline=None)
@given(st.lists(box_row, min_size=1, max_size=30))
def test_assembly_block_matches_components_of_explicit_edges(rows):
    block = _boxes_frame(rows).sort_values(["image_id", "box_id"]).reset_index(drop=True)
    got = assembly_block(block)
    # reference: explicit IoU edge list -> per-group union-find
    frames = []
    for img, g in block.groupby("image_id", sort=True):
        arr = g.to_records(index=False)
        edges = []
        for i in range(len(arr)):
            for j in range(i + 1, len(arr)):
                if arr[i]["box_id"] == arr[j]["box_id"]:
                    continue
                inter = min(arr[i]["hi"], arr[j]["hi"]) - max(arr[i]["lo"], arr[j]["lo"])
                if inter <= 0:
                    continue
                union = (
                    (arr[i]["hi"] - arr[i]["lo"]) + (arr[j]["hi"] - arr[j]["lo"]) - inter
                )
                if inter / union >= 0.3:
                    a, b = sorted((arr[i]["box_id"], arr[j]["box_id"]))
                    edges.append((img, a, b))
        if edges:
            out = connected_components(
                pd.DataFrame(edges, columns=["image_id", "a", "b"])
            )
            out.insert(0, "image_id", img)
            frames.append(out)
    exp_set = set()
    for f in frames:
        exp_set |= set(map(tuple, f[["image_id", "node", "component"]].to_numpy()))
    got_set = set(map(tuple, got[["image_id", "node", "component"]].to_numpy()))
    assert got_set == exp_set


edge_row = st.tuples(
    st.integers(0, 3),  # image_id
    st.integers(0, 12),  # a
    st.integers(0, 12),  # b (shared node space: chains, cycles, self-loops)
)


@settings(max_examples=200, deadline=None)
@given(st.lists(edge_row, min_size=1, max_size=40))
def test_components_block_equals_per_group_union_find(rows):
    block = (
        pd.DataFrame(rows, columns=["image_id", "a", "b"])
        .sort_values(["image_id", "a", "b"])
        .reset_index(drop=True)
    )
    got = components_block(block)
    exp_set = set()
    for img, g in block.groupby("image_id", sort=True):
        out = connected_components(g)
        exp_set |= {(img, n, c) for n, c in zip(out["node"], out["component"])}
    got_set = set(map(tuple, got[["image_id", "node", "component"]].to_numpy()))
    assert got_set == exp_set


@settings(max_examples=200, deadline=None)
@given(st.lists(box_row, min_size=1, max_size=30))
def test_match_from_boxes_block_equals_pairs_then_greedy(rows):
    # duplicate box ids kept: same-id rows must never pair
    block = (
        pd.DataFrame(
            [(i, b, float(lo), float(lo + w)) for i, b, lo, w, _ in rows],
            columns=["image_id", "box_id", "lo", "hi"],
        )
        .sort_values(["image_id", "box_id"], kind="stable")
        .reset_index(drop=True)
    )
    got = match_from_boxes_block(block)
    # reference: explicit candidate pair list -> per-group greedy_match
    exp_set = set()
    for img, g in block.groupby("image_id", sort=True):
        arr = g.to_records(index=False)
        pairs = []
        for i in range(len(arr)):
            for j in range(i + 1, len(arr)):
                if arr[i]["box_id"] == arr[j]["box_id"]:
                    continue
                score = round(
                    iou_1d(arr[i]["lo"], arr[i]["hi"], arr[j]["lo"], arr[j]["hi"]), 6
                )
                if score > 0:
                    a, b = sorted((int(arr[i]["box_id"]), int(arr[j]["box_id"])))
                    pairs.append((a, b, score))
        if pairs:
            out = greedy_match(pd.DataFrame(pairs, columns=["a", "b", "score"]))
            exp_set |= {(img, a, b, s) for a, b, s in out.itertuples(index=False)}
    got_set = set(map(tuple, got[["image_id", "a", "b", "score"]].to_numpy().tolist()))
    assert got_set == exp_set


def test_vectorized_m7_matches_scalar_composition(spark):
    """m7_pose_peaks runs the heat/blur/peak math vectorized across the
    Arrow batch; it must equal the scalar helper composition
    (decode_pixels -> *w % 251 -> blur3 -> find_peaks) applied per image."""
    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.kernels import (
        blur3,
        decode_pixels,
        find_peaks,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    from .conftest import TEST_SF_DIR

    docs = table(spark, TEST_SF_DIR, "documents").select("doc_id", "text").collect()
    expected = set()
    for r in docs:
        base = decode_pixels(r.text.encode("utf-8"), n=32).astype(np.int32)
        for part, w in enumerate([3, 5, 7, 9]):
            heat = ((base * w) % 251).astype(np.uint8)
            for x in find_peaks(blur3(heat), threshold=170):
                expected.add((r.doc_id, part, int(x), round(float(heat[x]) / 255.0, 6)))
    got = {
        (r.doc_id, r.part, r.x, r.score)
        for r in registry()["m7_pose_peaks"].builder(spark, TEST_SF_DIR).collect()
    }
    assert got == expected


def test_vectorized_chain_matches_scalar_composition(spark):
    """k_kernel_chain's batched math must equal the scalar kernel helpers
    composed per image (pad -> resize -> blur -> denoise -> peaks -> crop
    -> mean-subtract)."""
    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.kernels import (
        blur3,
        decode_pixels,
        denoise3,
        find_peaks,
        pad_to_stride,
        resize_half,
    )
    from iii_aibigdata_capstone_spark.queries import registry

    from .conftest import TEST_SF_DIR

    docs = table(spark, TEST_SF_DIR, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        px = decode_pixels(r.text.encode("utf-8"), n=64)
        padded = pad_to_stride(px, stride=8)
        small = resize_half(padded)
        smooth = denoise3(blur3(small))
        peaks = find_peaks(smooth)
        lo, hi = len(smooth) // 4, 3 * len(smooth) // 4
        patch = smooth[lo:hi].astype(np.float64)
        mean = patch.mean()
        expected[r.doc_id] = (
            len(padded),
            len(small),
            int(len(peaks)),
            round(float(mean), 4),
            round(float((patch - mean).min()), 4),
        )
    rows = registry()["k_kernel_chain"].builder(spark, TEST_SF_DIR).collect()
    got = {
        r.doc_id: (r.padded_len, r.resized_len, r.n_peaks, r.patch_mean, r.patch_centered_min)
        for r in rows
    }
    assert got == expected


@given(
    st.lists(st.sampled_from("ab"), min_size=0, max_size=14).map("".join),
    st.sampled_from(["a", "b", "ab", "ba", "aa"]),
    st.sampled_from(["a", "b", "ab", "ba", "aa"]),
)
@settings(max_examples=300, deadline=None)
def test_boundary_replace_equals_greedy_merge_fold(word, left, right):
    """The BPE oracle's core trick: applying one merge to a
    double-separator boundary-delimited symbol string via a single REPLACE
    must equal the greedy left-to-right non-overlapping fold — including
    runs like 'aaaa' (where a single-separator encoding is wrong because
    adjacent matches would share a boundary character). Symbols here are
    arbitrary strings, covering post-merge multi-char symbols."""
    import duckdb

    # fold reference over an arbitrary starting symbolization: chars first,
    # then (to also cover multi-char symbols) the result of a prior merge
    def fold(syms, l, r):
        out = []
        for s in syms:
            if out and out[-1] == l and s == r:
                out[-1] = l + r
            else:
                out.append(s)
        return out

    syms = fold(list(word), "a", "b")  # prior merge 'ab' creates 2-char syms
    want = fold(syms, left, right)

    S = "\x01"
    rep = S + S + "".join(s + S + S for s in syms)
    con = duckdb.connect()
    got_str = con.execute(
        "SELECT REPLACE(?, ?, ?)",
        [rep, S + left + S + S + right + S, S + left + right + S],
    ).fetchone()[0]
    got = [s for s in got_str.split(S + S) if s.strip(S)]
    assert got == want, (word, left, right, got, want)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcdef ", min_size=3, max_size=40), min_size=1, max_size=6
        ),
        min_size=1,
        max_size=5,
    )
)
def test_minhash_signature_matches_python_model(spark, docs_grams):
    """The row-level signature expressions must equal a pure-Python model
    of the affine minhash — md5's first 15 hex chars as a 60-bit int,
    split into 30-bit halves, (a*hlo + b*hhi + c) mod 2^31-1, min over
    the gram set. Pins the Spark expressions (conv/shiftright/bitwiseAND
    and no silent double arithmetic) against the operator definition."""
    import hashlib

    from iii_aibigdata_capstone_spark.operators.dedup import (
        _MINHASH_COEFFS,
        _MINHASH_P,
        minhash_signature_exprs,
    )

    rows = [(i, grams) for i, grams in enumerate(docs_grams)]
    df = spark.createDataFrame(rows, "doc_id long, grams array<string>")
    got = {
        r.doc_id: [r[f"m{i}"] for i in range(len(_MINHASH_COEFFS))]
        for r in df.select("doc_id", *minhash_signature_exprs("grams")).collect()
    }

    def model(grams):
        sigs = []
        for a, b, c in _MINHASH_COEFFS:
            best = None
            for g in grams:
                h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                v = (a * (h & ((1 << 30) - 1)) + b * (h >> 30) + c) % _MINHASH_P
                best = v if best is None else min(best, v)
            sigs.append(best)
        return sigs

    for doc_id, grams in rows:
        assert got[doc_id] == model(grams), doc_id


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=60,
    )
)
def test_driver_union_find_matches_brute_force(pairs):
    """min_label_components (the union-find of the grouped block kernels
    and the small-graph fast path of the size-adaptive CC) must assign
    every node the MIN node id of its connected component, for arbitrary
    pair lists — checked against a brute-force BFS closure."""
    # the engine path feeds both edge directions; mirror that
    edges = pairs + [(b, a) for a, b in pairs]
    got = dict(min_label_components(iter(edges)))

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            n = frontier.pop()
            for m in adj[n]:
                if m not in comp:
                    comp.add(m)
                    frontier.append(m)
        seen |= comp
        lo = min(comp)
        for n in comp:
            want[n] = lo
    assert got == want
