"""Deduplication operators (SURVEY.md §2.12 X1/X2) — the LLM-data-pipeline
lane: exact dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash.

Scale design:
- Exact dedup never uses ``dropDuplicates`` on the raw row (arbitrary
  survivor) — it ranks within the key partition and keeps a deterministic
  survivor, which is also what you want for reproducible corpus builds.
- Near-dup avoids the all-pairs cross join: candidate pairs come from an
  inverted shingle index (join on shingle), so cost is driven by shingle
  collision counts, not n^2. MinHash/LSH is the 100 TB path: constant-size
  signatures, banded buckets, pairs only within buckets.
"""

from __future__ import annotations

from textwrap import dedent
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..registry import QuerySpec, make_registrar
from .grouped import min_label_components

SPECS: list[QuerySpec] = []
query = make_registrar(SPECS)

# Distinct word-3-gram shingles per document, as (doc_id, lang, shingle) rows.
_SHINGLE_SQL_CTE = """
        toks AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t FROM documents
        ),
        shingles AS (
            SELECT DISTINCT doc_id, lang,
                   UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks WHERE LEN(t) >= 3
        )
"""


def shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles of the ``documents`` table — the
    parquet-reading form of ``shingles_of`` (one gram geometry for every
    consumer)."""
    return shingles_of(table(spark, sf_dir, "documents"), n)


def shingles_of(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (exploded rows) over any
    ``(doc_id, lang, text)``-bearing frame — how a COMPOSED pipeline
    shingles an upstream stage's survivors without re-scanning parquet
    (x9_data_factory's near-dup stage feeds its quality+exact survivors).

    The token array is materialized as its own projection first — inlining
    ``split(text)`` into every ``element_at`` of the gram lambda makes
    shingling O(tokens^2) per document (measured 2x slower at sf0.1).
    Like _span_grams, parallelism must come from BEFORE the explode: a
    compact-file corpus (or a one-partition checkpoint) would run all
    gram construction on a single core — the tiny pre-explode repartition
    buys full fan-out for every shingle consumer (Jaccard, clusters,
    incremental ingest)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.select("doc_id", "lang", F.split(F.col("text"), " ").alias("t"))
    t = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + F.lit(k)) for k in range(n)]),
    )
    return (
        toks.where(F.size(t) >= n)
        .select("doc_id", "lang", F.explode(F.array_distinct(grams)).alias("s"))
    )


def sized_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, lang, s, n)`` — hashed distinct shingles with the doc's
    shingle count attached, checkpointed once. ONE definition shared by
    the exact-Jaccard lanes (``x2_ngram_jaccard``'s full inverted index,
    ``x2_prefix_filter_join``'s prefix filter) and their equality test, so
    a hash or n-gram-width change cannot desynchronize the pinned pair.

    Plan-shape choices (measured on x2_ngram_jaccard):
    - join on a 64-bit hash of the shingle (8-byte fixed-width shuffle
      keys instead of ~20-byte 3-grams; xxhash64 collisions ~n^2/2^64 are
      negligible next to the 0.5 cutoff);
    - attach |doc| shingle counts as a window count BEFORE any self-join
      instead of joining a separate sizes aggregate afterwards;
    - checkpoint: exchange reuse does NOT kick in for two self-join sides
      (verified on the executed plan), so without the boundary the
      explode+window pipeline runs once per consumer (2.3s -> 1.6s at
      sf0.1)."""
    w = Window.partitionBy("doc_id")
    return (
        shingles(spark, sf_dir, n=3)
        .select("doc_id", "lang", F.xxhash64(F.col("s")).alias("s"))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .localCheckpoint(eager=False)
    )


def _emit_jaccard(inter: DataFrame) -> DataFrame:
    """The shared tail of the exact-Jaccard lanes: jaccard from an
    ``(doc_a, doc_b, na, nb, i)`` intersection-count frame, thresholded at
    0.5, ROUND(..., 6) out."""
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return inter.where(jac >= 0.5).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@query(
    "x1_exact_dedup",
    oracle=dedent(
        """
        SELECT event_id, user_id, event_type FROM (
            SELECT event_id, user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
        """
    ),
    tags=("X1",),
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic survivor: first event per
    (user_id, event_type) by (ts, event_id). One shuffle on the dedup key;
    at scale this is the reproducible form of ``dropDuplicates``.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
    )


@query(
    "x1_content_hash_dedup",
    oracle=dedent(
        """
        SELECT MD5(text) AS content_hash,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY MD5(text)
        """
    ),
    tags=("X1",),
)
def x1_content_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash exact dedup — the standard first pass of an LLM corpus
    pipeline: hash the document body, keep the smallest doc_id per hash.
    Grouping on the 128-bit hash instead of the body keeps shuffle rows
    tiny regardless of document size.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "x1_incremental_ingest",
    oracle=dedent(
        f"""
        WITH idx AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
        batch AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
        fresh AS (
            SELECT b.* FROM batch b
            ANTI JOIN idx i ON MD5(b.text) = MD5(i.text)
        ),
        {_SHINGLE_SQL_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT b.doc_id AS bd, i.doc_id AS idd, COUNT(*) AS c
            FROM shingles b JOIN shingles i
              ON b.s = i.s AND b.lang = i.lang
             AND b.doc_id % 5 = 4 AND i.doc_id % 5 <> 4
            GROUP BY 1, 2
        ),
        neardup AS (
            SELECT DISTINCT inter.bd FROM inter
            JOIN sizes sb ON sb.doc_id = inter.bd
            JOIN sizes si ON si.doc_id = inter.idd
            WHERE c * 1.0 / (sb.n + si.n - c) >= 0.5
        )
        SELECT f.doc_id, f.lang, f.n_chars FROM fresh f
        ANTI JOIN neardup nd ON f.doc_id = nd.bd
        """
    ),
    tags=("X1", "X2", "incremental"),
)
def x1_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the shape production corpus pipelines
    actually run: a NEW BATCH (here docs with doc_id % 5 == 4) is admitted
    against an already-INDEXED corpus (the rest), not deduped in isolation.
    Two stages, both batch-vs-index (never index-vs-index — the whole point
    of incrementality is that the 100 TB index is only ever probed):

    1. exact: anti join on the content hash — shuffles 16-byte hashes,
       never text;
    2. near-dup: inverted-shingle join restricted to batch-side x
       index-side shingle hits, Jaccard >= 0.5 flags, anti join back.

    One shingle table serves both sides (computed once, checkpointed, side
    selected by predicate), so at scale the index's shingle explode is the
    pre-built inverted index a real pipeline would persist; per-batch cost
    is proportional to the BATCH, not the corpus. Output: admitted batch
    docs."""
    docs = table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    batch = docs.where(is_batch)
    idx = docs.where(~is_batch)
    fresh = batch.alias("b").join(
        idx.select(F.md5("text").alias("h")).distinct(),
        F.md5(F.col("b.text")) == F.col("h"),
        "left_anti",
    )
    sh = shingles(spark, sf_dir).localCheckpoint(eager=False)  # both sides + sizes
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.where(is_batch)
        .alias("sb")
        .join(
            sh.where(~is_batch).alias("si"),
            (F.col("sb.s") == F.col("si.s")) & (F.col("sb.lang") == F.col("si.lang")),
        )
        .groupBy(
            F.col("sb.doc_id").alias("bd"), F.col("si.doc_id").alias("idd")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    neardup = (
        inter.join(sizes.withColumnRenamed("doc_id", "bd"), "bd")
        .withColumnRenamed("n", "nb")
        .join(
            sizes.select(F.col("doc_id").alias("idd"), F.col("n").alias("ni")), "idd"
        )
        .where(F.col("c") / (F.col("nb") + F.col("ni") - F.col("c")) >= 0.5)
        .select("bd")
        .distinct()
    )
    return fresh.join(
        neardup, fresh["doc_id"] == neardup["bd"], "left_anti"
    ).select("doc_id", "lang", "n_chars")


@query(
    "x2_ngram_jaccard",
    oracle=dedent(
        f"""
        WITH {_SHINGLE_SQL_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM shingles a JOIN shingles b
              ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
        """
    ),
    tags=("X2",),
)
def x2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup detection via an inverted shingle
    index: explode distinct 3-gram shingles, equi-join on shingle (banded
    by lang), count shared shingles, Jaccard = |A∩B| / (|A|+|B|-|A∩B|).

    No all-pairs cross join — candidate pairs only materialize for
    documents that share at least one shingle, which is the property that
    keeps this viable on a large corpus (common-shingle hotspots would be
    handled by dropping top-frequency shingles; not needed at this SF).
    """
    # Plan-shape rationale lives on the shared prelude: sized_shingles.
    sh = sized_shingles(spark, sf_dir)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _emit_jaccard(inter)


N_MINHASH_SEEDS = 16
N_MINHASH_BANDS = 4  # 4 bands x 4 rows: candidate iff all 4 row-mins match


# Affine minhash coefficients: mh_i(h) = (a_i*hlo + b_i*hhi + c_i) mod P
# over the split halves of a 60-bit shingle hash. a,b < 2^30 and hlo,hhi
# < 2^30 keep every intermediate below 2^62 — no BIGINT overflow in either
# engine, so Spark and DuckDB compute bit-identical signatures. Fixed seed:
# the coefficients are part of the operator definition.
_MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_MINHASH_COEFFS: list[tuple[int, int, int]] = []


def _init_minhash_coeffs() -> None:
    import random

    rng = random.Random(0x5EED_24)
    for _ in range(N_MINHASH_SEEDS):
        _MINHASH_COEFFS.append(
            (rng.randrange(1, 1 << 30), rng.randrange(1, 1 << 30), rng.randrange(_MINHASH_P))
        )


_init_minhash_coeffs()

_MINHASH_MIN_SQL = ",\n               ".join(
    f"MIN(({a}*hlo + {b}*hhi + {c}) % {_MINHASH_P}) AS m{i}"
    for i, (a, b, c) in enumerate(_MINHASH_COEFFS)
)


def _minhash_band_keys(sep: str) -> list[str]:
    """Band j's key = the concatenated mins of seeds {i : i mod bands = j}."""
    return [
        sep.join(f"m{i}" for i in range(N_MINHASH_SEEDS) if i % N_MINHASH_BANDS == j)
        for j in range(N_MINHASH_BANDS)
    ]


def minhash_signature_exprs(grams_col: str = "grams") -> list[F.Column]:
    """One minhash signature value per seed as ROW-LEVEL expressions over a
    word-gram ARRAY column — ``array_min`` over the affine transform of
    each gram's 60-bit md5 parse. Row-level (vs the groupBy-of-exploded-
    shingles form in ``_minhash_verified_pairs``) means the signature
    composes with a downstream stateful streaming stage: Structured
    Streaming allows only one stateful operator per query, and this keeps
    the signature stage stateless. Identical values to the batch form —
    min over the same multiset."""
    g = F.col(grams_col)

    def _mins(a: int, b: int, c: int) -> F.Column:
        def per_gram(x: F.Column) -> F.Column:
            h = F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
            return (
                F.lit(a) * h.bitwiseAND(F.lit((1 << 30) - 1))
                + F.lit(b) * F.shiftright(h, 30)
                + F.lit(c)
            ) % _MINHASH_P

        return F.array_min(F.transform(g, per_gram))

    return [
        _mins(a, b, c).alias(f"m{i}") for i, (a, b, c) in enumerate(_MINHASH_COEFFS)
    ]


# DuckDB band-key list for `UNNEST([...]) AS bkey`, zipped with
# UNNEST(RANGE(0, bands)) AS band.
_MINHASH_BKEY_SQL = ", ".join(
    "||'|'||".join(
        f"m{i}::VARCHAR" for i in range(N_MINHASH_SEEDS) if i % N_MINHASH_BANDS == j
    )
    for j in range(N_MINHASH_BANDS)
)


@query(
    "x2_minhash_banded",
    oracle=dedent(
        f"""
        WITH {_SHINGLE_SQL_CTE},
        hashed AS (
            SELECT doc_id, lang,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % 1073741824 AS hlo,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) // 1073741824 AS hhi,
                   s
            FROM shingles
        ),
        mins AS (
            SELECT doc_id, lang,
               {_MINHASH_MIN_SQL}
            FROM hashed GROUP BY 1, 2
        ),
        bk AS (
            SELECT doc_id, lang,
                   UNNEST(RANGE(0, {N_MINHASH_BANDS})) AS band,
                   UNNEST([{_MINHASH_BKEY_SQL}]) AS bkey
            FROM mins
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS i
            FROM cand c
            JOIN shingles x ON x.doc_id = c.doc_a AND x.lang = c.lang
            JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s AND y.lang = c.lang
            GROUP BY 1, 2
        )
        SELECT i.doc_a, i.doc_b,
               ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        """
    ),
    tags=("X2", "lsh", "minhash"),
)
def x2_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH with a FULL DuckDB oracle — the deterministic
    complement to ``x2_minhash_lsh`` (MLlib's hash family is seeded JVM
    state, so that one is rows-only). Each shingle is hashed ONCE
    (first 15 md5 hex chars as a 60-bit int — the engine-neutral parse
    both engines agree on), then all {N_MINHASH_SEEDS} signatures are
    affine transforms ``(a*hlo + b*hhi + c) mod 2^31-1`` of that hash's
    two 30-bit halves, computed as {N_MINHASH_SEEDS} MIN columns in ONE
    aggregation. The r2 version md5-hashed every (shingle, seed) pair
    behind a {N_MINHASH_SEEDS}x row explode — {N_MINHASH_SEEDS}x the hash
    work and shuffle rows for identical LSH semantics (3.6s -> 1.8s at
    sf0.1).
    Classic banding: {N_MINHASH_BANDS} bands of
    {N_MINHASH_SEEDS // N_MINHASH_BANDS}; docs are candidates iff some
    band's row-mins all agree (band key = concatenated mins — an
    equality, so candidates surface from a plain hash join on (lang,
    band, key), never a pairwise scan); candidates are then verified with
    EXACT Jaccard over the shingle index, so banding only affects recall,
    never the precision of emitted pairs. Scale shape: per-doc state is
    {N_MINHASH_SEEDS} ints regardless of document length; the mins are
    map-side combinable; exact verification touches only candidate
    pairs."""
    sh = shingles(spark, sf_dir).localCheckpoint(
        eager=False
    )  # consumed thrice: minhash, sizes, exact verify
    return _minhash_verified_pairs(sh)


@query(
    "x2_dedup_eval",
    oracle=dedent(
        f"""
        WITH {_SHINGLE_SQL_CTE},
        hashed AS (
            SELECT doc_id, lang,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % 1073741824 AS hlo,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) // 1073741824 AS hhi
            FROM shingles
        ),
        mins AS (
            SELECT doc_id, lang,
               {_MINHASH_MIN_SQL}
            FROM hashed GROUP BY 1, 2
        ),
        bk AS (
            SELECT doc_id, lang,
                   UNNEST(RANGE(0, {N_MINHASH_BANDS})) AS band,
                   UNNEST([{_MINHASH_BKEY_SQL}]) AS bkey
            FROM mins
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
        ),
        sizes AS MATERIALIZED (
            SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
        ),
        cand_inter AS (
            SELECT c.doc_a, c.doc_b, c.lang, COUNT(*) AS i
            FROM cand c
            JOIN shingles x ON x.doc_id = c.doc_a AND x.lang = c.lang
            JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s AND y.lang = c.lang
            GROUP BY 1, 2, 3
        ),
        verified AS (
            SELECT i.doc_a, i.doc_b, i.lang FROM cand_inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        ),
        true_inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang, COUNT(*) AS i
            FROM shingles a JOIN shingles b
              ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3
        ),
        true_pairs AS (
            SELECT i.doc_a, i.doc_b, i.lang FROM true_inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        ),
        t_agg AS (SELECT lang, COUNT(*) AS n_true_pairs FROM true_pairs GROUP BY lang),
        c_agg AS (SELECT lang, COUNT(*) AS n_candidates FROM cand GROUP BY lang),
        v_agg AS (SELECT lang, COUNT(*) AS n_verified FROM verified GROUP BY lang)
        SELECT COALESCE(t.lang, c.lang) AS lang,
               COALESCE(t.n_true_pairs, 0) AS n_true_pairs,
               COALESCE(c.n_candidates, 0) AS n_candidates,
               COALESCE(v.n_verified, 0) AS n_verified,
               CASE WHEN t.n_true_pairs > 0
                    THEN 1000000 * COALESCE(v.n_verified, 0) // t.n_true_pairs
               END AS recall_micro,
               CASE WHEN c.n_candidates > 0
                    THEN 1000000 * COALESCE(v.n_verified, 0) // c.n_candidates
               END AS cand_precision_micro
        FROM t_agg t
        FULL OUTER JOIN c_agg c ON c.lang = t.lang
        LEFT JOIN v_agg v ON v.lang = COALESCE(t.lang, c.lang)
        """
    ),
    tags=("X2", "X5", "eval", "lsh"),
)
def x2_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation — the detect -> evaluate pair for the dedup
    family (the x3_ann_eval / x10_modularity pattern): per language,
    banded-MinHash recall measured against the GROUND-TRUTH exact-Jaccard
    >= 0.5 pair set (the x2_ngram_jaccard inverted-index spelling), plus
    the candidate-verification yield. Verified pairs are a SUBSET of true
    pairs by construction (verification is exact on the same shingles),
    so recall = n_verified / n_true needs no pair-level hit join; both
    metrics are integer division on counts (no float reaches the hash).

    This is the lane that makes the banding knobs honest: with
    N_MINHASH_SEEDS=16 / N_MINHASH_BANDS=4, a pair at Jaccard exactly 0.5
    collides in some band with probability ~0.23, rising steeply toward 1
    for near-identical docs — the per-lang recall reported here is the
    measured operating point of every LSH dedup lane in the repo on this
    corpus (near-dups in the synthetic corpus sit close to 1.0 Jaccard,
    so measured recall is high; a corpus with borderline pairs would show
    the 0.23 floor, which is exactly what this evaluation is FOR).

    Scale shape: ONE checkpointed shingle table (raw grams for the
    md5-minhash bands AND the ground-truth self-join — the truth lane is
    exact on the gram strings themselves, never through a hash, so the
    n^2/2^64 xxhash64-collision caveat the detection/verify joins
    document cannot contaminate the denominator recall is defined
    against; the xxhash64 column keys the candidate/VERIFY equality
    joins — the sized_shingles lesson, 8-byte shuffle keys where the
    join grades the detection spelling) feeds every consumer; per-doc sizes
    are ONE checkpointed aggregation shared by the ground-truth frame
    (joined back onto the raw-gram shingle projection) and the verify
    (passed as its
    precomputed ``sizes``); the verify itself IS ``exact_jaccard_verify``
    — the spelling every detection lane runs — with ``emit_lang`` for
    the breakdown; every join is an equi join; the aggregates are
    per-lang counts (constant output). The ground-truth lane is the
    quadratic-in-hotspot inverted index — on a real 100 TB corpus this
    EVALUATION runs on a sampled slice (the estimator pattern), while
    the detection lanes it grades stay banded; at test SF the full
    corpus is the slice."""
    sh = (
        shingles(spark, sf_dir)
        .withColumn("h", F.xxhash64("s"))
        .localCheckpoint(eager=False)
    )  # raw s -> minhash bands; h -> every equality join below
    hview = sh.select("doc_id", "lang", F.col("h").alias("s"))
    # ONE sizes aggregation serves the ground-truth frame AND the shared
    # verify (passed as its precomputed `sizes` — the eval grades the
    # SAME exact_jaccard_verify spelling every detection lane runs)
    sizes = (
        hview.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    # the TRUTH lane joins RAW grams: it is the lane the recall metric's
    # exactness is defined against, so it must not inherit the n^2/2^64
    # xxhash64-collision caveat the detection/verify lanes carry (ADVICE
    # r10 — a collision here would silently inflate the ground-truth
    # intersection counts the whole evaluation is graded against); the
    # 8-byte hashed keys stay on the candidate/verify joins, which grade
    # the real detection spelling. Exchange reuse does not cover the two
    # self-join sides (the x2_ngram_jaccard / sized_shingles lesson) —
    # materialize the sized table once instead of re-deriving it per side
    sized = (
        sh.select("doc_id", "lang", "s")
        .join(sizes, "doc_id")
        .localCheckpoint(eager=False)
    )
    a, b = sized.alias("a"), sized.alias("b")
    true_pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .where(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")) >= 0.5)
        .select("doc_a", "doc_b", "lang")
    )
    cand = minhash_candidates(sh).distinct().localCheckpoint(
        eager=False
    )  # counted per lang + the verify's candidate side
    # the verify IS exact_jaccard_verify — the one spelling every
    # detection lane runs, so the evaluation grades the real thing; the
    # precomputed `sizes` and emit_lang keep the eval's extra needs out
    # of the detection lanes' plans
    verified = exact_jaccard_verify(
        cand, hview, sizes=sizes, emit_lang=True
    ).select("doc_a", "doc_b", "lang")
    t_agg = true_pairs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_true_pairs"))
    c_agg = cand.groupBy("lang").agg(F.count(F.lit(1)).alias("n_candidates"))
    v_agg = verified.groupBy("lang").agg(F.count(F.lit(1)).alias("n_verified"))
    joined = (
        t_agg.alias("t")
        .join(c_agg.alias("c"), F.col("t.lang") == F.col("c.lang"), "full_outer")
        .select(
            F.coalesce(F.col("t.lang"), F.col("c.lang")).alias("lang"),
            F.coalesce(F.col("n_true_pairs"), F.lit(0)).alias("n_true_pairs"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
        )
        .join(v_agg, "lang", "left")
        .select(
            "lang",
            "n_true_pairs",
            "n_candidates",
            F.coalesce(F.col("n_verified"), F.lit(0)).alias("n_verified"),
        )
    )
    return joined.select(
        "lang",
        "n_true_pairs",
        "n_candidates",
        "n_verified",
        F.expr(
            "CASE WHEN n_true_pairs > 0"
            " THEN 1000000 * n_verified DIV n_true_pairs END"
        ).alias("recall_micro"),
        F.expr(
            "CASE WHEN n_candidates > 0"
            " THEN 1000000 * n_verified DIV n_candidates END"
        ).alias("cand_precision_micro"),
    )


def _minhash_band_table(sh: DataFrame) -> DataFrame:
    """(doc_id, lang, band, bkey) banded-minhash LSH keys over a
    ``(doc_id, lang, s)`` shingle table — each shingle hashed once, all
    {N_MINHASH_SEEDS} signatures as MIN columns in one aggregation, band
    keys via stack. This IS the persisted LSH index of a production
    pipeline: {N_MINHASH_BANDS} short rows per doc, regardless of length."""
    h = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
    mins = (
        sh.select(
            "doc_id",
            "lang",
            h.bitwiseAND(F.lit((1 << 30) - 1)).alias("hlo"),
            F.shiftright(h, 30).alias("hhi"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            *[
                F.min((F.lit(a) * F.col("hlo") + F.lit(b) * F.col("hhi") + F.lit(c)) % _MINHASH_P).alias(f"m{i}")
                for i, (a, b, c) in enumerate(_MINHASH_COEFFS)
            ]
        )
    )
    stack_args = ", ".join(
        f"{j}, concat_ws('|', {key})" for j, key in enumerate(_minhash_band_keys(", "))
    )
    return mins.selectExpr(
        "doc_id", "lang", f"stack({N_MINHASH_BANDS}, {stack_args}) AS (band, bkey)"
    )


def band_self_candidates(bk: DataFrame) -> DataFrame:
    """``(doc_a, doc_b, lang)`` candidate pairs from a band table
    ``(doc_id, lang, band, bkey)``: the (lang, band, bkey) self-equi-join
    with the doc_a < doc_b orientation — THE one Spark spelling of the
    banded candidate rule (review r12: the compaction lane had inlined a
    second copy of the predicate), consumed by ``minhash_candidates``
    (fresh band table from shingles) and ``x1_ingest_compaction`` (the
    ingest index's STORED band checkpoints). NOT deduplicated: a pair
    colliding in k bands appears k times (``exact_jaccard_verify`` folds
    the duplicates in its own distinct; a consumer counting DISTINCT
    pairs applies ``.distinct()`` itself)."""
    return (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
        )
    )


def minhash_candidates(sh: DataFrame) -> DataFrame:
    """``(doc_a, doc_b, lang)`` banded-minhash candidate pairs over a
    ``(doc_id, lang, s)`` shingle table — the candidate-generation half
    of ``_minhash_verified_pairs``, exposed so the dedup-eval lane can
    count candidates with the SAME spelling the detection lanes use:
    ``band_self_candidates`` over a fresh ``_minhash_band_table``."""
    return band_self_candidates(_minhash_band_table(sh))


def _minhash_verified_pairs(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs from banded-minhash candidates over a
    ``(doc_id, lang, s)`` shingle table, verified with exact Jaccard >=
    ``threshold``. Shared by the standalone query and the end-to-end
    fuzzy-dedup pipeline."""
    return exact_jaccard_verify(minhash_candidates(sh), sh, threshold)


def exact_jaccard_verify(
    cand: DataFrame,
    sh: DataFrame,
    threshold: float = 0.5,
    sizes: DataFrame | None = None,
    emit_lang: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(doc_a, doc_b, lang)``
    pairs against a ``(doc_id, lang, s)`` shingle table: intersection via
    the inverted-index equi joins, sizes from one aggregation, emit pairs
    at ``jaccard >= threshold`` as ``(doc_a, doc_b, jaccard)`` (plus
    ``lang`` when ``emit_lang`` — the evaluation lane's breakdown key;
    pairs are same-lang by construction so lang rides the group-by for
    free). ONE definition shared by the batch LSH query, the streaming
    lane's foreachBatch verify, the ingest-admission twins, and the
    x2_dedup_eval grader — the stream==batch equality AND the
    detect==evaluate contracts depend on every lane verifying
    identically. Pass ``sizes`` (``(doc_id, n)`` per-doc shingle counts)
    when they are already materialized — an incremental consumer (the
    IngestIndex) MUST, or every micro-batch re-aggregates the whole
    resident corpus shingle table just to recount sizes."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.select("doc_a", "doc_b", "lang")
        .distinct()
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), "lang", "s"), ["doc_a", "lang"]
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "lang", "s"), ["doc_b", "lang", "s"]
        )
        .groupBy("doc_a", "doc_b", "lang")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    out = ["doc_a", "doc_b", F.round(jac, 6).alias("jaccard")]
    if emit_lang:
        out.append("lang")
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .where(jac >= threshold)
        .select(*out)
    )


@query(
    "x1_minhash_ingest",
    oracle=dedent(
        """
        WITH idx AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
        batch AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
        fresh AS (
            SELECT b.* FROM batch b
            ANTI JOIN idx i ON MD5(b.text) = MD5(i.text)
        ),
        {shingle_cte},
        hashed AS (
            SELECT doc_id, lang,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % 1073741824 AS hlo,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) // 1073741824 AS hhi
            FROM shingles
        ),
        mins AS (
            SELECT doc_id, lang,
               {minhash_min_sql}
            FROM hashed GROUP BY 1, 2
        ),
        bk AS (
            SELECT doc_id, lang,
                   UNNEST(RANGE(0, {n_bands})) AS band,
                   UNNEST([{bkey_sql}]) AS bkey
            FROM mins
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS i
            FROM cand c
            JOIN shingles x ON x.doc_id = c.doc_a AND x.lang = c.lang
            JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s AND y.lang = c.lang
            GROUP BY 1, 2
        ),
        neardup AS (
            SELECT DISTINCT i.doc_a FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        )
        SELECT f.doc_id, f.lang, f.n_chars FROM fresh f
        ANTI JOIN neardup nd ON f.doc_id = nd.doc_a
        """
    ).format(
        shingle_cte=_SHINGLE_SQL_CTE,
        minhash_min_sql=_MINHASH_MIN_SQL,
        n_bands=N_MINHASH_BANDS,
        bkey_sql=_MINHASH_BKEY_SQL,
    ),
    tags=("X1", "X2", "incremental", "minhash", "lsh"),
)
def x1_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest against a BANDED MINHASH index — the batch twin
    of the streaming near-dup lane (streaming/neardup.py) and the scale
    path of ``x1_incremental_ingest``: where that query probes the index
    through the full inverted-shingle join (per-batch fan-out grows with
    shingle hotspots), this one probes via N_MINHASH_BANDS constant-size
    band keys per document — exactly the state the streaming lane keeps per
    bucket, and exactly the persisted LSH index a production corpus keeps
    warm between ingests.

    Stages: (1) exact anti join on the content hash; (2) batch-side band
    keys equi-join INDEX-side band keys on (lang, band, key) — never
    index-vs-index, so per-batch probe cost is O(batch x bands) rows
    against a hash-partitioned index; (3) candidates verified with EXACT
    Jaccard >= 0.5 over the shingle index (banding affects only recall,
    never emitted-pair precision — the same contract as
    ``x2_minhash_banded``); (4) flagged batch docs anti-joined away.
    Output: admitted batch docs, same shape as ``x1_incremental_ingest``
    (at this SF the two admit the same set iff banding recalls every
    >= 0.5 pair; the LSH variant may admit a superset on recall misses —
    both are hash-checked independently)."""
    docs = table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    index = minhash_ingest_index(docs.where(~is_batch))
    return ingest_admit(index, docs.where(is_batch))


class IngestIndex(NamedTuple):
    """The persisted dedup index an incremental ingest probes — the
    x1_minhash_ingest analog of serving's RagIndex. Every member is
    localCheckpoint'd by ``minhash_ingest_index`` so per-batch admission
    re-scans NO corpus parquet (a lazy member would re-derive its corpus
    aggregation per micro-batch — the r9 serving lesson).

    - ``hashes``: distinct md5(text) of resident docs (the exact gate);
    - ``bands``: the (doc_id, lang, band, bkey) banded-minhash LSH index
      (_minhash_band_table — N_MINHASH_BANDS short rows per doc);
    - ``sh``: the resident (doc_id, lang, s) shingle table (the exact
      Jaccard verify side);
    - ``sizes``: the resident per-doc shingle counts — PRECOMPUTED so a
      micro-batch never re-aggregates the corpus shingle table just to
      recount sizes (a per-batch cost that would scale with the RESIDENT
      corpus, not the batch)."""

    hashes: DataFrame
    bands: DataFrame
    sh: DataFrame
    sizes: DataFrame


def minhash_ingest_index(docs: DataFrame) -> IngestIndex:
    """Build the ingest index over the resident corpus (ONE pass per
    member, each checkpointed). Index evolution = rebuild, like RagIndex:
    the batch lane and the streaming twin both serve against a FIXED
    index, which is exactly why their outputs agree across arrival splits
    (batch-vs-batch pairs are out of contract in both lanes)."""
    hashes = (
        docs.select(F.md5("text").alias("h")).distinct().localCheckpoint(eager=False)
    )
    sh = shingles_of(docs).localCheckpoint(eager=False)  # bands + verify
    bands = _minhash_band_table(sh).localCheckpoint(eager=False)
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    return IngestIndex(hashes=hashes, bands=bands, sh=sh, sizes=sizes)


def ingest_index_save(index: IngestIndex, path: str, **kw) -> None:
    """Persist the dedup ingest index to ``path`` (one parquet directory
    per member — the index_store layout): the warm store the IngestIndex
    docstrings have pointed at since r10 ("a deployment hash-partitions
    the persisted index by doc_id"), made real (r12 verdict ask #1). The
    streaming trigger (streaming/ingest.py ``compact_every``) calls
    exactly this for the resident base snapshot and for each O(delta)
    flush of the members folded since the previous one, and
    ``ingest_store_compact`` calls it to write base+deltas back as ONE
    snapshot — the LSM segment flush and compaction. At 100 TB the
    write would add ``partitionBy`` on doc_id (shingles/sizes/bands) so
    the admission verify's resident semi-join prunes by partition."""
    from .index_store import index_save

    index_save(index, path, **kw)


def ingest_index_load(spark: SparkSession, path: str, **kw) -> IngestIndex:
    """Load a persisted ingest index from ``path``. Members come back
    checkpointed (store parquet scanned once, corpus parquet never), and
    ``ingest_admit`` / ``ingest_admit_fold`` against the loaded index
    admit exactly what they admit against the index it was saved from —
    the fold invariant extends across the save/load boundary because
    every member is a pure per-doc function of the resident set (pinned,
    including from a FRESH JVM and across a mid-stream restart, by
    tests/test_index_store.py and tests/test_streaming.py)."""
    from .index_store import index_load

    return index_load(spark, path, IngestIndex, **kw)


def ingest_admit(index: IngestIndex, batch: DataFrame) -> DataFrame:
    """Admit the batch docs that are neither exact nor >= 0.5-Jaccard
    near-dups of INDEX residents — the ONE spelling of the admission
    dataflow, shared verbatim by batch ``x1_minhash_ingest`` and the
    foreachBatch streaming twin (streaming/ingest.py), so the
    stream==batch equality cannot drift. ``batch`` needs columns
    ``doc_id, lang, text, n_chars``; emits ``(doc_id, lang, n_chars)``
    admitted rows. Stages: exact anti join on the content hash; batch
    band keys equi-join the index bands on (lang, band, bkey) — probe
    cost O(batch x bands) rows, never index-vs-index; candidates
    verified with EXACT Jaccard (sizes come PRECOMPUTED from the index +
    one batch-side count, and the resident shingle side is semi-joined
    to candidate doc ids first — per-batch aggregation and intersection
    work scales with the CANDIDATE set; the semi-join's one pass over
    the checkpointed resident shingles is the remaining per-batch cost,
    pruned by partition when the persisted index is hash-partitioned by
    doc_id); flagged docs anti-joined away.

    ID-NAMESPACE CONTRACT (the serving.py rag_serve precedent): arrival
    doc_ids must be unique within the batch AND disjoint from resident
    index ids — the exact-Jaccard verify groups the UNION shingle table
    by doc_id, so a collision (an at-least-once source redelivering a
    changed doc under a resident id, or one id twice in a batch) merges
    two documents' shingle sets and silently corrupts sizes and
    intersections. An external ingest source must allocate fresh ids (or
    dedupe redeliveries) upstream; the registered x1_minhash_ingest
    split (doc_id % 5) satisfies this by construction."""
    return _admit_parts(index, batch)[0]


def _admit_parts(
    index: IngestIndex, batch: DataFrame, keep: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The admission dataflow with its batch-side artifacts exposed:
    ``(admitted, bsh, bbands, bsizes)``. ``ingest_admit`` consumes only
    the admitted frame; ``ingest_admit_fold`` passes ``keep=True`` and
    also semi-joins the batch shingles / band keys / sizes down to the
    admitted ids to build its index delta — REUSING the work admission
    already paid instead of re-shingling and re-minhashing the admitted
    docs (review r11: the recompute roughly doubled the per-batch
    shingling CPU on the hot ingest path). ``keep`` adds checkpoints on
    bbands/bsizes (they gain a second consumer under the fold; a plain
    admission keeps them single-consumer and un-materialized). All three
    artifacts are pure per-document functions, so the semi-joined slices
    are row-identical to what ``minhash_ingest_index`` would build over
    the admitted docs — the fold invariant is unchanged. Under ``keep``
    the admitted frame also carries ``h`` = md5(text) (one cheap
    expression over rows admission already holds), so the fold's hash
    delta is a projection of the admitted checkpoint instead of a
    re-read + re-hash of the batch source (review r12: the fourth
    per-stage semi-join, gone)."""
    fresh = batch.alias("b").join(
        index.hashes, F.md5(F.col("b.text")) == F.col("h"), "left_anti"
    )
    bsh = shingles_of(batch).localCheckpoint(
        eager=False
    )  # bands + verify (+ the fold's delta slice)
    bbands = _minhash_band_table(bsh)  # probe side (+ fold delta when keep)
    if keep:
        bbands = bbands.localCheckpoint(eager=False)
    cand = (
        bbands.alias("sb")
        .join(
            index.bands.alias("si"),
            (F.col("sb.lang") == F.col("si.lang"))
            & (F.col("sb.band") == F.col("si.band"))
            & (F.col("sb.bkey") == F.col("si.bkey")),
        )
        .select(
            F.col("sb.doc_id").alias("doc_a"),
            F.col("si.doc_id").alias("doc_b"),
            F.col("sb.lang").alias("lang"),
        )
    )
    # consumed twice: the verify's cand side + the resident semi-join key
    cand = cand.localCheckpoint(eager=False)
    # only CANDIDATE residents' shingles enter the verify (semi-join the
    # checkpointed index side down to candidate doc_b ids), and sizes are
    # the index's precomputed counts + one batch-side count — per-batch
    # AGGREGATION/JOIN work scales with the candidate set, not the
    # resident corpus; the semi-join itself still reads the checkpointed
    # resident shingles once per batch (a deployment hash-partitions the
    # persisted index by doc_id so that pass prunes by partition)
    res_sh = index.sh.join(
        cand.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    bsizes = bsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if keep:
        bsizes = bsizes.localCheckpoint(eager=False)  # + the fold's delta slice
    flagged = (
        exact_jaccard_verify(
            cand,
            bsh.unionByName(res_sh),
            sizes=bsizes.unionByName(index.sizes),
        )
        .select("doc_a")
        .distinct()
    )
    cols = ["doc_id", "lang", "n_chars"]
    if keep:
        cols.append(F.md5(F.col("text")).alias("h"))
    admitted = fresh.join(
        flagged, fresh["doc_id"] == flagged["doc_a"], "left_anti"
    ).select(*cols)
    return admitted, bsh, bbands, bsizes


def ingest_admit_fold(
    index: IngestIndex, batch: DataFrame, eager: bool = False
) -> tuple[DataFrame, IngestIndex]:
    """Admit the batch through the shared admission dataflow, then FOLD
    the admitted documents back into the index — the GROWING ingest the
    r10 verdict asked for: arrivals now dedup against every earlier
    arrival, not just the original residents (the semantics a 100 TB
    ingest actually needs). Returns ``(admitted, grown_index)``.

    Fold = member-wise union with a DELTA sliced from the batch-side
    artifacts admission already computed (``_admit_parts``: shingles,
    band keys, sizes — each semi-joined down to the admitted ids; the
    md5 hashes ride the admitted checkpoint itself, so the hash delta is
    a projection, not a batch re-read).
    Because every index member is a pure per-document function, the
    grown index is row-identical to ``minhash_ingest_index(resident
    UNION admitted-so-far)`` — the invariant the sequential-prefix batch
    fold and the streaming twin's restart recovery both rest on
    (same-text admitted docs collapse to one hash row in either
    construction; the slices cost NO re-shingling, review r11).

    ``eager`` controls WHEN the admitted frame and delta slices
    materialize. The batch lane leaves them lazy (one action pulls the
    whole fold chain). A STREAMING caller must pass ``eager=True``: the
    delta's lineage roots in the micro-batch DataFrame, and a lazy
    checkpoint would first materialize during the NEXT batch's admission
    — re-reading the PREVIOUS batch's source outside its micro-batch,
    which breaks on non-replayable sources (cleaned/archived files,
    Kafka past retention) and silently re-pays the prior batch's scan
    one batch late (review r11; pinned by
    tests/test_streaming.py::test_growing_fold_eager_survives_source_loss).

    Scale shape (the LSM pattern): per batch, the only NEW materialization
    is the delta — O(admitted) rows per member — while the union is
    metadata-only (no resident rows are rewritten; a rebuild-per-batch
    would copy the corpus). The member lineage grows by one delta per
    micro-batch; a long-lived deployment persists deltas to the
    hash-partitioned index store and compacts them, exactly like any
    LSM/segment index. The per-batch PROBE cost is unchanged from
    ``ingest_admit``: O(batch x bands) band-key rows against the (now
    base+delta) index, candidates-only verify.

    GRANULARITY CONTRACT: the fold happens per batch, so documents inside
    the SAME batch still do not dedup against each other (exactly the
    sequential-prefix semantics — the prefix is all STRICTLY EARLIER
    batches). A within-batch pair is the stateful cross-batch lane's job
    (streaming/neardup.py) or the next compaction's. The ID-NAMESPACE
    contract of ``ingest_admit`` extends across batches: arrival ids must
    be disjoint from residents AND every earlier arrival."""
    admitted, delta = ingest_admit_fold_delta(index, batch, eager=eager)
    return admitted, ingest_union(index, delta)


def ingest_union(index: IngestIndex, delta: IngestIndex) -> IngestIndex:
    """Member-wise union — THE one spelling of composing an IngestIndex
    with a delta (or a base segment with persisted delta segments:
    ``streaming/ingest.ingest_store_load``). Metadata-only: no resident
    rows are rewritten, the LSM fold's defining property."""
    return IngestIndex(*(a.unionByName(b) for a, b in zip(index, delta)))


def ingest_admit_fold_delta(
    index: IngestIndex, batch: DataFrame, eager: bool = False
) -> tuple[DataFrame, IngestIndex]:
    """The fold's two products WITHOUT the union: ``(admitted, delta)``
    where ``delta`` is the IngestIndex-shaped member delta for exactly
    the admitted docs. ``ingest_admit_fold`` composes it with the base;
    the growing streaming trigger (streaming/ingest.py ``compact_every``)
    additionally accumulates these deltas between flushes so each flush
    persists O(delta) member rows, never an O(corpus) rewrite — same
    spelling, one more consumer of the same frames."""
    admitted_h, bsh, bbands, bsizes = _admit_parts(index, batch, keep=True)
    # THE one admitted-restricted frame (r12, verdict ask #4): checkpointed
    # once, every delta member slices it — the hash delta is a projection
    # (admission already computed md5 per admitted row; no batch re-read)
    # and the three artifact semi-joins probe the one id slice. No
    # broadcast HINT on the slice (review r12): a micro-batch's admitted
    # set is usually broadcast-sized and AQE converts these joins anyway,
    # but the registered lanes fold quarter-corpus batches — a forced
    # broadcast would hit driver broadcast limits at large SF where the
    # un-hinted join degrades gracefully to a shuffle.
    admitted_h = admitted_h.localCheckpoint(eager=eager)
    admitted = admitted_h.select("doc_id", "lang", "n_chars")
    aid = admitted_h.select("doc_id")
    delta = IngestIndex(
        hashes=admitted_h.select("h").distinct().localCheckpoint(eager=eager),
        bands=bbands.join(aid, "doc_id", "left_semi").localCheckpoint(eager=eager),
        sh=bsh.join(aid, "doc_id", "left_semi").localCheckpoint(eager=eager),
        sizes=bsizes.join(aid, "doc_id", "left_semi").localCheckpoint(eager=eager),
    )
    return admitted, delta


def _ingest_stage_sql(k: int) -> str:
    """Stage ``k`` of the growing-ingest oracle: admit the ``doc_id %
    4 == k`` arrivals against membership set ``m{k-1}``, emit ``adm{k}``
    and the grown membership ``m{k}``. The per-doc artifacts (h, bk,
    shingles, sizes) are pure per-document functions, so they are
    computed ONCE over all documents and restricted by membership here —
    the SQL mirror of the delta-fold invariant on ``ingest_admit_fold``."""
    member = f"m{k - 1}"
    return f"""fresh{k} AS (
            SELECT b.doc_id FROM h b
            WHERE b.doc_id % 4 = {k} AND NOT EXISTS (
                SELECT 1 FROM h r JOIN {member} m ON r.doc_id = m.doc_id
                WHERE r.h = b.h)
        ),
        cand{k} AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
            JOIN {member} m ON m.doc_id = b.doc_id
            WHERE a.doc_id % 4 = {k}
        ),
        inter{k} AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS i
            FROM cand{k} c
            JOIN shingles x ON x.doc_id = c.doc_a AND x.lang = c.lang
            JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s AND y.lang = c.lang
            GROUP BY 1, 2
        ),
        near{k} AS (
            SELECT DISTINCT i.doc_a FROM inter{k} i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        ),
        adm{k} AS (
            SELECT f.doc_id FROM fresh{k} f
            WHERE NOT EXISTS (SELECT 1 FROM near{k} n WHERE n.doc_a = f.doc_id)
        ),
        m{k} AS (SELECT doc_id FROM {member}
                 UNION ALL SELECT doc_id FROM adm{k})"""


# The growing-ingest oracle WITH-body: per-doc artifacts computed once
# (shingles/bands/sizes/hashes) + the three unrolled admission stages
# ending at memberships m1..m3 and admitted sets adm1..adm3 — ONE
# spelling shared by the x1_ingest_growing oracle (which projects the
# admitted sets) and the x1_ingest_compaction oracle (which keep-best
# reconciles the retained membership m3 on top).
_INGEST_GROWING_PREFIX = dedent(
    """{shingle_cte},
        hashed AS (
            SELECT doc_id, lang,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % 1073741824 AS hlo,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) // 1073741824 AS hhi
            FROM shingles
        ),
        mins AS (
            SELECT doc_id, lang,
               {minhash_min_sql}
            FROM hashed GROUP BY 1, 2
        ),
        bk AS (
            SELECT doc_id, lang,
                   UNNEST(RANGE(0, {n_bands})) AS band,
                   UNNEST([{bkey_sql}]) AS bkey
            FROM mins
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        h AS (SELECT doc_id, MD5(text) AS h FROM documents),
        m0 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
        {stage1},
        {stage2},
        {stage3}"""
).format(
    shingle_cte=_SHINGLE_SQL_CTE,
    minhash_min_sql=_MINHASH_MIN_SQL,
    n_bands=N_MINHASH_BANDS,
    bkey_sql=_MINHASH_BKEY_SQL,
    stage1=_ingest_stage_sql(1),
    stage2=_ingest_stage_sql(2),
    stage3=_ingest_stage_sql(3),
)


@query(
    "x1_ingest_growing",
    oracle=dedent(
        f"""
        WITH {_INGEST_GROWING_PREFIX}
        SELECT a.batch_no, a.doc_id, d.lang, d.n_chars
        FROM (SELECT 1 AS batch_no, doc_id FROM adm1
              UNION ALL SELECT 2 AS batch_no, doc_id FROM adm2
              UNION ALL SELECT 3 AS batch_no, doc_id FROM adm3) a
        JOIN documents d ON d.doc_id = a.doc_id
        """
    ),
    tags=("X1", "X2", "incremental", "minhash", "lsh", "growing"),
)
def x1_ingest_growing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWING incremental ingest — three sequential arrival batches
    (doc_id % 4 == 1, 2, 3) admitted against an index that starts from
    the % 4 == 0 residents and FOLDS each batch's admitted docs back in
    (``ingest_admit_fold``), so batch 2 dedups against batch 1's
    survivors and batch 3 against both — the sequential-prefix semantics
    the streaming twin (streaming/ingest.py
    ``streaming_minhash_ingest_growing``) replays per micro-batch, one
    shared spelling. At sf0.001 this provably differs from the fixed
    index: doc 459 (batch 3) near-dups doc 77 (admitted in batch 1,
    J~0.99) and is rejected here, where the fixed-index lane admits it.

    Output: ``(batch_no, doc_id, lang, n_chars)`` — each admitted doc
    tagged with the batch that carried it.

    Scale shape: the base documents projection is checkpointed ONCE
    (resident index build + all three batch slices read it — one parquet
    scan for the whole three-stage fold); each stage's new
    materializations are its admission checkpoint and its O(admitted)
    delta members; the index unions are metadata-only (LSM deltas —
    nothing resident is rewritten). Per stage the probe cost is
    O(batch x bands) band keys against the grown band index plus the
    candidates-only verify — the same per-batch shape as
    ``x1_minhash_ingest``, paid three times because the lane IS three
    sequential ingests."""
    base = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text", "n_chars")
        .localCheckpoint(eager=False)
    )
    index = minhash_ingest_index(base.where(F.col("doc_id") % 4 == 0))
    parts = []
    for k in (1, 2, 3):
        admitted, index = ingest_admit_fold(
            index, base.where(F.col("doc_id") % 4 == k)
        )
        parts.append(
            admitted.select(
                F.lit(k).alias("batch_no"), "doc_id", "lang", "n_chars"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def with_exact_canon(docs: DataFrame, alias: str = "canon") -> DataFrame:
    """Adds the exact-dedup canon column — MIN(doc_id) OVER (PARTITION BY
    md5(text)) — to a frame carrying ``doc_id, text``: ONE spelling of
    the exact-canon rule (review r12: the factory's stage 2a and the
    compaction lane's exact stage were hand-copied windows; a tie-break
    or hash change in one copy would silently diverge the compacted
    corpus from the factory gold corpus the reconciliation pin equates).
    ``doc_id == alias`` rows are the exact survivors."""
    w_hash = Window.partitionBy(F.md5(F.col("text")))
    return docs.withColumn(alias, F.min("doc_id").over(w_hash))


def keep_best_map(survivors: DataFrame) -> DataFrame:
    """``(doc_id, keep_id)`` for every exact-dedup survivor: keep_id =
    its near-dup cluster's keeper (longest doc, tie lowest id; singletons
    keep themselves) — the keep-BEST stage as ONE spelling, shared by the
    batch factory's stage 2b (x9_data_factory) and the compaction lane
    (x1_ingest_compaction). ``survivors`` needs ``(doc_id, lang, text,
    n_chars)``; clusters come from banded-MinHash candidates verified
    with exact Jaccard >= 0.5 (equi joins, never all-pairs) closed by
    ``_min_label_propagation``. keep_id == doc_id marks the kept rows;
    the mapping is TOTAL over survivors, so a dropped doc always points
    at its replacement."""
    sh = shingles_of(survivors).localCheckpoint(eager=False)
    pairs = _minhash_verified_pairs(sh).select("doc_a", "doc_b")
    return _keep_best_map_from(survivors, pairs)


def _keep_best_map_from(survivors: DataFrame, pairs: DataFrame) -> DataFrame:
    """The cluster->keeper tail of ``keep_best_map`` given already-verified
    near-dup ``(doc_a, doc_b)`` pairs — split out so the compaction lane
    can feed pairs verified from the ingest index's STORED artifacts
    (bands/shingles/sizes checkpoints) instead of re-shingling text."""
    labels = _min_label_propagation(pairs)
    labeled = survivors.join(
        labels, survivors["doc_id"] == labels["node"], "left"
    ).select(
        survivors["doc_id"],
        "n_chars",
        F.coalesce(F.col("label"), survivors["doc_id"]).alias("cluster"),
    )
    w_keep = Window.partitionBy("cluster").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return labeled.select("doc_id", F.first("doc_id").over(w_keep).alias("keep_id"))


def _neardup_closure_sql(
    cand: str, shingles: str, sizes: str, src: str, p: str = ""
) -> str:
    """The verify -> closure -> keep-best oracle TAIL over an
    already-generated candidate CTE: exact-Jaccard verification of
    ``cand`` (doc_a, doc_b, lang) against ``shingles``/``sizes``,
    RECURSIVE transitive closure, min-label clusters, and the
    (n_chars DESC, doc_id) keep-best ranking over ``src`` (needs
    ``doc_id, n_chars``). ONE spelling of the near-dup reconciliation
    rule (review r12: the compaction oracle had re-spelled it under
    c-suffixed names — a threshold or tie-break change would have
    drifted the copies apart), composed by ``neardup_chain_sql`` (which
    also generates the candidates) and by the x1_ingest_compaction
    oracle (whose candidates come restricted to the retained exact
    survivors). ``p`` prefixes every emitted CTE name so a consumer can
    place the closure next to other same-shaped CTE chains; emits
    ``{{p}}inter {{p}}pair {{p}}edges {{p}}nodes {{p}}reach {{p}}clusters
    {{p}}labeled {{p}}best``."""
    return f"""{p}inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS i
            FROM {cand} c
            JOIN {shingles} x ON x.doc_id = c.doc_a AND x.lang = c.lang
            JOIN {shingles} y ON y.doc_id = c.doc_b AND y.s = x.s AND y.lang = c.lang
            GROUP BY 1, 2
        ),
        {p}pair AS (
            SELECT i.doc_a, i.doc_b FROM {p}inter i
            JOIN {sizes} sa ON sa.doc_id = i.doc_a
            JOIN {sizes} sb ON sb.doc_id = i.doc_b
            WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        ),
        {p}edges AS (
            SELECT doc_a AS a, doc_b AS b FROM {p}pair
            UNION ALL SELECT doc_b, doc_a FROM {p}pair
        ),
        {p}nodes AS (SELECT DISTINCT a AS node FROM {p}edges),
        {p}reach AS (
            SELECT node AS src, node AS dst FROM {p}nodes
            UNION
            SELECT r.src, e.b FROM {p}reach r JOIN {p}edges e ON e.a = r.dst
        ),
        {p}clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM {p}reach GROUP BY src),
        {p}labeled AS (
            SELECT s.doc_id, s.n_chars, COALESCE(c.cluster, s.doc_id) AS cluster
            FROM {src} s LEFT JOIN {p}clusters c ON c.doc_id = s.doc_id
        ),
        {p}best AS (
            SELECT doc_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                                      ORDER BY n_chars DESC, doc_id) AS rk
            FROM {p}labeled
        )"""



_COMPACTION_CTES = dedent(
    f"""rx AS MATERIALIZED (
            SELECT h.doc_id, MIN(h.doc_id) OVER (PARTITION BY h.h) AS canon
            FROM h JOIN m3 m ON m.doc_id = h.doc_id
        ),
        sv AS MATERIALIZED (SELECT doc_id FROM rx WHERE doc_id = canon),
        svd AS (
            SELECT s.doc_id, d.n_chars
            FROM sv s JOIN documents d ON d.doc_id = s.doc_id
        ),
        candc AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
            JOIN sv sa ON sa.doc_id = a.doc_id
            JOIN sv sb ON sb.doc_id = b.doc_id
        ),
        {_neardup_closure_sql('candc', 'shingles', 'sizes', 'svd', p='c')},
        keepmap AS (
            SELECT l.doc_id, b.doc_id AS keep_id
            FROM clabeled l JOIN cbest b ON b.cluster = l.cluster AND b.rk = 1
        ),
        batched AS (
            SELECT 0 AS batch_no, doc_id FROM m0
            UNION ALL SELECT 1 AS batch_no, doc_id FROM adm1
            UNION ALL SELECT 2 AS batch_no, doc_id FROM adm2
            UNION ALL SELECT 3 AS batch_no, doc_id FROM adm3
        )"""
)


@query(
    "x1_ingest_compaction",
    oracle=dedent(
        f"""
        WITH RECURSIVE {_INGEST_GROWING_PREFIX},
        {_COMPACTION_CTES}
        SELECT b.batch_no, b.doc_id, k.keep_id,
               CAST(CASE WHEN b.doc_id = k.keep_id THEN 1 ELSE 0 END AS BIGINT)
                   AS kept
        FROM batched b
        JOIN rx ON rx.doc_id = b.doc_id
        JOIN keepmap k ON k.doc_id = rx.canon
        """
    ),
    tags=("X1", "X2", "compaction", "minhash", "lsh", "growing"),
)
def x1_ingest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION over the growing ingest — the periodic keep-best
    reconciliation the LSM story promises (r11 verdict ask #2), closing
    the two gaps admission's keep-FIRST granularity leaves open: (a)
    documents inside the SAME batch never dedup against each other (the
    GRANULARITY CONTRACT on ``ingest_admit_fold``), so a same-batch
    exact or near-dup pair is admitted whole; (b) within the retained
    corpus the kept member of a dup group is the first ARRIVAL, not the
    BEST doc. Compaction re-reconciles what the ingest RETAINED —
    exact-canon (min doc_id per md5(text)) then keep-best per verified
    near-dup cluster (longest, tie lowest id; the factory's stage-2
    rule via the shared ``_keep_best_map_from``) — the segment-compaction
    half of the story; the gold-corpus rebuild over the FULL raw store
    (which also resurrects docs admission rejected in favor of a worse
    first arrival) is the batch factory itself, pinned stream==batch in
    tests/test_streaming.py::test_compaction_reconciles_arbitrary_order.

    The lane IS the x1_ingest_growing schedule (residents = doc_id % 4
    == 0, three folded arrival batches) followed by the compaction pass,
    so retained = residents + every admitted doc. DECIDED r13 (the r12
    verdict's What's-wrong #3 offered share-or-document): the lane KEEPS
    rebuilding its own fold rather than reading a prefix another lane
    built — a cross-lane shared prefix is exactly the session-cache
    coupling r13 removed from the ANN lanes (a lane's benched cost must
    not depend on chunk layout), so the composed build+fold+compact
    price stays the honest end-to-end reading; a deployment compacts an
    EXISTING index's stored segments (ingest_index_load -> this pass),
    the shape the streaming compact_every trigger exercises. Output is a TOTAL fate
    map: ``(batch_no, doc_id, keep_id, kept)`` for every retained doc —
    keep_id its exact-canon's cluster keeper (keep_id == doc_id <=> the
    compacted corpus keeps it), batch_no the arrival that carried it (0
    = resident). Non-vacuous by pytest pin: residents and same-batch
    pairs yield kept=0 rows at every test SF.

    Scale shape (the LSM compaction property): the near-dup pass runs
    over the index's STORED artifacts — band keys self-joined on (lang,
    band, bkey) restricted to exact survivors, verified by
    ``exact_jaccard_verify`` reading the index's checkpointed shingles
    with its PRECOMPUTED sizes — zero re-shingling, zero text re-reads
    beyond the one base projection the ingest already scanned; the only
    text expression compaction adds is one md5 window over the retained
    rows. Candidates are banded (never all-pairs), components are the
    size-gated ``_min_label_propagation``, and the fate join is two
    broadcast-sized equi joins."""
    base = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text", "n_chars")
        .localCheckpoint(eager=False)
    )
    residents = base.where(F.col("doc_id") % 4 == 0)
    index = minhash_ingest_index(residents)
    parts = [residents.select(F.lit(0).alias("batch_no"), "doc_id")]
    for k in (1, 2, 3):
        admitted, index = ingest_admit_fold(
            index, base.where(F.col("doc_id") % 4 == k)
        )
        parts.append(admitted.select(F.lit(k).alias("batch_no"), "doc_id"))
    batched = parts[0]
    for p in parts[1:]:
        batched = batched.unionByName(p)

    # exact stage among the retained docs: canon = min doc_id per content
    # hash (the shared with_exact_canon spelling), kept TOTAL so dropped
    # docs map to their replacement
    with_canon = (
        with_exact_canon(batched.join(base, "doc_id"))
        .select("batch_no", "doc_id", "n_chars", "canon")
        .localCheckpoint(eager=False)  # 2 consumers: sv + the fate join
    )
    sv = with_canon.where(F.col("doc_id") == F.col("canon")).select(
        "doc_id", "n_chars"
    )

    # near-dup pass over the index's STORED artifacts (no re-shingling):
    # band-key self-join restricted to exact survivors, shared verify.
    # No broadcast hint on the survivor ids — they are corpus-sized (the
    # forced-broadcast lesson on the fold's admitted slice, review r12)
    svids = sv.select("doc_id")
    bandsr = index.bands.join(svids, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )  # 2 consumers: both sides of the self-join
    pairs = exact_jaccard_verify(
        band_self_candidates(bandsr), index.sh, sizes=index.sizes
    ).select("doc_a", "doc_b")
    keepmap = _keep_best_map_from(sv, pairs).withColumnRenamed("doc_id", "canon")

    return with_canon.join(keepmap, "canon").select(
        "batch_no",
        "doc_id",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).cast("long").alias("kept"),
    )


@query("x2_minhash_lsh", oracle=None, tags=("X2", "lsh"))
def x2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH approximate near-dup join — the scale path for X2:
    shingles -> sparse term-frequency vectors -> MinHash signatures ->
    banded bucket join (``approxSimilarityJoin``). Constant-size state per
    doc; pairs only materialize inside LSH buckets. Seeded for
    reproducibility; rows-only check (the sketch is not SQL-expressible).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = shingles(spark, sf_dir, n=3)
    docs = sh.groupBy("doc_id").agg(F.collect_list("s").alias("sh"))
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    # The feature table feeds THREE consumers (lsh.fit + both sides of the
    # similarity join); materialize it once instead of recomputing the
    # shingle explode + collect pipeline each time (measured 8.0s -> 2.7s
    # at sf0.1).
    feats = (
        tf.transform(docs).where(F.expr("size(sh) > 0")).localCheckpoint(eager=False)
    )
    lsh = MinHashLSH(inputCol="features", outputCol="sig", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.col("jaccard_dist"), 4).alias("jaccard_dist"),
        )
    )


N_SIMHASH_BITS = 60  # 15 md5 hex chars -> engine-neutral 60-bit term hash
N_SIMHASH_BANDS = 10  # 10 disjoint 6-bit bands; hamming<=6 touches <=6 of them

_SIMHASH_VOTE_SQL = ",\n                   ".join(
    f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN tf ELSE -tf END) AS v{b}"
    for b in range(N_SIMHASH_BITS)
)
_SIMHASH_FP_SQL = "\n                 + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for b in range(N_SIMHASH_BITS)
)


@query(
    "x2_simhash",
    oracle=dedent(
        f"""
        WITH toks AS (
            SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, lang, tok, COUNT(*) AS tf
            FROM toks WHERE tok <> '' GROUP BY 1, 2, 3
        ),
        hashed AS (
            SELECT doc_id, lang, tf,
                   CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS BIGINT) AS h
            FROM tf
        ),
        votes AS (
            SELECT doc_id, lang,
                   {_SIMHASH_VOTE_SQL}
            FROM hashed GROUP BY 1, 2
        ),
        fp AS (
            SELECT doc_id, lang,
                   {_SIMHASH_FP_SQL} AS simhash
            FROM votes
        ),
        bv AS (
            SELECT doc_id, lang, simhash,
                   UNNEST(RANGE(0, {N_SIMHASH_BANDS})) AS band,
                   UNNEST(LIST_TRANSFORM(RANGE(0, {N_SIMHASH_BANDS}),
                          i -> (simhash >> (i * 6)) & 63)) AS val
            FROM fp
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM bv a JOIN bv b
          ON a.lang = b.lang AND a.band = b.band AND a.val = b.val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
        """
    ),
    tags=("X2", "simhash"),
)
def x2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints: per token, a 60-bit hash votes +1/-1
    on each bit position weighted by term frequency; the sign vector is the
    fingerprint. Computed fully relationally (explode -> hash -> 60
    codegen'd conditional sums -> bit reassembly); near-dup pairs are
    fingerprints at Hamming distance <= 6. The term hash is the first 15
    md5 hex chars parsed as an integer — engine-neutral (Spark ``conv``,
    DuckDB ``'0x'||…::BIGINT`` produce identical values), which is what
    earns this operator a FULL oracle (the r01 version used xxhash64,
    which has no DuckDB twin, and was rows-only).

    The query is built as ONE generated SQL string (``spark.sql``), not
    per-Column API calls: the 60 vote sums + 60 reassembly terms + band
    explode were ~500 py4j round-trips, which profiled at ~2.5s of pure
    driver-side DataFrame *construction* per run — the entire reason this
    query's scale-probe alpha was negative (wall-clock flat in SF = all
    fixed overhead). One SQL parse produces the identical plan: 60
    codegen'd conditional sums in one aggregation, one shuffle to
    fingerprints.

    Banded candidate generation (pigeonhole, EXACT): a pair at hamming
    <= 6 differs in at most 6 of the 10 disjoint 6-bit bands, so it
    agrees exactly on >= 4 bands — an equi join on (lang, band_idx,
    band_value) finds every qualifying pair without the all-pairs
    O(n^2) per lang.
    """
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )  # pre-explode fan-out past the compact-file single input partition
    docs.select("doc_id", "lang", "text").createOrReplaceTempView("_simhash_docs")
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN tf ELSE -tf END) AS v{b}"
        for b in range(N_SIMHASH_BITS)
    )
    fp = "\n                 + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(N_SIMHASH_BITS)
    )
    return spark.sql(
        f"""
        WITH tf AS (
            SELECT doc_id, lang, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, lang, explode(split(text, ' ')) AS tok
                  FROM _simhash_docs)
            WHERE tok <> '' GROUP BY doc_id, lang, tok
        ),
        hashed AS (
            SELECT doc_id, lang, tf,
                   CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS h
            FROM tf
        ),
        votes AS (
            SELECT doc_id, lang,
                   {votes}
            FROM hashed GROUP BY doc_id, lang
        ),
        fp AS (
            SELECT doc_id, lang,
                   {fp} AS simhash
            FROM votes
        ),
        banded AS (
            SELECT doc_id, lang, simhash, band,
                   shiftright(simhash, band * 6) & 63 AS val
            FROM fp LATERAL VIEW explode(sequence(0, {N_SIMHASH_BANDS - 1})) t AS band
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
        FROM banded a JOIN banded b
          ON a.lang = b.lang AND a.band = b.band AND a.val = b.val
         AND a.doc_id < b.doc_id
        WHERE bit_count(a.simhash ^ b.simhash) <= 6
        """
    )


NEARDUP_BLOCKS = 8  # B row-blocks of the x2_embedding_neardup tiling


@query(
    "x2_embedding_neardup",
    oracle=dedent(
        """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(LIST_DOT_PRODUCT(a.v, b.v)
                     / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE LIST_DOT_PRODUCT(a.v, b.v)
              / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) >= 0.45
        """
    ),
    tags=("X2", "X3"),
)
def x2_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.45), exact brute force
    as the correctness baseline; the LSH variant (x3_ann_lsh) is the
    approximate path when even blocked-exact is too expensive.

    Plan: blocked pairwise matmul — NO driver collect, NO unbounded
    broadcast (the r01 version collected the whole table to the driver,
    which is an OOM at 100 TB). Each vector hashes to one of B row-blocks;
    each unordered block pair (i<=j) is one shuffle group, and a BLAS
    matmul scores the (n/B x n/B) tile inside applyInPandas. Costs:
    shuffle volume n*B rows (each row replicated to the B block pairs that
    contain its block), peak executor memory 2*(n/B)*d + (n/B)^2 — tune B
    ~ n*sqrt(d)/sqrt(mem) so tiles fit; work is the same O(n^2 d) FLOPs as
    brute force but spread over B(B+1)/2 independent tasks. A relational
    pair join with a higher-order-function dot product evaluates the
    lambda interpreted per element per pair (~33s at sf0.1); the tiled
    BLAS matmul over the same pair space is ~1s.
    """
    import numpy as np
    import pandas as pd

    n_blocks = NEARDUP_BLOCKS
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    blocked = e.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)))
    # Replicate each row to every block pair containing its block: the join
    # side is a B-row range, broadcast — the only "small dim" in the plan.
    other = F.broadcast(
        spark.range(n_blocks).select(F.col("id").cast("int").alias("other"))
    )
    # No dedup needed: for a row in block b, each j in 0..B-1 yields a
    # DISTINCT pair (min(b,j),max(b,j)) — j<b gives (j,b), j>b gives (b,j),
    # j==b gives the diagonal (b,b) exactly once. So the only shuffle in
    # the plan is the groupBy(p1,p2) tile exchange itself (n*B rows).
    rep = (
        blocked.crossJoin(other)
        .withColumn("p1", F.least(F.col("blk"), F.col("other")))
        .withColumn("p2", F.greatest(F.col("blk"), F.col("other")))
        .select("p1", "p2", "blk", "vec_id", "v")
    )

    def score_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        p1, p2 = int(pdf["p1"].iloc[0]), int(pdf["p2"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        if p1 == p2:  # diagonal tile: upper triangle by vec_id
            sims = mat @ mat.T
            hit_r, hit_c = np.nonzero((sims >= 0.45) & (ids[:, None] < ids[None, :]))
            a_ids, b_ids = ids[hit_r], ids[hit_c]
        else:  # off-diagonal tile: cross the two disjoint blocks
            left = pdf["blk"].to_numpy() == p1
            la, lb = np.nonzero(left)[0], np.nonzero(~left)[0]
            sims = mat[la] @ mat[lb].T
            hit_r, hit_c = np.nonzero(sims >= 0.45)
            ia, ib = ids[la][hit_r], ids[lb][hit_c]
            a_ids, b_ids = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"vec_a": a_ids, "vec_b": b_ids, "cosine": np.round(sims[hit_r, hit_c], 6)}
        )

    return rep.groupBy("p1", "p2").applyInPandas(
        score_tile, schema="vec_a long, vec_b long, cosine double"
    )


@query(
    "x2_dedup_clusters",
    oracle=dedent(
        f"""
        WITH RECURSIVE {_SHINGLE_SQL_CTE.strip()},
        sized AS (
            SELECT doc_id, lang, s, COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM shingles
        ),
        pair AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sized a JOIN sized b
              ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.n, b.n
            HAVING COUNT(*) * 1.0 / (a.n + b.n - COUNT(*)) >= 0.5
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pair
            UNION ALL SELECT doc_b, doc_a FROM pair
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach AS (
            SELECT node AS src, node AS dst FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
        )
        SELECT src AS doc_id, MIN(dst) AS cluster
        FROM reach GROUP BY src
        """
    ),
    tags=("X2", "T4"),
)
def x2_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster construction: connected components over the ENTIRE
    near-dup pair graph (x2_ngram_jaccard's pairs), cluster id = min member
    doc_id — the step that turns pairwise near-dup hits into canonical-
    document groups.

    Unlike the per-image union-find (T4, groups of dozens), this graph
    spans the whole corpus, so it runs through the SIZE-ADAPTIVE
    ``_min_label_propagation``: a dup graph under ``DRIVER_CC_MAX_EDGES``
    (the common case — most docs are not dups) is collected and solved on
    the driver by T4's union-find (``grouped.min_label_components``); past
    that threshold it is iterative distributed
    label propagation with pointer jumping — O(log diameter) rounds, each
    a plain shuffle-on-key join, labels never leaving the cluster. The
    oracle is a recursive-CTE transitive closure (viable at oracle SF)."""
    pairs = x2_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_propagation(pairs)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


DRIVER_CC_MAX_EDGES = 100_000


def _min_label_propagation(
    pairs: DataFrame, max_rounds: int = 15, driver_cc_max: int | None = None
) -> DataFrame:
    """Connected components over an undirected pair list ``(doc_a, doc_b)``.

    SIZE-ADAPTIVE: the dup graph of a deduplicated corpus is usually tiny
    relative to the corpus (most docs aren't dups), while the iterative
    path pays a fixed ~2.3 s of per-round Spark-job overhead regardless of
    size — so if the edge table fits under ``DRIVER_CC_MAX_EDGES`` it is
    collected (explicitly bounded — the count gates the collect) and
    solved on the driver by ``grouped.min_label_components``, the
    path-compressed union-find the grouped block kernels share, exactly
    reproducing the distributed labels (pinned by
    tests/test_analytics.py::test_cc_local_and_distributed_paths_agree).
    Above the threshold: iterative min-label propagation — every node
    repeatedly adopts the min label among itself and its neighbors, PLUS
    its label's own current label (pointer jumping), until a fixpoint —
    O(log diameter) rounds of plain shuffle-on-key joins, the
    large-star/small-star shape of MapReduce connected components; the
    driver only checks convergence counts and labels never leave the
    cluster. Returns ``(node, label)`` for nodes that appear in at least
    one pair (singletons are the caller's COALESCE). Shared by
    x2_dedup_clusters and the fuzzy-dedup pipeline."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .distinct()
        # materialize once: every propagation round joins the edge table,
        # and without this the whole upstream pair pipeline would
        # re-execute per iteration (measured ~2x the query's total cost)
        .localCheckpoint(eager=False)
    )
    if driver_cc_max is None:
        driver_cc_max = DRIVER_CC_MAX_EDGES
    n_edges = edges.count()  # materializes the checkpoint either way
    if n_edges <= driver_cc_max:
        node_type = dict(pairs.dtypes)["doc_a"]
        # one bounded job (the count above gates the size); collect, not
        # toLocalIterator, which pays roughly one job per partition
        rows = min_label_components(edges.collect())
        return pairs.sparkSession.createDataFrame(
            rows, f"node {node_type}, label {node_type}"
        )
    labels = (
        edges.select(F.col("doc_a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    for round_no in range(max_rounds):  # >= log2(diameter) with jumping
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy(F.col("doc_a").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            F.col("label").alias("old_label"),
        )
        # pointer jumping: also adopt the CURRENT label of your label
        # (label(label(v)) — the shortcut that turns O(diameter) rounds
        # into O(log diameter), the large-star/small-star acceleration).
        # Only ever lowers toward the component min, so the fixpoint
        # argument is unchanged: stability of the combined step implies
        # stability of the neighbor-min step alone.
        lbl = labels.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        # carry the pre-round label through the checkpoint so convergence
        # is a narrow filter-count over the materialized table, not an
        # extra labels-vs-labels shuffle join per round
        new_labels = (
            stepped.join(lbl, stepped.label == lbl.l_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("l_label"), F.col("label"))
                ).alias("label"),
                "old_label",
            )
            .localCheckpoint(eager=True)  # cut the growing lineage each round
        )
        labels = new_labels.select("node", "label")
        # round 0 always changes something when any edge exists (and when
        # none do, every table here is empty) — skip its convergence job
        if round_no > 0 or max_rounds == 1:
            changed = new_labels.where(F.col("label") != F.col("old_label")).count()
            if changed == 0:
                break
    else:
        # budget exhausted with labels still moving: silent non-convergence
        # would emit wrong components (component diameter > max_rounds)
        raise RuntimeError(
            f"min-label propagation did not converge in {max_rounds} rounds "
            f"({changed} labels still changing); raise max_rounds"
        )
    return labels


@query(
    "x2_editdistance_pairs",
    oracle=dedent(
        """
        WITH vocab AS (
            SELECT DISTINCT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        v AS (SELECT lang, tok FROM vocab WHERE LEN(tok) >= 4)
        SELECT a.lang, a.tok AS tok_a, b.tok AS tok_b,
               LEVENSHTEIN(a.tok, b.tok) AS dist
        FROM v a JOIN v b
          ON a.lang = b.lang AND a.tok < b.tok
         AND ABS(LEN(a.tok) - LEN(b.tok)) <= 1
        WHERE LEVENSHTEIN(a.tok, b.tok) <= 1
        """
    ),
    tags=("X2", "fuzzy"),
)
def x2_editdistance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary dedup: token pairs within edit distance 1 per
    language (typo clustering — the string-similarity join of entity
    resolution). Banding makes it scale: every token emits two length-band
    keys (len, len+1), the self-join is EQUI on (lang, band) — any pair
    with |len diff| <= 1 shares exactly one band key — and only
    band-colliding pairs pay the levenshtein. No all-pairs cross join, and
    the quadratic term is bounded per (lang, length) band.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.length("tok") >= 4)
        .distinct()
    )
    banded = vocab.select(
        "lang",
        "tok",
        F.explode(
            F.array(F.length("tok"), F.length("tok") + 1)
        ).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    dist = F.levenshtein(F.col("a.tok"), F.col("b.tok"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .where(F.abs(F.length(F.col("a.tok")) - F.length(F.col("b.tok"))) <= 1)
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
            dist.cast("long").alias("dist"),
        )
        .where(F.col("dist") <= 1)
        .distinct()
    )


@query(
    "x2_sorted_neighborhood",
    oracle=dedent(
        """
        WITH d AS (
            SELECT doc_id, text, SPLIT_PART(text, ' ', 1) AS blk,
                   LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
            FROM documents
        ),
        w AS (
            SELECT doc_id, toks,
                   LEAD(doc_id, 1) OVER win AS n1_id, LEAD(toks, 1) OVER win AS n1_t,
                   LEAD(doc_id, 2) OVER win AS n2_id, LEAD(toks, 2) OVER win AS n2_t,
                   LEAD(doc_id, 3) OVER win AS n3_id, LEAD(toks, 3) OVER win AS n3_t
            FROM d
            WINDOW win AS (PARTITION BY blk ORDER BY text, doc_id)
        ),
        pairs AS (
            SELECT doc_id AS doc_a, n1_id AS doc_b, toks AS ta, n1_t AS tb
            FROM w WHERE n1_id IS NOT NULL
            UNION ALL SELECT doc_id, n2_id, toks, n2_t FROM w WHERE n2_id IS NOT NULL
            UNION ALL SELECT doc_id, n3_id, toks, n3_t FROM w WHERE n3_id IS NOT NULL
        )
        SELECT doc_a, doc_b,
               ROUND(LEN(LIST_INTERSECT(ta, tb)) * 1.0
                     / LEN(LIST_DISTINCT(ta || tb)), 6) AS jaccard
        FROM pairs
        WHERE LEN(LIST_INTERSECT(ta, tb)) * 1.0 / LEN(LIST_DISTINCT(ta || tb)) >= 0.5
        """
    ),
    tags=("X2", "dedup", "snm"),
)
def x2_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood near-dup detection — the classic
    entity-resolution alternative to inverted-index blocking: sort docs
    within a block (first token), compare each doc only to its 3 sorted
    successors (LEAD), keep token-Jaccard >= 0.5. Cost is one hash
    shuffle on the block key + an in-partition sort + 3 narrow LEADs —
    candidate count is exactly 3·n regardless of duplicate-cluster size,
    where the shingle-index join degrades on hot shingles. Recall is
    traded at block boundaries by construction (documents in different
    blocks never meet), which is the documented SNM trade-off; block =
    first token keeps blocks vocabulary-many, so window partitions stay
    parallel at corpus scale. Pure Catalyst: LEAD over array columns,
    array_intersect/array_union for the Jaccard."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "text",
        F.element_at(F.split("text", " "), 1).alias("blk"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    win = Window.partitionBy("blk").orderBy("text", "doc_id")
    w = d.select(
        "doc_id",
        "toks",
        *[
            c
            for k in (1, 2, 3)
            for c in (
                F.lead("doc_id", k).over(win).alias(f"n{k}_id"),
                F.lead("toks", k).over(win).alias(f"n{k}_t"),
            )
        ],
    )
    # explode a neighbor-struct array instead of a 3-way union: a union of
    # per-lead selections re-runs the whole window subplan once PER BRANCH
    # (3 identical blk exchanges); the explode needs exactly one
    nbrs = F.array(
        *[
            F.struct(
                F.col(f"n{k}_id").alias("id"), F.col(f"n{k}_t").alias("t")
            )
            for k in (1, 2, 3)
        ]
    )
    pairs = (
        w.select("doc_id", "toks", F.explode(nbrs).alias("nb"))
        .where(F.col("nb.id").isNotNull())
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("nb.id").alias("doc_b"),
            F.col("toks").alias("ta"),
            F.col("nb.t").alias("tb"),
        )
    )
    jacc = F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb"))
    return (
        pairs.withColumn("jaccard", jacc)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _span_grams(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(doc_id, pos, gram-hash) for every 20-char gram position.

    The gram explode multiplies each input row ~|text| times, so stage
    parallelism must come from BEFORE the explode: a compact-file corpus
    (one 2 MB parquet at sf0.1) otherwise runs the whole O(chars x 20)
    hashing on one core. Repartitioning the (tiny) pre-explode rows is a
    negligible shuffle that buys full-cluster fan-out of the hashing.
    Exposed as its own builder so tests/test_plans.py can audit the
    pre-checkpoint plan (the lazy localCheckpoint in the query truncates
    the visible lineage)."""
    n_part = spark.sparkContext.defaultParallelism
    docs.repartition(n_part, "doc_id").select("doc_id", "text").createOrReplaceTempView(
        "_span_docs"
    )
    return spark.sql(
        """
        SELECT doc_id, pos0 + 1 AS pos, h
        FROM (
            SELECT doc_id,
                   posexplode(transform(sequence(1, length(text) - 19),
                       i -> xxhash64(substring(text, i, 20)))) AS (pos0, h)
            FROM _span_docs
        )
        """
    )


@query(
    "x2_repeated_spans",
    oracle=dedent(
        """
        WITH g AS (
            SELECT doc_id,
                   UNNEST(RANGE(1, LEN(text) - 20 + 2)) AS pos,
                   UNNEST(LIST_TRANSFORM(RANGE(1, LEN(text) - 20 + 2),
                          i -> SUBSTR(text, i::INT, 20))) AS h
            FROM documents WHERE LEN(text) >= 20
        ),
        dup AS (
            SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
        ),
        hits AS (SELECT doc_id, pos FROM g SEMI JOIN dup USING (h)),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN MAX(pos + 19) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR pos > MAX(pos + 19) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_span
            FROM hits
        ),
        sids AS (
            SELECT doc_id, pos,
                   SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
            FROM flagged
        ),
        spans AS (
            SELECT doc_id, sid, MIN(pos) AS s, MAX(pos) + 19 AS e
            FROM sids GROUP BY doc_id, sid
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars
        FROM spans GROUP BY doc_id
        """
    ),
    tags=("X2", "dedup", "substring"),
)
def x2_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans (the primitive behind
    suffix-array training-data dedup, Lee et al. 2022, computed the
    shuffle-friendly way): every 20-char gram is content-hashed, grams
    seen in >1 distinct documents mark their positions as duplicated, and
    per document the hit positions merge into maximal overlapping spans
    via the standard interval-union windows (running max of span end →
    new-span flag → running sum as span id). Output: per-doc span count
    and duplicated-char total. Scale shape: the gram table shuffles once
    on a 64-bit xxhash64 of the gram (8-byte longs, never the text — was
    md5's 32-char hex in r01: ~4x the shuffle bytes and a slower hash;
    the swap cut sf0.1 wall-clock 12s → ~4s. NOTE the identity is now
    PROBABILISTIC: two distinct grams colliding in 64 bits would flag a
    false duplicate span — expected colliding pairs ≈ G²/2⁶⁵ for G
    distinct grams: ~3e-6 at the 10⁷ grams of sf0.1, ~3% at 10⁹, vs
    md5's 128-bit margin in r01; prepend the gram's first byte to the
    join key if that ever matters at corpus scale. The
    oracle groups the raw substring, so a collision would surface as an
    oracle mismatch rather than pass silently), the semi join back is a
    plain hash join, and the two
    interval windows plus the span group-by all ride ONE doc_id exchange.
    A true suffix array beats this on minimum match length; at fixed gram
    size this is the same candidate set at a fraction of the
    coordination."""
    docs = table(spark, sf_dir, "documents").where(F.length("text") >= 20)
    grams = _span_grams(spark, docs).localCheckpoint(
        eager=False
    )  # consumed twice: dup hashes + hits
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    hits = grams.join(dup, "h", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max(F.col("pos") + 19).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "new_span",
        F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1).otherwise(0),
    )
    sids = flagged.withColumn("sid", F.sum("new_span").over(w))
    spans = sids.groupBy("doc_id", "sid").agg(
        F.min("pos").alias("s"), (F.max("pos") + 19).alias("e")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_chars"),
    )


@query(
    "x1_dedup_keep_best",
    oracle=dedent(
        """
        SELECT key, doc_id AS keeper_doc_id, n_chars AS keeper_chars, n_members
        FROM (
            SELECT MD5(SUBSTR(text, 1, 100)) AS key, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY MD5(SUBSTR(text, 1, 100))
                                      ORDER BY n_chars DESC, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY MD5(SUBSTR(text, 1, 100)))
                       AS n_members
            FROM documents
        ) WHERE rk = 1
        """
    ),
    tags=("X1", "dedup"),
)
def x1_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-policy dedup: cluster documents by a prefix fingerprint
    (md5 of the first 100 chars — catches truncation/extension dups that
    whole-body hashing misses) and keep the LONGEST member, not the
    first-seen one — the curation policy that prefers the most complete
    copy. Survivor choice is a deterministic rank (chars desc, doc_id
    asc), and the member count rides the same single key shuffle as a
    window count — one exchange total, shuffling hash+id+len, never the
    text."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 100))
    w = Window.partitionBy("key")
    ranked = docs.select(
        key.alias("key"), "doc_id", "n_chars"
    ).select(
        "key",
        "doc_id",
        "n_chars",
        F.row_number().over(w.orderBy(F.desc("n_chars"), F.asc("doc_id"))).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "key",
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("n_chars").alias("keeper_chars"),
        "n_members",
    )


@query(
    "x2_semantic_dedup",
    oracle=dedent(
        """
        WITH e AS (
            SELECT vec_id, v,
                   (CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END
                    + CASE WHEN v[2] >= 0 THEN 4 ELSE 0 END
                    + CASE WHEN v[3] >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END) AS bucket,
                   SQRT(LIST_DOT_PRODUCT(v, v)) AS nrm
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        ),
        removed AS (
            SELECT DISTINCT b.vec_id
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE LIST_DOT_PRODUCT(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
        )
        SELECT e.vec_id, CAST(e.bucket AS INT) AS bucket,
               (r.vec_id IS NULL) AS keep
        FROM e LEFT JOIN removed r ON r.vec_id = e.vec_id
        """
    ),
    tags=("X2", "X3", "semantic-dedup"),
)
def x2_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, one-pass
    variant): partition the embedding space into coarse cells, compare
    pairs only WITHIN a cell, and keep the lowest-id member of every
    high-similarity (cosine >= 0.45) pair. Output is the per-item keep
    decision — the list a curation pipeline feeds the final corpus write.

    The cell here is the sign pattern of the first 4 dimensions (16
    deterministic cells — an oracle-friendly stand-in for the k-means
    cells of the paper; the production knob is cell COUNT, which must
    grow ~n/const so the within-cell quadratic stays bounded — same IVF
    shape as x3_ivf_topk, which carries the trained-centroid version).
    Every join is an equi join (cell key, then the keep anti-join); the
    cosine is a JVM-side sequential fold (``zip_with``/``aggregate``),
    evaluated left-to-right exactly like DuckDB's LIST_DOT_PRODUCT, so
    the >= threshold decides identically in both engines; the output is
    integer/boolean only.
    """
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn(
            "bucket",
            (
                F.when(F.col("v")[0] >= 0, 8).otherwise(0)
                + F.when(F.col("v")[1] >= 0, 4).otherwise(0)
                + F.when(F.col("v")[2] >= 0, 2).otherwise(0)
                + F.when(F.col("v")[3] >= 0, 1).otherwise(0)
            ).cast("int"),
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "v", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        .localCheckpoint(eager=False)  # consumed thrice: both join sides + keep
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    removed = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(dot / (F.col("a.nrm") * F.col("b.nrm")) >= 0.45)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return e.join(removed.withColumnRenamed("vec_id", "rm_id"),
                  e.vec_id == F.col("rm_id"), "left").select(
        "vec_id", "bucket", F.col("rm_id").isNull().alias("keep")
    )


def neardup_chain_sql(src: str) -> str:
    """The banded-MinHash -> exact-Jaccard-verify -> transitive-closure ->
    keep-best oracle CTE chain over a survivors CTE named ``src`` (columns
    ``doc_id, lang, text, n_chars``) — ONE SQL spelling of the near-dup
    stage, shared by the x1_fuzzy_dedup_pipeline oracle and the
    x9_data_factory composition (the enclosing query must be WITH
    RECURSIVE for the ``reach`` closure). Candidate generation here +
    the shared ``_neardup_closure_sql`` tail. Emits CTEs ``toks shingles
    hashed mins bk cand sizes inter pair edges nodes reach clusters
    labeled best winners``; consumers read ``best`` (rk = 1 rows are the
    keepers) and ``winners`` (per-cluster canonical)."""
    return f"""toks AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t FROM {src}),
        shingles AS (
            SELECT DISTINCT doc_id, lang,
                   UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks WHERE LEN(t) >= 3
        ),
        hashed AS (
            SELECT doc_id, lang,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % 1073741824 AS hlo,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) // 1073741824 AS hhi,
                   s
            FROM shingles
        ),
        mins AS (
            SELECT doc_id, lang,
               {_MINHASH_MIN_SQL}
            FROM hashed GROUP BY 1, 2
        ),
        bk AS (
            SELECT doc_id, lang,
                   UNNEST(RANGE(0, {N_MINHASH_BANDS})) AS band,
                   UNNEST([{_MINHASH_BKEY_SQL}]) AS bkey
            FROM mins
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        {_neardup_closure_sql('cand', 'shingles', 'sizes', src)},
        winners AS (SELECT cluster, doc_id AS winner FROM best WHERE rk = 1)"""


@query(
    "x1_fuzzy_dedup_pipeline",
    oracle=dedent(
        f"""
        WITH RECURSIVE
        exact AS (
            SELECT doc_id, text, lang, n_chars,
                   MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canon_exact
            FROM documents
        ),
        survivors AS (SELECT * FROM exact WHERE doc_id = canon_exact),
        {neardup_chain_sql('survivors')}
        SELECT e.doc_id,
               CASE WHEN e.doc_id <> e.canon_exact THEN 'exact_dup'
                    WHEN b.rk = 1 THEN 'kept' ELSE 'near_dup' END AS status,
               CASE WHEN e.doc_id <> e.canon_exact THEN e.canon_exact
                    WHEN b.rk = 1 THEN e.doc_id ELSE w.winner END AS canonical
        FROM exact e
        LEFT JOIN best b ON b.doc_id = e.doc_id
        LEFT JOIN winners w ON w.cluster = b.cluster
        """
    ),
    tags=("X1", "X2", "pipeline"),
)
def x1_fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup pipeline — the composition a production
    corpus build runs as ONE job (the BigCode/FineWeb shape):

    1. EXACT: content-hash dedup, survivor = min doc_id per md5(text)
       (window min over the hash partition — shuffles 16-byte hashes);
    2. NEAR-DUP EDGES: banded-MinHash candidates over the survivors'
       shingles, verified with exact Jaccard >= 0.5
       (`_minhash_verified_pairs` — equi joins only, never all-pairs);
    3. CLUSTERS: connected components over the verified-pair graph
       (`_min_label_propagation` — O(log diameter) pointer-jumping rounds);
    4. SURVIVOR: per cluster keep the longest doc (tie: min doc_id).

    Output is the per-document verdict table `(doc_id, status in
    {{kept, exact_dup, near_dup}}, canonical)` — the artifact downstream
    stages (packing, training-mix) consume. Every stage is itself a
    registered operator; this query pins the COMPOSITION, including the
    boundaries where one stage's survivors feed the next (the classic
    integration bug — deduping near-dups against already-removed exact
    dups — is exactly what the oracle's `survivors` scoping checks).
    Iterative CC makes the Spark side a fixpoint loop; the oracle is a
    recursive-CTE transitive closure (viable at oracle SF)."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    exact = docs.select(
        "doc_id", "lang", "n_chars", F.min("doc_id").over(w).alias("canon_exact")
    ).localCheckpoint(
        eager=False
    )  # stage boundary: consumed by survivors (x3 paths) and the final verdict join
    survivors = exact.where(F.col("doc_id") == F.col("canon_exact"))
    sh = (
        shingles(spark, sf_dir)
        .join(survivors.select("doc_id"), "doc_id", "left_semi")
        .localCheckpoint(eager=False)  # consumed by minhash, sizes, verify
    )
    pairs = _minhash_verified_pairs(sh).select("doc_a", "doc_b")
    labels = _min_label_propagation(pairs)
    labeled = survivors.join(labels, survivors.doc_id == labels.node, "left").select(
        survivors.doc_id,
        "n_chars",
        F.coalesce(F.col("label"), survivors.doc_id).alias("cluster"),
    )
    rk = F.row_number().over(
        Window.partitionBy("cluster").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    )
    best = labeled.select("doc_id", "cluster", rk.alias("rk"))
    winners = best.where(F.col("rk") == 1).select(
        "cluster", F.col("doc_id").alias("winner")
    )
    return (
        exact.join(best, "doc_id", "left")
        .join(winners, "cluster", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("canon_exact"), F.lit("exact_dup"))
            .when(F.col("rk") == 1, F.lit("kept"))
            .otherwise(F.lit("near_dup"))
            .alias("status"),
            F.when(F.col("doc_id") != F.col("canon_exact"), F.col("canon_exact"))
            .when(F.col("rk") == 1, F.col("doc_id"))
            .otherwise(F.col("winner"))
            .alias("canonical"),
        )
    )


# --- paragraph-level near-dup (sub-document granularity) --------------------

PARA_TOKENS = 12
PARA_ID_STRIDE = 1 << 20  # para_id = doc_id * stride + pidx. The stride
# admits ~12.6M tokens per document before the pidx guard below fires
# (F.raise_error, not silent aliasing into the next doc's id space), and
# keeps para_id in int64 for doc_id < 2^43. Keeper selection is
# stride-independent: para_id orders exactly like (doc_id, pidx).


def _paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, pidx, para_id, ptext) paragraph rows — fixed
    token-window splitter (the only knob; a real corpus swaps in
    split-on-'\\n\\n'). Module-level so plan tests can audit the
    pre-checkpoint shape: the doc_id repartition must precede the
    posexplode (compact-file corpora read as ONE partition), and the
    token array is its own projection (the shingles() discipline —
    inlined split(text) re-evaluates per sub-expression)."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wtoks = docs.select("doc_id", "lang", F.split(F.col("text"), " ").alias("w"))
    w_arr = F.col("w")
    n_windows = F.ceil(F.size(w_arr) / F.lit(PARA_TOKENS)).cast("int")
    return wtoks.select(
        "doc_id",
        "lang",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_windows - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(w_arr, i * PARA_TOKENS + 1, PARA_TOKENS)
                ),
            )
        ).alias("pidx", "ptext"),
    ).select(
        "doc_id",
        "lang",
        F.col("pidx").cast("long").alias("pidx"),
        F.when(
            F.col("pidx") < PARA_ID_STRIDE,
            F.col("doc_id") * PARA_ID_STRIDE + F.col("pidx"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"paragraph index exceeds PARA_ID_STRIDE ({PARA_ID_STRIDE}); "
                        "split pathological document upstream: doc_id="
                    ),
                    F.col("doc_id").cast("string"),
                )
            )
        )
        .alias("para_id"),
        "ptext",
    )


@query(
    "x2_paragraph_dedup",
    oracle=dedent(
        f"""
        WITH RECURSIVE
        ws AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS w FROM documents
        ),
        paras AS (
            SELECT doc_id, lang, CAST(i AS BIGINT) AS pidx,
                   doc_id * {PARA_ID_STRIDE} + i AS para_id,
                   ARRAY_TO_STRING(w[{PARA_TOKENS}*i+1 : {PARA_TOKENS}*i+{PARA_TOKENS}], ' ') AS ptext
            FROM ws, UNNEST(RANGE(0, (LEN(w) + {PARA_TOKENS} - 1) // {PARA_TOKENS})) AS t(i)
        ),
        exact AS (
            SELECT *, MIN(para_id) OVER (PARTITION BY MD5(ptext)) AS canon_exact
            FROM paras
        ),
        survivors AS (SELECT * FROM exact WHERE para_id = canon_exact),
        toks AS (
            SELECT para_id, lang, STRING_SPLIT(ptext, ' ') AS t FROM survivors
        ),
        shingles AS (
            SELECT DISTINCT para_id AS doc_id, lang,
                   UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks WHERE LEN(t) >= 3
        ),
        hashed AS (
            SELECT doc_id, lang,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % 1073741824 AS hlo,
                   CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) // 1073741824 AS hhi,
                   s
            FROM shingles
        ),
        mins AS (
            SELECT doc_id, lang,
               {_MINHASH_MIN_SQL}
            FROM hashed GROUP BY 1, 2
        ),
        bk AS (
            SELECT doc_id, lang,
                   UNNEST(RANGE(0, {N_MINHASH_BANDS})) AS band,
                   UNNEST([{_MINHASH_BKEY_SQL}]) AS bkey
            FROM mins
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
            FROM bk a JOIN bk b
              ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS i
            FROM cand c
            JOIN shingles x ON x.doc_id = c.doc_a AND x.lang = c.lang
            JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s AND y.lang = c.lang
            GROUP BY 1, 2
        ),
        pair AS (
            SELECT i.doc_a, i.doc_b FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pair
            UNION ALL SELECT doc_b, doc_a FROM pair
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach AS (
            SELECT node AS src, node AS dst FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
        ),
        clusters AS (SELECT src AS para_id, MIN(dst) AS cluster FROM reach GROUP BY src),
        st AS (
            SELECT e.doc_id, e.pidx, e.ptext,
                   CASE WHEN e.para_id <> e.canon_exact THEN 'exact'
                        WHEN c.cluster IS NOT NULL AND c.cluster <> e.para_id THEN 'near'
                        ELSE 'kept' END AS st
            FROM exact e LEFT JOIN clusters c ON c.para_id = e.para_id
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_paras,
               CAST(SUM(CASE WHEN st = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN st = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_removed,
               CAST(SUM(CASE WHEN st = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_removed,
               COALESCE(STRING_AGG(CASE WHEN st = 'kept' THEN ptext END,
                                   ' ' ORDER BY pidx), '') AS kept_text
        FROM st GROUP BY doc_id
        """
    ),
    tags=("X2", "X1", "paragraph", "pipeline"),
)
def x2_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level near-dup dedup — the FineWeb/Dolma corpus-cleaning
    granularity (document-level dedup misses boilerplate repeated ACROSS
    otherwise-distinct documents). The synthetic corpus has no newline
    paragraph marks, so the splitter is fixed {PARA_TOKENS}-token windows;
    a real corpus swaps in split-on-'\\n\\n' and every stage downstream of
    ``paras`` is unchanged — the splitter is the only knob.

    Stages (each reusing the document-level machinery at paragraph grain):
    1. SPLIT: token windows -> (doc_id, pidx, para_id, ptext), exploded
       AFTER a doc_id repartition (compact-file corpora read as one
       partition — the explode must fan out first);
    2. EXACT: window-min over md5(ptext) — the corpus-wide "same paragraph
       seen elsewhere" test, keeper = min para_id;
    3. NEAR-DUP: banded-MinHash + exact-Jaccard >= 0.5 over the exact
       survivors' paragraph shingles (``_minhash_verified_pairs`` — equi
       joins only), then min-label connected components
       (``_min_label_propagation``); a paragraph survives iff it IS its
       cluster's min id;
    4. REASSEMBLE: per document, scrubbed text = surviving paragraphs
       re-joined in position order (sort_array over collected (pidx,
       ptext) structs) plus removal stats — the artifact a curation
       pipeline writes back.

    Everything is exact integer/string output, so the recursive-CTE
    oracle (the fuzzy-pipeline pattern at paragraph grain) hash-matches."""
    paras = _paragraphs(spark, sf_dir)
    w = Window.partitionBy(F.md5("ptext"))
    exact = paras.withColumn(
        "canon_exact", F.min("para_id").over(w)
    ).localCheckpoint(eager=False)  # stage boundary: survivors + final verdict
    survivors = exact.where(F.col("para_id") == F.col("canon_exact"))

    ptoks = survivors.select(
        F.col("para_id").alias("doc_id"), "lang", F.split(F.col("ptext"), " ").alias("t")
    )
    t = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    sh = (
        ptoks.where(F.size(t) >= 3)
        .select("doc_id", "lang", F.explode(F.array_distinct(grams)).alias("s"))
        .localCheckpoint(eager=False)  # consumed by minhash, sizes, verify
    )
    pairs = _minhash_verified_pairs(sh).select("doc_a", "doc_b")
    labels = _min_label_propagation(pairs)

    st = (
        exact.join(labels, exact.para_id == labels.node, "left")
        .withColumn(
            "st",
            F.when(F.col("para_id") != F.col("canon_exact"), F.lit("exact"))
            .when(
                F.col("label").isNotNull() & (F.col("label") != F.col("para_id")),
                F.lit("near"),
            )
            .otherwise(F.lit("kept")),
        )
    )
    kept_struct = F.when(F.col("st") == "kept", F.struct("pidx", "ptext"))
    return st.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum((F.col("st") == "kept").cast("long")).alias("n_kept"),
        F.sum((F.col("st") == "exact").cast("long")).alias("n_exact_removed"),
        F.sum((F.col("st") == "near").cast("long")).alias("n_near_removed"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)), lambda s: s["ptext"]
            ),
            " ",
        ).alias("kept_text"),
    )


@query(
    "x2_prefix_filter_join",
    oracle=dedent(
        f"""
        WITH {_SHINGLE_SQL_CTE},
        sized AS MATERIALIZED (
            SELECT doc_id, lang, s,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM shingles
        ),
        df AS (
            SELECT lang, s, COUNT(*) AS df FROM sized GROUP BY 1, 2
        ),
        ranked AS (
            SELECT sized.doc_id, sized.lang, sized.s, sized.n,
                   ROW_NUMBER() OVER (PARTITION BY sized.doc_id
                                      ORDER BY df.df, sized.s) AS rk
            FROM sized JOIN df ON df.lang = sized.lang AND df.s = sized.s
        ),
        prefix AS MATERIALIZED (
            SELECT * FROM ranked WHERE rk <= n - (n + 1) // 2 + 1
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.n AS na, b.n AS nb
            FROM prefix a JOIN prefix b
              ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, c.na, c.nb, COUNT(*) AS i
            FROM cand c
            JOIN sized sa ON sa.doc_id = c.doc_a
            JOIN sized sb ON sb.doc_id = c.doc_b
                         AND sb.s = sa.s AND sb.lang = sa.lang
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               ROUND(i * 1.0 / (na + nb - i), 6) AS jaccard
        FROM inter
        WHERE i * 1.0 / (na + nb - i) >= 0.5
        """
    ),
    tags=("X2", "prefix-filter"),
)
def x2_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. 2007 / Xiao et al. 2008) — the principled version of
    ``x2_ngram_jaccard``'s "drop top-frequency shingles" remark, with a
    guarantee instead of a heuristic: order every document's shingles by
    ascending document frequency and generate candidates ONLY from each
    doc's (|S| - ceil(t*|S|) + 1)-prefix of rarest shingles. PPJoin
    Lemma 1: any pair with Jaccard >= t MUST share a prefix token under
    ANY common total order, so recall is 100% by theorem — candidates
    then get an exact intersection recount, making the output IDENTICAL
    to the full inverted-index join (pinned in tests) while candidate
    pairs shrink from "share any shingle" to "share a rare shingle".

    The prefix length uses the integer identity ceil(t*n) = (n+1)//2 at
    t = 0.5 — no float ceil crosses an engine boundary. The two engines
    deliberately use DIFFERENT total orders (Spark: (df, xxhash64(s));
    DuckDB: (df, s)) — the lemma holds for any order, both candidate sets
    contain every true pair, and exact verification makes the OUTPUT
    order-invariant; hash-green is evidence the recall theorem, not the
    candidate set, carries the contract.

    Scale shape: every stage is a keyed shuffle (df count on (lang, s),
    per-doc rank window on doc_id, candidate equi-join on the prefix
    shingle) — never all-pairs, and the candidate join key is by
    construction a RARE token, so the inverted-index hot buckets that
    force the heuristic in the plain join never form. This is how exact
    (non-MinHash) dedup survives a web-scale corpus: prefix filtering is
    the standard exact tier under the approximate LSH tier."""
    sized = sized_shingles(spark, sf_dir)  # consumed by df, ranked, verify
    df = sized.groupBy("lang", "s").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix = (
        sized.join(df, ["lang", "s"])
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= F.col("n") - F.expr("(n + 1) DIV 2") + 1)
        .select("doc_id", "lang", "s", "n")
        # both candidate self-join sides consume this; without the boundary
        # the df join + rank window would execute twice (exchange reuse
        # does not cover self-join sides — the sized_shingles lesson)
        .localCheckpoint(eager=False)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    sa, sb = sized.alias("sa"), sized.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.s") == F.col("sa.s"))
            & (F.col("sb.lang") == F.col("sa.lang")),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _emit_jaccard(inter)


# --- X4/X2: content-defined chunking + chunk-level dedup --------------------

CDC_MOD = 16  # expected chunk length in tokens: boundary after any token
# whose 60-bit md5 % 16 == 0, so boundaries depend ONLY on local content —
# the CDC property (FastCDC/gear-hash family, token granularity): inserting
# or deleting text perturbs the chunking only inside the touched chunk,
# while fixed-width chunking shifts EVERY downstream boundary. The pytest
# asserts the property directly (insert a token -> only one chunk key
# changes, suffix chunk keys identical).
CDC_PACK = 1 << 20  # first-occurrence pack = doc_id * 2^20 + chunk_idx;
# chunk_idx < tokens-per-doc (~10^2 here, < 2^20 for any document the
# PARA_ID_STRIDE analysis admits), doc_id < 2^43 -> pack fits BIGINT.
CDC_DOC_CAP = 1 << 43  # doc_id domain the pack proof covers


def _cdc_pack_sql(engine: str) -> str:
    """The guarded first-occurrence pack (WP_DEG_CAP discipline): a
    document past either packing bound RAISES in BOTH engines instead of
    silently corrupting the dedup adjudication — the oracle cannot catch
    an overflow because both engines would compute the identical wrong
    pack. The guard must wrap the pack expression itself (it is consumed
    by the MIN window and the dup SUMs, so column pruning cannot drop
    it)."""
    raise_fn = "ERROR" if engine == "duckdb" else "RAISE_ERROR"
    return (
        f"CASE WHEN chunk_idx >= {CDC_PACK} OR doc_id >= {CDC_DOC_CAP} "
        f"THEN CAST({raise_fn}(CONCAT('CDC pack overflow: doc_id=', "
        f"CAST(doc_id AS STRING), ' chunk_idx=', "
        f"CAST(chunk_idx AS STRING))) AS BIGINT) "
        f"ELSE doc_id * {CDC_PACK} + chunk_idx END"
    )


# the ONE engine-neutral 60-bit hash spelling, shared with the graph
# family (review r8: no second copy of the primitive)
from .graph import _h60_sql as _cdc_h60  # noqa: E402


def _cdc_chunks_sql(engine: str, docs_rel: str) -> str:
    """The chunk table as ONE SQL text per engine (same CTE skeleton; only
    the posexplode and ordered-string-agg spellings differ — Spark zips
    with posexplode(), DuckDB zips parallel UNNESTs; Spark orders the agg
    via array_sort(collect_list(struct(...))), DuckDB via STRING_AGG
    ORDER BY)."""
    if engine == "duckdb":
        explode = (
            "SELECT doc_id, UNNEST(l) AS tok, "
            "UNNEST(RANGE(0, LEN(l))) AS pos FROM lists"
        )
        joined = "STRING_AGG(tok, ' ' ORDER BY pos)"
    else:
        explode = "SELECT doc_id, posexplode(l) AS (pos, tok) FROM lists"
        joined = (
            "array_join(transform(array_sort(collect_list(struct(pos, tok)))"
            ", x -> x.tok), ' ')"
        )
    h_tok = _cdc_h60("tok", engine)
    h_chunk = _cdc_h60(joined, engine)
    return f"""
        WITH lists AS (
            SELECT doc_id, SPLIT(text, ' ') AS l FROM {docs_rel}
        ),
        toks AS ({explode}),
        b AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN {h_tok} % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS bnd
            FROM toks
        ),
        c AS (
            SELECT doc_id, pos, tok,
                   CAST(COALESCE(SUM(bnd) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS chunk_idx
            FROM b
        )
        SELECT doc_id, chunk_idx,
               {h_chunk} AS chunk_key,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(MIN(pos) AS BIGINT) AS start_pos
        FROM c GROUP BY doc_id, chunk_idx
    """


@query(
    "x4_cdc_chunks",
    oracle=_cdc_chunks_sql("duckdb", "documents"),
    tags=("X4", "X1", "chunking"),
)
def x4_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (token-granular gear-hash CDC): a chunk
    boundary falls after every token whose 60-bit md5 % {CDC_MOD} == 0,
    so chunk extents are functions of LOCAL content only — an edit
    perturbs one chunk and every other chunk key in the corpus survives
    (asserted by the pytest's insertion-shift property test). This is the
    chunk-granularity dedup primitive of pretraining pipelines: exact
    dedup catches identical documents, CDC chunk dedup catches the
    boilerplate/quotation/mirror REGIONS inside otherwise-distinct
    documents, robust to surrounding edits (where fixed-stride chunking
    desynchronizes after the first insertion).

    Scale shape: pre-explode repartition on doc_id (single-file parquet
    gotcha), one per-doc window cumsum for chunk ids riding the same
    doc_id partitioning, one groupBy (doc_id, chunk_idx) whose ordered
    reassembly is engine-side (array_sort(collect_list) — bounded by the
    ~{CDC_MOD}-token expected chunk length, no skew: the boundary hash is
    uniform). Emits (doc_id, chunk_idx, chunk_key, n_tokens, start_pos) —
    chunk_key is the 60-bit content address downstream dedup joins on."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    docs.createOrReplaceTempView("_cdc_docs")
    return spark.sql(_cdc_chunks_sql("spark", "_cdc_docs"))


def _cdc_dedup_sql(engine: str, docs_rel: str) -> str:
    chunks = _cdc_chunks_sql(engine, docs_rel)
    return f"""
        WITH chunks AS ({chunks}),
        packed AS (
            SELECT doc_id, chunk_idx, chunk_key, n_tokens,
                   {_cdc_pack_sql(engine)} AS pack
            FROM chunks
        ),
        occ AS (
            SELECT doc_id, chunk_idx, chunk_key, n_tokens, pack,
                   MIN(pack) OVER (PARTITION BY chunk_key) AS first_pack
            FROM packed
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN pack <> first_pack THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN pack <> first_pack THEN n_tokens ELSE 0
                        END) AS BIGINT) AS dup_tokens,
               CAST((1000000 * SUM(CASE WHEN pack <> first_pack
                                        THEN n_tokens ELSE 0
                                   END)) {"//" if engine == "duckdb" else "DIV"}
                    SUM(n_tokens) AS BIGINT) AS dup_share_micro
        FROM occ GROUP BY doc_id
    """


@query(
    "x2_cdc_dedup",
    oracle=_cdc_dedup_sql("duckdb", "documents"),
    tags=("X2", "X1", "dedup", "chunking"),
)
def x2_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup audit over the CDC chunk table: a chunk
    occurrence is DUPLICATE iff an identical chunk key occurs earlier in
    corpus order (first-occurrence-keeps, the x1 exact-dedup discipline,
    decided by one MIN window over the packed (doc_id, chunk_idx) — no
    self-join). Emits the per-document novelty profile: chunk and token
    counts, duplicated-token count, and dup_share_micro — the integer
    micro-share of a document's tokens that are boilerplate already seen
    elsewhere (the signal pretraining curation thresholds on; pure
    integer division, no float anywhere in the lane).

    Scale shape: the chunk table's groupBy partitioning feeds a window
    keyed on chunk_key (one exchange — hash of a 60-bit int, uniform by
    construction) and a final doc_id aggregation (map-side combinable).
    Chunk-key skew is bounded: a pathological chunk repeated across the
    corpus concentrates ONE key's window at min-reduce cost, not a join
    fan-out — the window computes a single MIN, so the hot key costs
    O(occurrences), never O(occurrences^2)."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    docs.createOrReplaceTempView("_cdc_docs")
    return spark.sql(_cdc_dedup_sql("spark", "_cdc_docs"))
