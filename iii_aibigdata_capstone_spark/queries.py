"""Assemble the full query registry from the operator modules.

:data:`ALL_SPECS` lists every spec in module registration order; importing
this module reads no file and starts no process. ``__spark_entry__.py`` (the
driver contract) is a thin adapter over it: ``queries()``/``oracle_sql()``
read the past ``CORRECTNESS_r{N}.json`` records and order the specs with
:func:`check_order`, whose single rule is: a lane ranks by the round of its
latest record if that record is green for it, else 0, and lanes sort by
rank ascending and stable.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .catalog import table
from .ml import cluster, metrics, quarter, rf_apply
from .operators import (
    analytics,
    curation,
    dedup,
    graph,
    grouped,
    io_formats,
    kernels,
    multimodal,
    relational,
    replay,
    similarity,
    skew,
    surface,
    textual,
    timeseries,
)
from .registry import QuerySpec


def _collect_specs() -> list[QuerySpec]:
    modules = (
        relational, timeseries, dedup, similarity, textual, grouped, multimodal,
        surface, io_formats, kernels, replay, skew, curation, graph, analytics,
        quarter, cluster, metrics, rf_apply,
    )
    specs: list[QuerySpec] = []
    seen: set[str] = set()
    for module in modules:
        for spec in module.SPECS:
            if spec.name in seen:
                raise ValueError(f"duplicate query name {spec.name!r}")
            seen.add(spec.name)
            specs.append(spec)
    return specs


def check_order(
    specs: Sequence[QuerySpec], rounds: Mapping[int, Mapping[str, Mapping]]
) -> list[QuerySpec]:
    """Order ``specs`` for a verifier that checks them in order and may stop
    early on a time budget, given its past results: round number -> query
    name -> record (``hash_match``, ``err``, ``spark_rows``).

    A spec's rank is the round of its latest record if that record is
    green for the spec, else 0. Green means ``hash_match`` is true, or the
    record is the ``no_oracle`` rows-only record and the spec has no
    oracle. Specs sort by rank, ascending and stable: never-recorded and
    red lanes first, then the stalest greens, ties in registration order.
    """
    latest = {
        name: (rnd, rec) for rnd in sorted(rounds) for name, rec in rounds[rnd].items()
    }

    def rank(spec: QuerySpec) -> int:
        rnd, rec = latest.get(spec.name, (0, {}))
        green = rec.get("hash_match") is True or (
            spec.oracle is None
            and rec.get("err") == "no_oracle"
            and rec.get("spark_rows") is not None
        )
        return rnd if green else 0

    return sorted(specs, key=rank)


ALL_SPECS: list[QuerySpec] = _collect_specs()


def registry() -> dict[str, QuerySpec]:
    return {spec.name: spec for spec in ALL_SPECS}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end query: scan -> filter -> 5-way join ->
    aggregate -> window rank (SURVEY.md §7's 'relational spine').

    Revenue per nation with a per-region rank, top 3 nations per region.
    region/nation broadcast; one shuffle for the big join spine, one for
    the (tiny) windowed ranking. The lineitem⋈orders edge is MERGE-hinted:
    both sides are fact tables, and letting the size estimator broadcast
    one of them is the plan that dies at 100 TB (and is measurably slower
    even at sf0.1 — the q5 lesson).
    """
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_nation = (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )
    w = Window.partitionBy("r_name").orderBy(F.desc("revenue"), F.asc("n_name"))
    return (
        per_nation.withColumn("rank_in_region", F.row_number().over(w))
        .where(F.col("rank_in_region") <= 3)
        .select("r_name", "n_name", "revenue", "n_lines", "rank_in_region")
    )
