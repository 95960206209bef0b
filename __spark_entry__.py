"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`iii_aibigdata_capstone_spark.queries` — the engine's
query registry. Each registry entry pairs a Spark DataFrame builder with an
ANSI-SQL DuckDB oracle (or ``None`` for non-SQL-expressible operators such
as greedy NMS / LSH / model scoring, which get rows-only checks).

The correctness check runs queries in the order given here and may stop
early on a time budget, so both maps list them in :func:`queries.check_order`
order, computed from the ``CORRECTNESS_r{N}.json`` records beside
this file: lanes with no green latest record first, then the stalest greens.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from iii_aibigdata_capstone_spark import queries as q  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _ordered_specs() -> list[q.QuerySpec]:
    """Registry specs in check order, from one read of the records."""
    rounds = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                rounds[int(m.group(1))] = json.load(fh)
    return q.check_order(q.ALL_SPECS, rounds)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q.flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {spec.name: spec.builder for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    """Equivalent ANSI SQL per query, runnable by DuckDB on the same
    parquet tables. Omitted for non-SQL-expressible operators."""
    return {
        spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle is not None
    }
