"""Driver-contract shape tests (the probes from the verify recipe, made
permanent): entry() is idempotent, bad paths fail loudly, and every oracle
key maps to a real query."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

import __spark_entry__ as E


def test_entry_runs_twice(spark):
    a = E.entry(spark).collect()
    b = E.entry(spark).collect()
    assert len(a) == len(b) > 0
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_oracle_keys_subset_of_queries():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 75  # registry should only grow


def test_bogus_sf_dir_raises(spark):
    from pyspark.errors import AnalysisException

    qs = E.queries()
    with pytest.raises(AnalysisException):
        qs["q1_pricing_summary"](spark, "/root/testdata/sf_does_not_exist").collect()


def test_check_order_rule_on_synthetic_records():
    """queries.check_order, the correctness-check order: a lane ranks by the
    round of its latest record if that record is green for it, else 0;
    lanes sort by rank, ascending and stable. Synthetic records only."""
    from iii_aibigdata_capstone_spark.queries import check_order
    from iii_aibigdata_capstone_spark.registry import QuerySpec

    def spec(name, oracle="SELECT 1"):
        return QuerySpec(name=name, builder=None, oracle=oracle)

    green = {"hash_match": True, "err": None, "spark_rows": 3}
    red = {"hash_match": False, "err": None, "spark_rows": 3}
    rows_only = {"hash_match": None, "err": "no_oracle", "spark_rows": 3}
    specs = [
        spec("stale_green"),
        spec("fresh_green"),
        spec("tie_a"),
        spec("red_after_green"),
        spec("never_recorded"),
        spec("sketch", oracle=None),
        spec("gained_oracle"),
        spec("tie_b"),
    ]
    rounds = {  # keyed by round, deliberately not in round order
        10: {"fresh_green": green, "red_after_green": red, "gained_oracle": rows_only},
        1: {"stale_green": green, "red_after_green": green},
        2: {"tie_a": green, "sketch": rows_only, "tie_b": green, "unregistered": red},
    }
    assert [s.name for s in check_order(specs, rounds)] == [
        # rank 0: red latest record, never recorded, rows-only record for
        # a lane that has an oracle; module order among them
        "red_after_green",
        "never_recorded",
        "gained_oracle",
        # then the stalest greens; a rows-only record is green for a lane
        # with no oracle; ties keep module order
        "stale_green",
        "tie_a",
        "sketch",
        "tie_b",
        "fresh_green",
    ]
    assert check_order(specs, {}) == specs


def test_registry_import_reads_no_records_and_starts_no_process():
    """Importing the registry in a fresh interpreter starts no subprocess
    and opens no correctness record: the check order is applied by the
    ``__spark_entry__`` adapter, not at library import."""
    probe = textwrap.dedent(
        """
        import sys

        seen = []

        def hook(event, args):
            if event == "subprocess.Popen" or (
                event == "open" and "CORRECTNESS_r" in str(args[0])
            ):
                seen.append((event, str(args[0])))

        sys.addaudithook(hook)
        import iii_aibigdata_capstone_spark.queries as q

        assert q.ALL_SPECS
        print(seen)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout


def test_all_queries_have_unique_sorted_columns():
    """The driver sorts columns by name before hashing — duplicate column
    names in any query output would make the comparison ambiguous."""
    from iii_aibigdata_capstone_spark.queries import ALL_SPECS

    assert len({s.name for s in ALL_SPECS}) == len(ALL_SPECS)


def test_bench_headline_names_registered_lanes_once():
    import bench
    from iii_aibigdata_capstone_spark.queries import registry

    specs = registry()
    assert [n for n in bench.HEADLINE if n not in specs] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def _fake_lane(builds, writes):
    """A fake session (counting ``_jvm.System.gc``) and a fake builder whose
    call and noop write advance a fake clock by the given seconds."""
    from types import SimpleNamespace as NS

    clock, calls = [0.0], {"build": 0, "gc": 0, "save": 0}
    builds, writes = iter(builds), iter(writes)

    def advance(key, seconds):
        calls[key] += 1
        clock[0] += next(seconds)

    def gc():
        calls["gc"] += 1

    writer = NS(save=lambda: advance("save", writes))
    writer.format = lambda fmt: writer if fmt == "noop" else None
    writer.mode = lambda mode: writer
    spark = NS(_jvm=NS(System=NS(gc=gc)))

    def builder(spark_, sf_dir):
        advance("build", builds)
        return NS(write=writer)

    return spark, builder, calls, NS(perf_counter=lambda: clock[0])


def test_bench_sampler_fixed_count_median_and_build_write_split(monkeypatch):
    """bench's one lane timer, without Spark: SAMPLES builder calls and GCs,
    build time split from write time, the median total reported, sample 1
    kept as first_sample, and a raising lane recorded as an error."""
    import bench

    assert bench.SAMPLES == 3
    spark, builder, calls, clock = _fake_lane([4.0, 1.0, 2.0], [10.0, 40.0, 20.0])
    monkeypatch.setattr(bench, "time", clock)
    assert bench.sample_lane(spark, builder, "sf") == [(4.0, 10.0), (1.0, 40.0), (2.0, 20.0)]
    assert calls == {"build": 3, "gc": 3, "save": 3}

    spark, builder, calls, clock = _fake_lane([4.0, 1.0, 2.0], [10.0, 40.0, 20.0])
    monkeypatch.setattr(bench, "time", clock)

    def broken(spark_, sf_dir):
        raise ValueError("boom")

    out = bench.time_lanes(spark, {"lane": builder, "broken": broken}, "sf")
    assert calls == {"build": 3, "gc": 4, "save": 3}  # broken: one gc, then raise
    assert out["samples"] == {"lane": [14.0, 41.0, 22.0]}
    assert out["timings"] == {"lane": 22.0}  # the median, not the min or mean
    assert out["first_sample"] == {"lane": 14.0}
    assert out["build_s"] == {"lane": 2.0}
    assert out["errors"] == {"broken": "ValueError: boom"}


def test_temp_view_queries_are_idempotent(spark):
    """Queries that register temp views (grouping sets, UDTF) must be
    re-runnable in one session — createOrReplaceTempView, never create."""
    qs = E.queries()
    for name in ("x5_grouping_sets", "x4_sentence_spans"):
        a = sorted(map(tuple, qs[name](spark, "/root/testdata/sf0.001").collect()))
        b = sorted(map(tuple, qs[name](spark, "/root/testdata/sf0.001").collect()))
        assert a == b and len(a) > 0


def _sf1_dir():
    import os

    d = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/_testdata/sf1")
    return d if os.path.isdir(d) else None


def test_sf1_unroll_slack_guards():
    """When the perf-probe sf1 slice exists (tools/gen_sf1.py), re-assert
    the fixed-unroll slack arguments one decade up: BFS seed-set
    eccentricity and community-LPA fixpoint depth must still fit their
    8-round unrolls (the probe times a TRUNCATED run otherwise, silently).
    Pure-python replay over the thinned purchase graph — no Spark."""
    import duckdb
    import pytest

    from .graph_replay import build_adjacency, h60, python_bfs, python_lpa_fixpoint

    sf1 = _sf1_dir()
    if sf1 is None:
        pytest.skip("sf1 perf slice not generated")
    from iii_aibigdata_capstone_spark.operators.graph import (
        BFS_ROUNDS,
        BFS_SEED_MOD,
        COMM_ROUNDS,
        COMM_SEED_MOD,
        COMM_SHIFT,
        COMM_UNREACHED,
    )

    con = duckdb.connect()
    rows = con.execute(
        "SELECT DISTINCT o.o_custkey, l.l_suppkey + 1000000 "
        f"FROM '{sf1}/lineitem.parquet' l "
        f"JOIN '{sf1}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_quantity >= 45"
    ).fetchall()
    con.close()
    adj = build_adjacency(rows)

    seeds = {
        n for n in adj if n >= 1_000_000 and (n - 1_000_000) % BFS_SEED_MOD == 0
    }
    assert seeds
    _lvl, depth = python_bfs(adj, seeds)
    assert depth - 1 <= BFS_ROUNDS, f"sf1 eccentricity {depth - 1} exceeds unroll"

    cseeds = {n for n in adj if h60(str(n)) % COMM_SEED_MOD == 0}
    _p, rounds = python_lpa_fixpoint(
        adj, cseeds, COMM_SHIFT, COMM_UNREACHED * COMM_SHIFT
    )
    assert rounds <= COMM_ROUNDS, f"sf1 LPA fixpoint {rounds} exceeds unroll"


def _inferred_table(spark, path):
    """A table read the way Spark infers it: the reader's own schema job,
    then the epoch-nanos LONG that ``nanosAsLong`` surfaces for
    TIMESTAMP(NANOS) floored to micros as a naive timestamp."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema(spark, sf):
    """catalog.table takes its schema from the parquet footer and starts no
    job; for every table file it must equal the schema Spark infers."""
    from iii_aibigdata_capstone_spark.catalog import TABLES, table

    from .conftest import TEST_SF_DIR

    sf_dir = os.path.join(os.path.dirname(TEST_SF_DIR), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no {sf_dir}")
    for name in TABLES:
        want = _inferred_table(spark, f"{sf_dir}/{name}.parquet").schema
        assert table(spark, sf_dir, name).schema == want, name


def test_footer_nanos_timestamp_reads_as_ntz_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) column written by pyarrow comes out of the catalog
    as TIMESTAMP_NTZ holding the same values as the inferred read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iii_aibigdata_capstone_spark.catalog import table

    ns = [1_700_000_000_123_456_789, 999, None, 86_400_000_000_000_001]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2, 3, 4]), "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    got = table(spark, str(tmp_path), "events")
    want = _inferred_table(spark, str(tmp_path / "events.parquet"))
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_table_reads_keep_the_callers_runtime_confs(spark):
    """A runtime conf the caller set survives the next catalog read; a key
    the caller unset gets the engine's value back."""
    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.session import RUNTIME_CONFS

    from .conftest import TEST_SF_DIR

    key = "spark.sql.adaptive.enabled"
    table(spark, TEST_SF_DIR, "region")
    spark.conf.set(key, "false")
    try:
        table(spark, TEST_SF_DIR, "region")
        assert spark.conf.get(key) == "false"
        spark.conf.unset(key)
        assert spark.conf.get(key, None) is None
        table(spark, TEST_SF_DIR, "region")
        assert spark.conf.get(key, None) == RUNTIME_CONFS[key]
    finally:
        spark.conf.set(key, RUNTIME_CONFS[key])
