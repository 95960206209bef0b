"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the repository root. The smoke runs start one Spark driver each
(about a minute apiece on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]").appName("perfbench-tests")
        .config("spark.ui.enabled", "false").getOrCreate()
    )
    yield session
    run.shut_down(session)


def test_hash_is_order_insensitive(spark):
    rows = [(i, f"k{i % 7}", i / 4.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, key string, v double")
    shuffled = spark.createDataFrame(list(reversed(rows)), "id int, key string, v double").repartition(5)
    assert run.content_hash(df) == run.content_hash(shuffled)


def test_hash_changes_on_value_or_type(spark):
    rows = [(i, f"k{i % 7}", i / 4.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, key string, v double")
    base = run.content_hash(df)
    changed = spark.createDataFrame([(0, "k0", 0.5)] + rows[1:], "id int, key string, v double")
    assert run.content_hash(changed) != base
    assert run.content_hash(df.withColumn("id", df["id"].cast("long"))) != base
    assert run.content_hash(df.limit(199)) != base


@pytest.mark.parametrize("text, value", [
    ("9", 9.0),
    ("1,234", 1234.0),
    ("9 ms", 9.0),
    ("1.5 s", 1500.0),
    ("1511.4 KiB", 1511.4 * 1024),
    ("total (min, med, max (stageId: taskId))\n216.9 KiB (49.3 KiB, 54.1 KiB, 59.2 KiB (stage 3.0: task 12))",
     216.9 * 1024),
    ("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 300 ms, 500 ms (stage 2.0: task 7))", 1200.0),
    ("total (min, med, max (stageId: taskId))\n0 B (0 B, 0 B, 0 B (stage 1.0: task 1))", 0.0),
])
def test_sql_metric_parser(text, value):
    assert stats.parse_sql_metric(text) == pytest.approx(value)


def test_sql_metric_parser_rejects_unknown_units():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("3 furlongs")


@pytest.mark.parametrize("n, p", [
    (0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
    (999, 95), (1000, 99), (9999, 99), (10000, 99.9),
])
def test_tail_percentile_has_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile([3.0], 90) == 3.0


def test_cpu_ticks_reads_busy_and_steal():
    # user nice system idle iowait irq softirq steal guest guest_nice
    assert stats.cpu_ticks("cpu  100 2 30 900 5 1 4 60 0 0") == (137, 60)


def test_without_steal_scales_wall_by_the_cpu_share_received():
    assert stats.without_steal(8.0, (1000, 50), (1300, 50)) == 8.0
    assert stats.without_steal(8.0, (1000, 50), (1300, 350)) == pytest.approx(4.0)
    assert stats.without_steal(8.0, (1000, 50), (1000, 50)) == 8.0


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["sql_engine", "driver_iterative", "stream_drain"])
def test_smoke_run_is_correct(workload):
    proc = _run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_smoke_stream_bypasses_python_workers():
    proc = _run(["--workload", "stream_drain", "--seed", "7", "--seconds", "1", "--trace", "1", "--smoke"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    assert set(metrics) == set(run.PER_LAYER)
    assert metrics["pyworkers.bytes_sent"]["value"] == 0
    assert metrics["stream.batches"]["value"] >= 6  # one per file, and maybe one for the watermark


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(["--workload", "sql_engine", "--seed", "1", "--seconds", "1"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout == ""
