"""Layer probes for the traced run: spans, counts and Spark's own counters.

Every probe sits in the benchmark, around calls into the engine's layers;
the engine itself is not instrumented. A traced run records:

* spans (name, start, end, parent, lane-sample id) kept in memory and
  written once at the end;
* ``catalog.*`` around ``DataFrameReader.parquet`` (each table read costs
  a schema job) and ``DataStreamReader.parquet``;
* ``operators.*``: the builder call, and the DataFrame actions it makes
  (``collect``, ``localCheckpoint``, ...) as eager sub-executions;
* ``exec.*``: jobs, stages, tasks and task metrics from the scheduler and
  the status store, per phase (build, write);
* ``pyworkers.*``: Python-worker SQL metrics of the executions a phase ran.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

from stats import parse_sql_metric

# DataFrame actions that run a Spark job from inside a builder. On Spark 4
# the classic DataFrame class holds them; patching pyspark.sql.DataFrame
# would count nothing.
EAGER_ACTIONS = (
    "collect", "count", "first", "head", "take", "tail", "toPandas", "toArrow",
    "toLocalIterator", "localCheckpoint", "checkpoint", "isEmpty", "show",
    "foreach", "foreachPartition",
)

PYWORKER_METRICS = {
    "data sent to Python workers": "pyworkers.bytes_sent",
    "data returned from Python workers": "pyworkers.bytes_returned",
    "time to run Python workers": "pyworkers.run_ms",
    "time to initialize Python workers": "pyworkers.init_ms",
}

EXEC_COUNTS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


class Trace:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, sample: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "sample": sample or (parent["sample"] if parent else None),
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counts": {},
            **attrs,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.spans.append(rec)

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    def write(self, path: str, header: dict) -> None:
        spans = sorted(self.spans, key=lambda s: s["id"])
        with open(path, "w") as fh:
            json.dump({**header, "spans": spans}, fh)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part its direct children cover."""
    children = sum(duration(s) for s in spans if s["parent"] == span["id"])
    return duration(span) - children


class SparkCounters:
    """Job, stage, task and Python-worker counts between two marks."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self.gateway = spark.sparkContext._gateway

    def mark(self) -> tuple[int, int, int]:
        dag = self.jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId(), self._last_execution_id()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Counts for everything that ran after ``mark``; waits until the
        listener bus has delivered every event to the status stores."""
        self.jsc.listenerBus().waitUntilEmpty()
        job0, stage0, exec0 = mark
        job1, stage1, _ = self.mark()
        out = dict.fromkeys(EXEC_COUNTS, 0.0)
        out["jobs"] = float(job1 - job0)
        store = self.jsc.statusStore()
        no_quantiles = self.gateway.new_array(self.jvm.double, 0)
        for sid in range(stage0, stage1):
            try:
                attempts = store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False, no_quantiles
                )
            except Exception:  # stage never submitted (evicted or unknown)
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
        out.update(self._python_metrics(exec0))
        return out

    def _python_metrics(self, after_execution: int) -> dict[str, float]:
        out = dict.fromkeys(PYWORKER_METRICS.values(), 0.0)
        store = self._sql_store()
        executions = store.executionsList()
        for i in range(executions.size() - 1, -1, -1):
            ex = executions.apply(i)
            if ex.executionId() <= after_execution:
                break
            names = {}
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in PYWORKER_METRICS:
                    names[m.accumulatorId()] = PYWORKER_METRICS[m.name()]
            if not names:
                continue
            values = store.executionMetrics(ex.executionId()).iterator()
            while values.hasNext():
                kv = values.next()
                key = names.get(kv._1())
                if key:
                    out[key] += parse_sql_metric(kv._2())
        return out


class LayerProbes:
    """Patches the catalog read and DataFrame actions for a traced run.

    Spans are recorded only while a builder runs (inside an
    ``operators.build`` span), so the benchmark's own reads and checks
    never count.
    """

    def __init__(self, trace: Trace, counters: SparkCounters):
        self.trace = trace
        self.counters = counters
        self._depth = threading.local()

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader
        from pyspark.sql.streaming.readwriter import DataStreamReader

        self._patch(DataFrameReader, "parquet", "catalog.read")
        self._patch(DataStreamReader, "parquet", "catalog.read")
        for name in EAGER_ACTIONS:
            if hasattr(DataFrame, name):
                self._patch(DataFrame, name, "operators.eager")

    def _patch(self, cls: type, name: str, span_name: str) -> None:
        original = getattr(cls, name)
        probes = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            depth = getattr(probes._depth, "n", 0)
            if depth or not probes.trace.inside("operators.build"):
                return original(*args, **kwargs)
            probes._depth.n = depth + 1
            try:
                mark = probes.counters.mark()
                with probes.trace.span(span_name, call=name) as rec:
                    result = original(*args, **kwargs)
                    rec["counts"]["jobs"] = probes.counters.mark()[0] - mark[0]
                return result
            finally:
                probes._depth.n = depth

        setattr(cls, name, wrapper)


def plan_counts(df) -> dict[str, float]:
    """Catalyst planning time and node counts of a built DataFrame."""
    import re

    from iii_aibigdata_capstone_spark.plans.audit import audit

    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    plan_s = time.perf_counter() - t0
    a = audit(df)
    return {
        "catalyst.plan_s": plan_s,
        "plan.exchanges": float(a.hash_exchanges),
        "plan.smj": float(a.sort_merge_joins),
        "plan.bhj": float(a.broadcast_joins),
        "plan.bnlj": float(
            len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", a.text, re.MULTILINE))
        ),
        "plan.python_maps": float(a.python_map_operators),
    }
