"""Benchmark of the engine's lanes, measured from outside the engine.

    python3 perfbench/run.py --workload sql_engine --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process per run, ``local[N]``
with N = half the CPUs this process may use. A run:

1. sets up once, timed from process start: ``session.get_spark`` plus a
   warm-up (a first job and a Python worker per core). That is
   ``setup_s``; it includes the JVM launch.
2. runs one cold pass, one settling warm pass that is not measured,
   then measured warm passes, all inside ``--seconds`` (at least one
   measured pass, however long it takes). A batch pass runs
   every lane of the workload once, in a seeded order, each as builder
   call plus ``noop`` write; a stream pass drains the seeded backlog from
   a fresh checkpoint.
3. checks outputs, untimed: each batch lane's content hash against
   ``goldens.json``, the stream sink against a batch run of the same
   operator over the same files.

``setup_s`` and ``pass_s`` (the median measured warm pass) are timed
without the host's steal (``stats.without_steal``); the wall times are
in the stderr summary beside them.

With ``--trace 1`` measured passes alternate untraced and traced; the traced
ones record spans and per-layer counts (``layers.py``), the spans are
written to ``perfbench/_work/``, and the per-layer metrics are printed
instead of the end-to-end ones. ``trace.overhead_s`` is the traced pass
time minus the untraced one.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
A readable summary, with ``fail_frac`` and the run's provenance, goes to
stderr.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()
with open("/proc/stat") as _stat:
    _START_CPU_LINE = _stat.readline()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import stats  # noqa: E402

PROCESS_START_TICKS = stats.cpu_ticks(_START_CPU_LINE)

from layers import (  # noqa: E402
    EXEC_COUNTS,
    PYWORKER_METRICS,
    LayerProbes,
    SparkCounters,
    Trace,
    duration,
    plan_counts,
    self_time,
)

# Warm passes that run before any is measured: the JIT is still
# compiling. Without steal the first warm pass took 4.1-6.2 s and the
# later ones 3.6-5.2 s. A second settling pass made the spread between
# runs wider: quiet runs then measured more passes, each faster.
SETTLE_PASSES = 1
# Measured passes a run makes however long they take: one, or one
# untraced and one traced. Under heavy steal a pass takes twice as long,
# and a second forced pass would push a run past 70 s.
MIN_MEASURED_PASSES = 1

# lane -> the tables its builder reads (the ones kept under data/).
# SQL-bound at sf0.1: the noop write (scans, joins, shuffles, codegen and,
# for w2, pandas workers) is most of each lane's time; q5 reads six
# tables, so the catalog's schema jobs show. At sf0.01 the schema jobs
# alone made the builders 37-55% of lane time.
SQL_ENGINE = {
    "q5_region_revenue": ("customer", "lineitem", "nation", "orders", "region", "supplier"),
    "q1_pricing_summary": ("lineitem",),
    "w2_nms_greedy": ("lineitem",),
}
# Driver-bound: the builder's own jobs (iterations, local checkpoints) are
# most of each lane's time; the write is small. Not in BENCHMARK.json: a
# run's set-up and cold pass leave room for two workloads in the time
# the benchmark is given, so this one is run by hand (aa.py --workloads).
DRIVER_ITERATIVE = {
    "m9_gd_training_loop": ("documents",),
    "x10_community_lpa": ("lineitem", "orders"),
}

# Every time is measured without steal (stats.without_steal): on a shared
# host other machines' load made wall times swing 2x between runs of the
# same code, with the hypervisor holding this machine's CPUs off for up to
# 38% of their ticks. The wall times go to stderr beside them.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
}


def _exec_unit(count: str) -> str:
    return "bytes" if count.endswith("bytes") else "ms" if count.endswith("_ms") else "count"


PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    # peak JVM memory has no bound: G1's heap growth varies it by 13-33%
    # (quartile spread over ten runs), more than any bound allowed
    "jvm.peak_rss_mb": "MB",
    "catalog.reads": "count",
    "catalog.read_s": "s",
    "catalog.read_jobs": "count",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "operators.eager_calls": "count",
    "operators.eager_s": "s",
    "catalyst.plan_s": "s",
    "plan.exchanges": "count",
    "plan.smj": "count",
    "plan.bhj": "count",
    "plan.bnlj": "count",
    "plan.python_maps": "count",
    "exec.write_s": "s",
    **{f"exec.{p}.{c}": _exec_unit(c) for p in ("build", "write") for c in EXEC_COUNTS},
    **{k: ("bytes" if "bytes" in k else "ms") for k in PYWORKER_METRICS.values()},
    "stream.batches": "count",
    "stream.get_batch_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.state_commit_ms_p50": "ms",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "trace.overhead_s": "s",
}


def table_rows(sf_dir: str, tables) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in tables)


class Stopwatch:
    """Times an interval twice: as wall time, and with the host's steal
    taken out (``stats.without_steal``). Started at process start unless
    given a later start."""

    def __init__(self, start: float = PROCESS_START, ticks: tuple[int, int] = PROCESS_START_TICKS):
        self.start, self.ticks = start, ticks

    @classmethod
    def now(cls) -> "Stopwatch":
        return cls(time.perf_counter(), stats.cpu_ticks())

    def read(self) -> tuple[float, float]:
        """(wall seconds, seconds without steal) since the start."""
        wall = time.perf_counter() - self.start
        return wall, stats.without_steal(wall, self.ticks, stats.cpu_ticks())


def content_hash(df) -> str:
    """Order-insensitive content hash: the row count and the sum of each
    row's xxhash64 as an exact decimal. xxhash64 hashes a value's typed
    bytes, so a type change alters the hash even where values print alike."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


class PassContext:
    """What one pass records: in a traced pass, each phase's span with the
    Spark counters of its interval, and the plan counts."""

    def __init__(self, trace: Trace, counters: SparkCounters | None, pass_no: int):
        self.trace = trace
        self.counters = counters
        self.pass_no = pass_no
        self.errors: list[str] = []
        self.plans: list = []

    def phase(self, name: str, fn):
        if not self.trace.enabled:
            return fn()
        mark = self.counters.mark()
        with self.trace.span(name) as rec:
            result = fn()
        rec["counts"].update(self.counters.since(mark))
        return result


class BatchWorkload:
    """Registry lanes, each run as builder call plus noop write. Its steps
    are lane executions."""

    def __init__(self, lanes: dict, sf: str):
        self.lanes = lanes
        self.sf = sf
        self.sf_dir = os.path.join(DATA, sf)
        self.rows = sum(table_rows(self.sf_dir, t) for t in lanes.values())
        self.last: dict = {}

    def prepare(self, spark, rng: random.Random, work: str) -> None:
        from iii_aibigdata_capstone_spark.queries import registry

        specs = registry()
        self.builders = {name: specs[name].builder for name in self.lanes}
        self.rng = rng

    def run_pass(self, spark, ctx: PassContext) -> tuple[dict[str, float], list[float], int]:
        """Each lane's time, the step times and the failures."""
        lanes, errors = {}, 0
        order = list(self.lanes)
        self.rng.shuffle(order)
        for name in order:
            sample = f"{name}#{ctx.pass_no}"
            t0 = time.perf_counter()
            try:
                with ctx.trace.span("lane", sample=sample, lane=name):
                    df = ctx.phase("operators.build", lambda: self.builders[name](spark, self.sf_dir))
                    if ctx.trace.enabled:
                        ctx.plans.append((sample, plan_counts(df)))
                    ctx.phase("exec.write", lambda: df.write.format("noop").mode("overwrite").save())
                self.last[name] = df
                lanes[name] = time.perf_counter() - t0
            except Exception as ex:  # one broken lane must not hide the rest
                errors += 1
                ctx.errors.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
        return lanes, list(lanes.values()), errors

    def check(self, spark) -> list[str]:
        with open(os.path.join(HERE, "goldens.json")) as fh:
            goldens = json.load(fh)[self.sf]
        bad = []
        for name in self.lanes:
            got = content_hash(self.last[name]) if name in self.last else "not run"
            if got != goldens.get(name):
                bad.append(f"{name}: hash {got} != golden {goldens.get(name)}")
        return bad


class ProgressLog:
    """A ``StreamingQueryListener`` that keeps every progress event of
    every query in memory; ``recentProgress`` keeps only the last 100."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log._lock:
                    log._progress.setdefault(str(event.progress.id), []).append(event.progress)

            def onQueryTerminated(self, event):
                with log._lock:
                    log._done.add(str(event.id))
                    log._lock.notify_all()

        self._lock = threading.Condition()
        self._progress: dict[str, list] = {}
        self._done: set[str] = set()
        self.listener = _Listener()

    def wait(self, query_id: str, timeout: float = 60.0) -> list:
        """Every progress event of a finished query, once the listener
        has seen it terminate."""
        with self._lock:
            if not self._lock.wait_for(lambda: query_id in self._done, timeout):
                raise RuntimeError(f"no termination event for query {query_id} after {timeout}s")
            return self._progress.pop(query_id, [])


class StreamWorkload:
    """A seeded backlog of event files drained by ``tumbling_counts``
    under ``availableNow``, one file per trigger, into a memory sink. Its
    steps are micro-batches."""

    SCHEMA = "event_id long, ts timestamp, event_type string, value double"

    def __init__(self, files: int, rows_per_file: int):
        self.files = files
        self.rows = files * rows_per_file
        self.rows_per_file = rows_per_file
        self.last = None
        self.drains: list[list] = []

    def prepare(self, spark, rng: random.Random, work: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.work = work
        self.dir = os.path.join(work, "backlog")
        os.makedirs(self.dir)
        gen = np.random.default_rng(rng.randrange(2**32))
        n, half_hour_ms = self.rows_per_file, 30 * 60 * 1000
        types = np.array(["click", "view", "cart", "buy", "share"])
        for i in range(self.files):
            # file i holds the i-th half hour, so no row is late
            ts = 1_700_000_000_000 + i * half_hour_ms + np.sort(gen.integers(0, half_hour_ms, n))
            table = pa.table({
                "event_id": pa.array(np.arange(i * n, (i + 1) * n, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.timestamp("ms")),
                "event_type": pa.array(types[gen.integers(0, len(types), n)]),
                # quarter units sum exactly in any order, so the stream and
                # the batch oracle agree bit for bit
                "value": pa.array(gen.integers(0, 4000, n) / 4.0),
            })
            path = os.path.join(self.dir, f"part-{i:05d}.parquet")
            pq.write_table(table, path)
            # the file source takes files oldest first: pin the order
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        self.progress_log = ProgressLog()
        spark.streams.addListener(self.progress_log.listener)

    def _query(self, spark):
        from iii_aibigdata_capstone_spark.streaming.pipelines import tumbling_counts

        events = spark.readStream.schema(self.SCHEMA).option("maxFilesPerTrigger", 1).parquet(self.dir)
        return tumbling_counts(events)

    def run_pass(self, spark, ctx: PassContext) -> tuple[dict[str, float], list[float], int]:
        name = f"drain_{ctx.pass_no}"
        query = None

        def drain():
            nonlocal query
            query = (
                agg.writeStream.format("memory").queryName(name).outputMode("append")
                .option("checkpointLocation", os.path.join(self.work, "ckpt", name))
                .trigger(availableNow=True).start()
            )
            query.awaitTermination()

        t0 = time.perf_counter()
        try:
            with ctx.trace.span("lane", sample=name, lane="stream_drain"):
                agg = ctx.phase("operators.build", lambda: self._query(spark))
                ctx.phase("exec.write", drain)
            t_drain = time.perf_counter() - t0
            progress = self.progress_log.wait(str(query.id))
        except Exception as ex:
            ctx.errors.append(f"stream_drain: {type(ex).__name__}: {str(ex)[:200]}")
            return {}, [], 1
        self.last = (name, progress)
        if ctx.trace.enabled:
            self.drains.append(progress)
        return {"stream_drain": t_drain}, [p.durationMs["triggerExecution"] / 1e3 for p in progress], 0

    def check(self, spark) -> list[str]:
        """The sink must equal a batch ``tumbling_counts`` over the same
        files, restricted to windows the final watermark closed."""
        from pyspark.sql import functions as F

        from iii_aibigdata_capstone_spark.streaming.pipelines import tumbling_counts

        if self.last is None:
            return ["stream_drain: no drain completed"]
        name, progress = self.last
        watermark = progress[-1].eventTime["watermark"].replace("T", " ").rstrip("Z")
        batch = tumbling_counts(spark.read.schema(self.SCHEMA).parquet(self.dir)).where(
            F.to_timestamp("window_start") + F.expr("INTERVAL 1 HOUR") <= F.to_timestamp(F.lit(watermark))
        )
        want = sorted(tuple(r) for r in batch.collect())
        got = sorted(tuple(r) for r in spark.table(name).collect())
        bad = []
        rows = sum(p.numInputRows for p in progress)
        if rows != self.rows:
            bad.append(f"stream_drain: read {rows} rows, backlog has {self.rows}")
        if not want or got != want:
            bad.append(f"stream_drain: sink has {len(got)} rows, batch oracle {len(want)}")
        return bad


def workloads(smoke: bool) -> dict:
    if smoke:
        return {
            "sql_engine": lambda: BatchWorkload({"q1_pricing_summary": ("lineitem",)}, "sf0.001"),
            "driver_iterative": lambda: BatchWorkload({"m9_gd_training_loop": ("documents",)}, "sf0.001"),
            # six half-hour files: the final watermark closes at least one window
            "stream_drain": lambda: StreamWorkload(files=6, rows_per_file=1_000),
        }
    return {
        "sql_engine": lambda: BatchWorkload(SQL_ENGINE, "sf0.1"),
        "driver_iterative": lambda: BatchWorkload(DRIVER_ITERATIVE, "sf0.01"),
        "stream_drain": lambda: StreamWorkload(files=6, rows_per_file=20_000),
    }


def warm_up(spark) -> None:
    """A first job, then a Python worker per core."""
    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n, numPartitions=n)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def set_up(trace: Trace):
    """Process start to a session with the JVM and Python workers warm."""
    from iii_aibigdata_capstone_spark.session import get_spark

    with trace.span("setup", sample="setup"):
        with trace.span("session.get_spark"):
            spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("OFF")
        with trace.span("session.warmup"):
            warm_up(spark)
    return spark, Stopwatch().read()


def shut_down(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    (and with it every Python worker) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def provenance(spark) -> dict:
    from iii_aibigdata_capstone_spark.session import default_parallelism

    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "cores_engine": default_parallelism(),
        "cores_spark": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "python": platform.python_version(),
        "git_sha": sha,
    }


def layer_metrics(trace: Trace, plans: list, drains: list, traced: dict, untraced: dict) -> dict:
    """Per-layer metrics: sums per traced warm pass, then the median over
    those passes."""
    spans = trace.spans
    by_id = {s["id"]: s for s in spans}

    def pass_of(span):
        while span is not None and span["name"] != "pass":
            span = by_id.get(span["parent"])
        return span and span["pass_no"]

    per_pass = {p: dict.fromkeys(PER_LAYER, 0.0) for p in traced}
    for s in spans:
        acc = per_pass.get(pass_of(s))
        if acc is None:
            continue
        d, counts = duration(s), s["counts"]
        if s["name"] == "catalog.read":
            acc["catalog.reads"] += 1
            acc["catalog.read_s"] += d
            acc["catalog.read_jobs"] += counts["jobs"]
        elif s["name"] == "operators.eager":
            acc["operators.eager_calls"] += 1
            acc["operators.eager_s"] += d
        elif s["name"] in ("operators.build", "exec.write"):
            if s["name"] == "operators.build":
                phase = "build"
                acc["operators.build_s"] += d
                acc["operators.build_self_s"] += self_time(s, spans)
                acc["operators.build_jobs"] += counts["jobs"]
            else:
                phase = "write"
                acc["exec.write_s"] += d
            for c in EXEC_COUNTS:
                acc[f"exec.{phase}.{c}"] += counts[c]
            for key in PYWORKER_METRICS.values():
                acc[key] += counts[key]
    lane_pass = {s["sample"]: pass_of(s) for s in spans if s["name"] == "lane"}
    for sample, counts in plans:
        acc = per_pass.get(lane_pass.get(sample))
        for key, value in counts.items():
            acc[key] += value

    out = {k: stats.median([per_pass[p][k] for p in traced]) for k in PER_LAYER}
    for name in ("session.get_spark", "session.warmup"):
        out[f"{name}_s"] = stats.median([duration(s) for s in spans if s["name"] == name])

    batches = [p for drain in drains for p in drain]
    if batches:
        def p50(fn):
            return stats.median([fn(p) for p in batches])

        out["stream.batches"] = stats.median([len(d) for d in drains])
        for key, phase in (
            ("get_batch", "getBatch"), ("add_batch", "addBatch"),
            ("query_planning", "queryPlanning"), ("wal_commit", "walCommit"),
        ):
            out[f"stream.{key}_ms_p50"] = p50(lambda p: p.durationMs.get(phase, 0))
        out["stream.state_commit_ms_p50"] = p50(lambda p: sum(o.commitTimeMs for o in p.stateOperators))
        last = drains[-1][-1]
        out["stream.state_rows"] = float(sum(o.numRowsTotal for o in last.stateOperators))
        out["stream.state_bytes"] = float(sum(o.memoryUsedBytes for o in last.stateOperators))
        # a micro-batch is planned by Catalyst each trigger; executedPlan()
        # cannot be called on a streaming frame
        out["catalyst.plan_s"] = stats.median(
            [sum(p.durationMs.get("queryPlanning", 0) for p in d) / 1e3 for d in drains]
        )
    out["trace.overhead_s"] = stats.median(list(traced.values())) - stats.median(list(untraced.values()))
    return out


def end_to_end(setup_s: float, warm: list[float], rows: int) -> dict:
    """``pass_s`` is the median of the measured warm passes; every time is
    without steal."""
    pass_s = stats.median(warm)
    return {"setup_s": setup_s, "pass_s": pass_s, "rows_per_s": rows / pass_s}


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # without -UsePerfData each JVM (spark-submit's launcher, then the
    # driver) writes /tmp/hsperfdata_<user>, whatever the tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    # half the CPUs this process may use: on four shared CPUs, local[4]
    # beside the JIT, GC and Python workers oversubscribed them, and
    # local[2] ran sql_engine's warm pass in 3.7-3.9 s and 8-9 CPU seconds
    # against 4.4-5.3 s and 10-11 CPU seconds
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["sql_engine", "driver_iterative", "stream_drain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the measured part of the run; BENCHMARK.json fixes it")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="one lane per workload at sf0.001")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iii_aibigdata_capstone_spark")):
        print(f"perfbench: no engine source under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)

    rng = random.Random(args.seed)
    workload = workloads(args.smoke)[args.workload]()
    trace = Trace(args.trace == 1)
    spark = None
    try:
        spark, setup = set_up(trace)
        setup_s = setup[1]
        workload.prepare(spark, rng, work)
        counters = SparkCounters(spark) if trace.enabled else None
        if trace.enabled:
            LayerProbes(trace, counters).install()

        # pass -> (wall seconds, seconds without steal)
        passes: dict[int, tuple[float, float]] = {}
        traced_passes: set[int] = set()
        steps: list[float] = []
        plans, errors = [], []
        attempted = failed = 0
        t_window = time.perf_counter()
        pass_no = 0
        first_measured = 1 + SETTLE_PASSES
        # pass 0 is the cold pass, then the settling passes; a pass after
        # the minimum starts only if a typical warm pass still fits
        min_passes = first_measured + MIN_MEASURED_PASSES * (2 if trace.enabled else 1)
        while pass_no < min_passes or (
            time.perf_counter() - t_window
            + stats.median([wall for k, (wall, _) in passes.items() if k >= 1]) < args.seconds
        ):
            # a traced run alternates untraced and traced measured passes
            traced_pass = trace.enabled and pass_no >= first_measured and (pass_no - first_measured) % 2
            ctx = PassContext(trace if traced_pass else Trace(False), counters, pass_no)
            watch = Stopwatch.now()
            with ctx.trace.span("pass", pass_no=pass_no):
                pass_lanes, pass_steps, pass_failed = workload.run_pass(spark, ctx)
            passes[pass_no] = watch.read()
            attempted += len(pass_lanes) + pass_failed
            failed += pass_failed
            errors += ctx.errors
            plans += ctx.plans
            if traced_pass:
                traced_passes.add(pass_no)
            elif pass_no >= first_measured:
                steps += pass_steps
            pass_no += 1

        bad = workload.check(spark)
        failed += len(bad)
        errors += bad
        measured = [k for k in passes if k >= first_measured]
        warm = {k: passes[k][1] for k in measured if k not in traced_passes}
        if trace.enabled:
            traced = {k: passes[k][1] for k in traced_passes}
            metrics = layer_metrics(trace, plans, getattr(workload, "drains", []), traced, warm)
            metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            units = PER_LAYER
        else:
            metrics = end_to_end(setup_s, list(warm.values()), workload.rows)
            units = END_TO_END
        run_wall, run_without_steal = Stopwatch().read()
        tail = stats.tail_percentile(len(steps))
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            # each time as [wall seconds, seconds without steal]
            "setup_s": setup,
            "cold_pass_s": passes[0],
            "settle_pass_s": [passes[k] for k in range(1, first_measured)],
            "warm_pass_s": [passes[k] for k in measured if k not in traced_passes],
            "traced_pass_s": [passes[k] for k in sorted(traced_passes)],
            "steal_share": 1 - run_without_steal / run_wall,
            # warm lane executions, or micro-batches on the stream
            "steps": len(steps),
            "step_ms_p50": stats.median(steps) * 1e3,
            "step_ms_tail": tail and {f"p{tail:g}": stats.percentile(steps, tail) * 1e3},
            "peak_rss_mb": jvm_peak_rss_mb(spark),
            "fail_frac": failed / attempted,
            "errors": errors,
            **provenance(spark),
        }
        if trace.enabled:
            os.makedirs(WORK, exist_ok=True)
            trace.write(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"), info)
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    for key, value in metrics.items():
        print(f"{key:32s} {value:16.4f} {units[key]}", file=sys.stderr)
    print(f"{'fail_frac':32s} {info['fail_frac']:16.4f} {failed}/{attempted}", file=sys.stderr)
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
