"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes nothing (Spark 2.4.3 defaults everywhere,
README.md:14-18); this engine leans on AQE + broadcast joins + Arrow and
keeps every knob in one place so local[N] testing and a 1000-executor
cluster share the same code path, differing only in these configs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied even when the caller (e.g. the verify
# driver) owns the SparkSession, to every key the caller left unset.
# Everything here is safe to set per-query.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics: testdata timestamps are naive
    # (parquet isAdjustedToUTC=false); interpret epoch math in UTC so
    # results match the DuckDB oracle byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    # Let AQE re-plan at runtime: coalesce tiny shuffle partitions at small
    # SF, split skewed ones at large SF — the single most important knob
    # for surviving a 100x scale-up without re-tuning.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalesce post-shuffle partitions to the ADVISORY BYTE SIZE instead
    # of stopping early to preserve one-task-per-core (r14, guide §2.2
    # "fewer, larger reduce partitions"; the Spark docs themselves
    # recommend false for real workloads). At 100 TB this sizes reduce
    # tasks by data volume; at bench scale it stops KB-sized shuffles
    # from fanning out into core-count task storms (measured: the
    # admission/rag/dedup lanes drop 10-30% with no explode-heavy lane
    # regressing — map-side fan-out repartitions are user-specified and
    # never coalesced).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Let the planner pick shuffled-hash over sort-merge when the build
    # side fits (guide §3.1 / §9: hash beats sort when one side is
    # moderately small per partition), and let AQE rewrite SMJ->SHJ at
    # runtime when every post-shuffle partition is under the 64 MB
    # advisory size (the docs' suggested pairing; default 0 disables the
    # rewrite). Bounded risk: the local map is capped at the advisory
    # partition size AQE already targets. Measured 10-30% on the
    # join-dense lanes (walks, admission chain, RAG eval) at sf0.1;
    # explicitly MERGE-hinted fact joins (flagship) are unaffected.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    # Arrow for every pandas interchange (pandas_udf / applyInPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds Python-kernel memory (SURVEY.md §7 risk).
    # 10k rows/batch suits this corpus (payloads are hundreds of bytes, so
    # batches stay single-digit MB while grouped kernels see ~10x fewer
    # JVM<->Python crossings than the 1024 default-ish cap). Deployments
    # with real image/video payloads should lower it to keep
    # rows_per_batch x payload_size inside executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as epoch-nanos LONG and convert in the catalog
    # (floor to micros — identical to DuckDB's ns->us truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally owned session, each only
    where the session holds no explicit value: a value the caller set (say
    ``spark.sql.adaptive.enabled=false``) stays; an unset key gets ours."""
    for key, value in RUNTIME_CONFS.items():
        if spark.conf.get(key, None) is not None:
            continue
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf locked by the owner
            pass
    return spark


def get_spark(
    app_name: str = "iii-aibigdata-capstone-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster set it near 2-3x total cores (or rely on AQE coalescing from a
    higher initial value).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed tables (e.g. bucketed-join tests) land in scratch, not cwd
        .config("spark.sql.warehouse.dir", "/tmp/iii_capstone_warehouse")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return apply_runtime_confs(builder.getOrCreate())
