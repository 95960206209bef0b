#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is executed to completion with the ``noop`` sink (full plan
runs, nothing collected to the driver — measures the engine, not py4j
serialization). Every lane runs SAMPLES (3) times and reports the median
total; the sidecar also keeps each lane's raw totals, its first (cold)
sample and its median builder-call time (``sample_lane`` is the one lane
timer; ``tools/scale_probe.py`` reuses it).

Structure (round 9): the headline list runs as N_CHUNKS (4) FRESH-JVM
chunks executed SERIALLY — ~90 query executions in one shared JVM
accumulate code-cache/GC/fragmentation drift that lands on
whichever queries run late, which is why every prior round's bench showed
diffuse >12% movers on untouched lanes.
A fresh JVM per ~22-query chunk bounds the contamination window to one
chunk; chunks never run concurrently (32 threads each would contend for
the same cores and corrupt every number). Each chunk pays its own warmup
(flagship primes JVM/codegen; an identity mapInPandas primes the Python
worker pool) so per-query numbers stay steady-state engine cost. Each
chunk child runs in-process through ``--slice``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "a1_group_median",
    "w1_rank_and_lag",
    "j3_iou_theta_join",
    "st5_session_window",
    "x5_range_join",
    "x5_asof_join",
    "x1_content_hash_dedup",
    "x2_ngram_jaccard",
    "x2_minhash_lsh",
    "x2_minhash_banded",
    "x2_simhash",
    "x3_cosine_topk",
    "x4_text_stats",
    "w2_nms_greedy",
    "t4_person_assembly",
    "a6_multiscale_mean",
    "j4_limb_candidates",
    "m5_digit_cascade",
    "k_kernel_chain",
    "dl_pipeline_replay",
    "x9_corpus_curation",
    "q18_big_orders",
    "q21_sole_late_supplier",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "x4_unigram_logprob",
    "x9_doc_packing",
    "x5_interval_join_banded",
    "x10_triangle_count",
    "x2_sorted_neighborhood",
    "x4_bpe_vocab",
    "x4_bpe_tokenize_apply",
    "x2_embedding_neardup",
    "x3_label_centroids",
    "x1_incremental_ingest",
    "x4_postings",
    "x9_doc_chunking",
    "x2_repeated_spans",
    "x4_repetition_ratio",
    "x2_semantic_dedup",
    "x1_fuzzy_dedup_pipeline",
    "x6_audio_energy",
    "x4_bigram_nll",
    "x9_shard_manifest",
    "x3_hard_negatives",
    "x3_mmr_rerank",
    "x4_quality_model_score",
    "x4_pii_scrub",
    "x3_pq_codebooks",
    "x3_pq_adc_topk",
    "x3_signlsh_topk",
    "x1_minhash_ingest",
    "x5_hll_explicit",
    "x5_countmin_terms",
    "x5_hll_sliding_explicit",
    "x9_source_quota",
    "x6_phash_neardup",
    "x5_hdr_quantiles",
    "x9_dsir_resample",
    "k12_render_annotations",
    "m9_gd_training_loop",
    "x2_paragraph_dedup",
    "m4_lloyd_iterations",
    "m8_rank_metrics",
    "x5_bloom_semijoin",
    "x2_prefix_filter_join",
    "x8_table_stats",
    "x5_bootstrap_ci",
    "x8_corr_matrix",
    "x4_bm25_search",
    "x3_power_iteration",
    "x6_vad_segments",
    "x6_scene_cuts",
    "x10_kcore",
    "x10_bfs_levels",
    "x10_hyperball",
    "x10_random_walks",
    "x10_adamic_adar",
    "x10_community_lpa",
    "x10_walk_pairs",
    "x10_modularity",
    "x9_rag_pipeline",
    "x5_spacesaving_topk",
    "x3_ann_eval",
    "x9_data_factory",
    "x2_dedup_eval",
    "m8_calibration",
    "x1_ingest_growing",
    "x9_rag_eval",
    "x3_ivf_pq_topk",
    "x3_ivf_pq_add",
    "x3_truncation_eval",
    "x4_decontam_eval",
    "x3_ivf_pq_eval",
    "x1_ingest_compaction",
]

# The two non-registry entries, timed by the last chunk.
SPECIALS = ["flagship", "st_stream_drain"]

N_CHUNKS = 4


SAMPLES = 3  # every lane, every run: the same fixed count

# The per-lane maps a chunk reports and the sidecar carries.
RECORDS = ("timings", "first_sample", "samples", "build_s", "errors")


def sf_of(sf_dir: str) -> float:
    return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)


def run_to_completion(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """The flagship primes JVM/codegen; the identity mapInPandas primes the
    Python worker pool (the first pandas-UDF query otherwise pays ~6s of
    worker spin-up that is startup cost, not query cost)."""
    from iii_aibigdata_capstone_spark.queries import flagship

    run_to_completion(flagship(spark, sf_dir))
    run_to_completion(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .mapInPandas(lambda it: it, "doc_id long")
    )


def sample_lane(spark, builder, sf_dir: str) -> list[tuple[float, float]]:
    """Run one lane SAMPLES times: ``(build_s, write_s)`` per sample, the
    builder call (Python + py4j plan construction + any eager work inside
    it) timed apart from the noop write that executes the plan. A JVM GC
    runs before each sample, off the clock, so prior garbage is not
    charged to this lane."""
    samples = []
    for _ in range(SAMPLES):
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        df = builder(spark, sf_dir)
        t1 = time.perf_counter()
        run_to_completion(df)
        samples.append((t1 - t0, time.perf_counter() - t1))
    return samples


# Streaming drain probe (§2.10): custom offset-tracked stream source ->
# watermarked tumbling count -> memory sink, availableNow. Times the
# micro-batch engine end to end (planning, offset slicing, stateful
# window store), not just batch operators; the drain runs inside the
# builder call, so its time lands in build_s. Row count scales with SF so
# the probe tracks data volume like every other entry.
def stream_drain(spark, sf_dir: str):
    from pyspark.sql import functions as SF

    from iii_aibigdata_capstone_spark.sources import register

    register(spark)
    n_rows = int(200_000 * (sf_of(sf_dir) / 0.1))
    # Size the state-store partition count to the probe's throughput
    # (unlike stateless shuffles, every state partition pays a store
    # open/commit per micro-batch, so 32 partitions for a 4-type key
    # space is pure overhead; a deployment sizes this to key
    # cardinality x throughput). Restored after the probe.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    q = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        stream = (
            spark.readStream.format("synthetic_events")
            .option("rows", n_rows)
            .option("rowsPerBatch", max(1, n_rows // 4))
            .load()
            .withColumn(
                "ts",
                SF.timestamp_seconds(SF.lit(1_700_000_000) + SF.col("event_id") % 3600),
            )
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(SF.window("ts", "5 minutes"), "event_type")
            .agg(SF.count(SF.lit(1)).alias("n"), SF.sum("value").alias("sv"))
        )
        name = f"bench_stream_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="bench_st_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        if q is not None:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.table(name).limit(0)  # sample_lane drains via noop


def time_lanes(spark, builders: dict, sf_dir: str) -> dict[str, dict]:
    """Sample every ``{name: builder}`` lane. Per lane: ``timings`` is the
    median of the SAMPLES build+write totals (the headline number),
    ``first_sample`` sample 1's total (the lane's cold cost: its
    first-time codegen and imports land there), ``samples`` all totals and
    ``build_s`` the median builder-call time. ``errors`` holds the lanes
    that raised: one broken query must not hide the rest."""
    out: dict[str, dict] = {k: {} for k in RECORDS}
    for name, builder in builders.items():
        try:
            samples = sample_lane(spark, builder, sf_dir)
        except Exception as ex:
            out["errors"][name] = f"{type(ex).__name__}: {ex}"[:200]
            continue
        totals = [round(b + w, 3) for b, w in samples]
        out["timings"][name] = round(statistics.median(totals), 3)
        out["first_sample"][name] = totals[0]
        out["samples"][name] = totals
        out["build_s"][name] = round(statistics.median(b for b, _ in samples), 3)
    return out


def run_slice(names: list[str]) -> dict[str, dict]:
    """Time the named entries in THIS process's (fresh) JVM."""
    from iii_aibigdata_capstone_spark.queries import flagship, registry
    from iii_aibigdata_capstone_spark.session import get_spark

    # Each chunk times ~25 lanes; 24g keeps them out of old-gen pressure.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark(app_name="iii-capstone-bench")
    # OFF, not ERROR: benign ERROR-level shutdown noise (DAGScheduler
    # fragments from streaming teardown) would land in the artifact above
    # the metric line and can camouflage a real failure. Real failures are
    # reported through the JSON "errors" dict — the reliable channel.
    spark.sparkContext.setLogLevel("OFF")
    warm_up(spark, SF_DIR)
    specs = registry()
    special = {"flagship": flagship, "st_stream_drain": stream_drain}
    builders = {n: special[n] if n in special else specs[n].builder for n in names}
    return time_lanes(spark, builders, SF_DIR)


def chunked(names: list[str], n_chunks: int) -> list[list[str]]:
    """Contiguous near-equal-count chunks, registration order preserved."""
    n = len(names)
    out = []
    start = 0
    for i in range(n_chunks):
        end = start + (n - start + (n_chunks - i - 1)) // (n_chunks - i)
        if end > start:
            out.append(names[start:end])
        start = end
    return out


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--slice", help="comma-separated entry names (chunk-child mode)")
    parser.add_argument("--out", help="write the chunk's lane records JSON here (chunk-child mode)")
    args = parser.parse_args()

    if args.slice:
        payload = json.dumps(run_slice(args.slice.split(",")))
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(payload + "\n")
        else:
            print(payload, flush=True)
        return

    sf = sf_of(SF_DIR)
    parts: dict[str, dict] = {k: {} for k in RECORDS}
    timings, errors = parts["timings"], parts["errors"]
    for chunk in chunked(HEADLINE + SPECIALS, N_CHUNKS):
        fd, out_path = tempfile.mkstemp(prefix="bench_chunk_", suffix=".json")
        os.close(fd)
        tail = ""  # THIS chunk's stderr only — never a prior chunk's
        try:
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--slice", ",".join(chunk), "--out", out_path],
                    cwd=REPO,
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.PIPE,
                    timeout=2400,
                )
                tail = proc.stderr.decode(errors="replace")[-400:]
                with open(out_path) as fh:
                    part = json.load(fh)
                for key, acc in parts.items():
                    acc.update(part[key])
            except subprocess.TimeoutExpired as ex:
                if ex.stderr:
                    tail = ex.stderr.decode(errors="replace")[-400:]
                raise
        except (OSError, json.JSONDecodeError, KeyError,
                subprocess.TimeoutExpired) as ex:
            for name in chunk:
                if name not in timings:
                    # keep the END of stderr — that's where the fatal
                    # exception line lives (review r9)
                    errors[name] = (
                        f"chunk failed ({type(ex).__name__}): {tail[-160:]}"[:200]
                    )
        finally:
            try:
                os.unlink(out_path)
            except OSError:
                pass

    total = round(sum(timings.values()), 3)
    # Provenance stamp (review r11): a fresh per-run id rides BOTH the
    # sidecar and the stdout line, so round_close can detect the driver's
    # post-round overwrite EXACTLY (BENCH_r{N}.json's parsed.run_id ==
    # BENCH_FULL.json's run_id — no scalar-total collision), and the
    # git sha makes any artifact's code provenance auditable.
    run_id = uuid.uuid4().hex
    try:
        git_sha = (
            subprocess.run(
                ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        git_sha = None
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        # per lane: median of SAMPLES totals; "first_sample" is sample 1,
        # "samples" every total, "build_s" the median builder-call time
        "queries": timings,
        "first_sample": parts["first_sample"],
        "samples": parts["samples"],
        "build_s": parts["build_s"],
        "sf": sf,
        "run_id": run_id,
        "git_sha": git_sha,
    }
    if errors:
        out["errors"] = errors
    # Full artifact (per-query map, errors) goes to a sidecar file: the
    # driver captures only the TAIL of stdout, and at 74 headline queries
    # the single-line JSON outgrew that window in round 5 — the captured
    # text began mid-object and json.loads failed ("parsed": null).
    # r15 (VERDICT r14 "what's wrong" #2): the driver's post-round 8-core
    # scaling probe overwrote the 32-core run's per-query data, so the
    # round's per-lane ground truth was lost and PERF's scaling table came
    # up empty. The artifact is therefore ALSO written to a core-count-
    # keyed sidecar (BENCH_FULL_c{cpus}.json, cpus = the session's core
    # count) so runs at different core counts never collide; BENCH_FULL.json
    # stays as the un-keyed latest-run pointer every existing tool reads.
    # The stdout line's "queries_file" names the keyed sidecar.
    from iii_aibigdata_capstone_spark.session import default_parallelism

    full_path = os.path.join(REPO, "BENCH_FULL.json")
    keyed_path = os.path.join(REPO, f"BENCH_FULL_c{default_parallelism()}.json")
    for path in (full_path, keyed_path):
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    # The FINAL stdout line is the driver-parsed metric and must survive
    # front-truncation, so it carries the per-query map only while the
    # serialized line stays comfortably inside a 1 KiB tail window;
    # beyond that it degrades to summary + sidecar pointer. Either form
    # is one complete JSON object on the last line.
    compact = dict(out)
    compact["queries"] = {k: round(v, 2) for k, v in timings.items()}
    for key in ("first_sample", "samples", "build_s"):
        compact.pop(key)  # sidecar-only: stdout is tail-budgeted
    line = json.dumps(compact)
    if len(line) > 1000:
        line = json.dumps(
            {
                "metric": out["metric"],
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "queries_file": os.path.basename(keyed_path),
                "run_id": run_id,
            }
        )
    sys.stderr.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
