"""Streaming-shell tests (SURVEY.md §5 layer 4): micro-batch replay of the
quarter-scoring pipeline through a real streaming query (file source ->
from_csv -> PipelineModel -> memory/foreachBatch sink), plus watermarked
tumbling/session windows checked against their batch equivalents.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from iii_aibigdata_capstone_spark.catalog import table
from iii_aibigdata_capstone_spark.ml.quarter import fit_quarter_model, quarter_stats_frame
from iii_aibigdata_capstone_spark.streaming import pipelines as P

from .conftest import TEST_SF_DIR


def _run_available_now(writer, name=None):
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    return q


@pytest.fixture(scope="module")
def quarter_lines_dir(spark):
    """The reference's stream sample: quarter rows serialized as CSV lines
    (ml_source.py:13-14), two files -> two micro-batches."""
    df = quarter_stats_frame(spark, TEST_SF_DIR).limit(40)
    cols = [c for c in P.QUARTER_CSV_COLUMNS]
    lines = df.select(
        F.concat_ws(",", *[F.col(c).cast("string") for c in cols]).alias("value"),
        (F.col("game_id") % 2).alias("part"),
    )
    d = tempfile.mkdtemp(prefix="qlines_")
    for part in (0, 1):
        lines.where(F.col("part") == part).select("value").coalesce(1).write.mode(
            "append"
        ).text(d)
    return d


def test_stream_scoring_matches_batch(spark, quarter_lines_dir):
    """End-to-end ml pipeline replay: file stream -> from_csv -> model ->
    memory sink; the multiset of (prediction, win_probability) must equal
    batch scoring of the same rows."""
    model = fit_quarter_model(spark, TEST_SF_DIR)
    stream = P.text_file_source(spark, quarter_lines_dir)
    scored = P.score_quarter_stream(P.parse_quarter_lines(stream), model)
    _run_available_now(
        scored.writeStream.format("memory").queryName("scored_stream").outputMode("append")
    )
    got = sorted(
        (r.prediction, r.win_probability)
        for r in spark.sql("SELECT * FROM scored_stream").collect()
    )

    batch_lines = spark.read.text(quarter_lines_dir).select(
        F.col("value").alias("line")
    )
    batch_scored = P.score_quarter_stream(P.parse_quarter_lines(batch_lines), model)
    want = sorted((r.prediction, r.win_probability) for r in batch_scored.collect())
    assert got == want and len(got) == 40


def test_webhook_sink_delivers_messages(spark, quarter_lines_dir):
    """S8: foreachBatch webhook sink calls post() once per record with the
    '{prediction},{probability}' payload (ml_k_to_ss.py:51-52 format)."""
    model = fit_quarter_model(spark, TEST_SF_DIR)
    stream = P.text_file_source(spark, quarter_lines_dir)
    scored = P.score_quarter_stream(P.parse_quarter_lines(stream), model)
    delivered: list[str] = []
    _run_available_now(P.webhook_sink(scored, delivered.append))
    assert len(delivered) == 40
    for msg in delivered:
        pred, prob = msg.split(",")
        # reference payload carries the raw float prediction ("1.0,0.83")
        assert pred in ("0.0", "1.0")
        assert 0.0 <= float(prob) <= 1.0


@pytest.fixture(scope="module")
def events_stream_dir(spark):
    d = tempfile.mkdtemp(prefix="events_")
    table(spark, TEST_SF_DIR, "events").write.mode("overwrite").parquet(d)
    return d


def test_tumbling_window_stream_matches_batch(spark, events_stream_dir):
    ev_schema = table(spark, TEST_SF_DIR, "events").schema
    stream = spark.readStream.schema(ev_schema).parquet(events_stream_dir)
    _run_available_now(
        P.tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
    )
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM tumbling_stream").collect())
    )
    want = sorted(
        map(tuple, P.tumbling_counts(table(spark, TEST_SF_DIR, "events")).collect())
    )
    assert got == want and len(got) > 0


def test_session_window_stream_matches_batch(spark, events_stream_dir):
    ev_schema = table(spark, TEST_SF_DIR, "events").schema
    stream = spark.readStream.schema(ev_schema).parquet(events_stream_dir)
    _run_available_now(
        P.session_counts(stream)
        .writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("complete")
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM session_stream").collect()))
    want = sorted(
        map(tuple, P.session_counts(table(spark, TEST_SF_DIR, "events")).collect())
    )
    assert got == want and len(got) > 0


def test_windowed_heavy_hitters_stream_matches_batch(spark, events_stream_dir):
    """Sketch aggregates ride streaming windows: per-window approx_top_k
    over the stream must equal the batch run (k >= distinct items makes
    the sketch exact and the emitted set tie-free)."""
    ev_schema = table(spark, TEST_SF_DIR, "events").schema
    stream = spark.readStream.schema(ev_schema).parquet(events_stream_dir)
    _run_available_now(
        P.windowed_heavy_hitters(stream)
        .writeStream.format("memory")
        .queryName("hh_stream")
        .outputMode("complete")
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM hh_stream").collect()))
    want = sorted(
        map(
            tuple,
            P.windowed_heavy_hitters(table(spark, TEST_SF_DIR, "events")).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_windowed_hll_registers_stream_matches_batch_and_folds(spark, events_stream_dir):
    """Explicit-HLL register maintenance rides streaming windows: the
    state store's incremental MAX must leave registers identical to the
    batch run (sketch-state equality, not just estimate equality), and
    folding the STREAMED registers with the batch helpers must give
    bit-identical estimates to folding the batch registers — the
    partials-handoff contract (streaming job keeps registers warm,
    reporting queries derive estimates)."""
    from iii_aibigdata_capstone_spark.operators.analytics import _hll_est, _hll_sden

    ev_schema = table(spark, TEST_SF_DIR, "events").schema
    stream = spark.readStream.schema(ev_schema).parquet(events_stream_dir)
    _run_available_now(
        P.windowed_hll_registers(stream)
        .writeStream.format("memory")
        .queryName("hllreg_stream")
        .outputMode("complete")
    )
    streamed = spark.sql("SELECT * FROM hllreg_stream")
    got = sorted(map(tuple, streamed.collect()))
    batch_regs = P.windowed_hll_registers(table(spark, TEST_SF_DIR, "events"))
    want = sorted(map(tuple, batch_regs.collect()))
    assert got == want and len(got) > 0

    def fold(regs):
        return sorted(
            map(
                tuple,
                _hll_sden(regs, "window_start")
                .select("window_start", _hll_est().alias("approx_ids"))
                .collect(),
            )
        )

    folded = fold(streamed)
    assert folded == fold(batch_regs)  # exact float equality
    assert all(est > 0 for _, est in folded)


def test_malformed_lines_yield_nulls_not_crash(spark):
    """P9: a malformed CSV line produces a null-padded row (the reference
    would throw inside the map closure and kill the batch)."""
    bad = spark.createDataFrame(
        [("1,2,3",), ("not,numbers,at,all,x,y,z,q,w,e,r,t,y,u,i",)], ["line"]
    )
    rows = P.parse_quarter_lines(bad).collect()
    assert len(rows) == 2
    assert rows[0].enemyStyle == 1 and rows[0].freethrowNumber is None
    assert rows[1].enemyStyle is None


def test_kafka_source_requires_package(spark):
    """Kafka builders construct a plan only if the kafka connector jar is
    present; without it they must fail with the documented error, not
    silently misbehave."""
    try:
        P.kafka_text_source(spark, "localhost:9092", "ml_input")
    except Exception as ex:
        assert "kafka" in str(ex).lower()


def _kafka_unavailable_reason(spark) -> str | None:
    """A live broker AND the spark-sql-kafka connector are both required;
    report which is missing so the round-trip test skips with the cause."""
    import socket

    servers = os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092")
    host, _, port = servers.rpartition(":")
    try:
        with socket.create_connection((host, int(port)), timeout=2):
            pass
    except OSError as ex:
        return f"no Kafka broker at {servers}: {ex}"
    try:
        P.kafka_text_source(spark, servers, "__probe__")
    except Exception as ex:
        return f"spark-sql-kafka connector unavailable: {ex}"
    return None


def test_kafka_round_trip_when_broker_available(spark, tmp_path):
    """S1+S7 end-to-end against a real broker: batch-produce through the
    sink framing, stream-consume through the text source, payloads must
    survive the wire byte-for-byte. Skips (never errors) without a broker
    or connector jar — the framing itself is still covered broker-less by
    test_kafka_wire_framing_round_trip below."""
    import uuid

    reason = _kafka_unavailable_reason(spark)
    if reason:
        pytest.skip(reason)
    servers = os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092")
    topic = f"smoke_{uuid.uuid4().hex[:12]}"
    payloads = ["1,0.9173", "0,0.2831", "1,0.5514"]
    P.kafka_sink_batch(
        spark.createDataFrame([(p,) for p in payloads], ["payload"]), servers, topic
    ).save()
    name = f"kafka_rt_{uuid.uuid4().hex[:8]}"
    q = (
        P.kafka_text_source(spark, servers, topic, starting_offsets="earliest")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    got = sorted(r.line for r in spark.sql(f"SELECT line FROM {name}").collect())
    assert got == sorted(payloads)


def test_kafka_wire_framing_round_trip(spark):
    """Broker-less half of the S1/S7 contract: the sink's value framing
    (KAFKA_SINK_PROJECTION) composed with the source's value->line
    projection (kafka_value_to_line) — the exact expressions the real
    builders ship — must be the identity on payload strings, including
    non-ASCII (the reference pushes UTF-8 Chinese team messages, E4)."""
    payloads = ["1,0.9173", "紅隊,23,號球員即將上場", "", "a,b,c"]
    df = spark.createDataFrame([(p,) for p in payloads], ["payload"])
    wire = df.selectExpr(P.KAFKA_SINK_PROJECTION).select(
        F.col("value").cast("binary").alias("value")  # kafka's value type
    )
    got = sorted(r.line for r in P.kafka_value_to_line(wire).collect())
    assert got == sorted(payloads)


def test_binary_stream_decode_matches_batch(spark):
    """S2/X6 image lane as a stream: binary payload rows through a parquet
    file stream -> Arrow-batched decode kernel -> memory sink must equal
    the batch run of the same kernel on the same rows (two files -> two
    micro-batches)."""
    import tempfile

    from iii_aibigdata_capstone_spark.operators.multimodal import binary_documents

    d = tempfile.mkdtemp(prefix="bin_stream_")
    b = binary_documents(spark, TEST_SF_DIR).select("doc_id", "payload").limit(60)
    for part in (0, 1):
        b.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode("append").parquet(d)

    from iii_aibigdata_capstone_spark.operators import multimodal as M

    def decode(df):
        # same kernel the batch query uses, applied to an arbitrary frame
        import pandas as pd

        def decode_batch(batches):
            for pdf in batches:
                dims = [M.decode_image_stub(bytes(p)) for p in pdf["payload"]]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "width": [x[0] for x in dims],
                        "mean_pixel": [round(sum(x[2]) / len(x[2]), 4) for x in dims],
                    }
                )

        return df.mapInPandas(decode_batch, "doc_id long, width int, mean_pixel double")

    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    _run_available_now(
        decode(stream)
        .writeStream.format("memory")
        .queryName("bin_decoded")
        .outputMode("append")
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM bin_decoded").collect()))
    want = sorted(map(tuple, decode(spark.read.parquet(d)).collect()))
    assert got == want and len(got) == 60


def test_stream_stream_join_matches_batch(spark):
    """ST5 extension: watermarked stream-stream time-range join — two event
    file streams (clicks, purchases) joined per user within 6 hours must
    equal the batch join of the same frames."""
    import tempfile

    ev = table(spark, TEST_SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    clicks_b = ev.where(F.col("event_type") == "click")
    purch_b = ev.where(F.col("event_type") == "purchase")

    dirs = {}
    for name, df in (("clicks", clicks_b), ("purch", purch_b)):
        d = tempfile.mkdtemp(prefix=f"ss_{name}_")
        for part in (0, 1):  # two files -> two micro-batches per side
            df.where(F.col("event_id") % 2 == part).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        dirs[name] = d

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    c_s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dirs["clicks"])
    p_s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dirs["purch"])
    joined = P.click_purchase_join(c_s, p_s)
    _run_available_now(
        joined.writeStream.format("memory").queryName("ss_join").outputMode("append")
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM ss_join").collect()))
    want = sorted(map(tuple, P.click_purchase_join(clicks_b, purch_b).collect()))
    assert got == want and len(got) > 0


def test_click_purchase_left_outer_emits_unmatched(spark):
    """Left-outer stream-stream join: every inner match must appear, every
    emitted null-purchase row must truly have no batch match, and at least
    one unmatched click must have been released by the watermark."""
    import tempfile

    ev = table(spark, TEST_SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    clicks_b = ev.where(F.col("event_type") == "click")
    purch_b = ev.where(F.col("event_type") == "purchase")

    dirs = {}
    for name, df in (("clicks", clicks_b), ("purch", purch_b)):
        d = tempfile.mkdtemp(prefix=f"sso_{name}_")
        for part in (0, 1):
            df.where(F.col("event_id") % 2 == part).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        dirs[name] = d

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    c_s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dirs["clicks"])
    p_s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dirs["purch"])
    joined = P.click_purchase_join(c_s, p_s, how="left_outer")
    _run_available_now(
        joined.writeStream.format("memory").queryName("ss_outer").outputMode("append")
    )
    got = spark.sql("SELECT * FROM ss_outer").collect()

    inner_want = set(
        map(tuple, P.click_purchase_join(clicks_b, purch_b).collect())
    )
    got_matched = {tuple(r) for r in got if r.purchase_id is not None}
    got_unmatched = {r.click_id for r in got if r.purchase_id is None}
    # every inner match arrived
    assert got_matched == inner_want
    # unmatched emissions exist (watermark released clicks with no purchase)
    assert got_unmatched, "no null-purchase rows emitted"
    # and none of them has a real match in the batch equivalent
    batch_matched_clicks = {t[1] for t in inner_want}  # click_id position
    assert not (got_unmatched & batch_matched_clicks)


def test_observe_metrics_ride_the_main_query(spark):
    """iii_aibigdata_capstone_spark.observe: quality metrics must arrive
    from the query's own single pass and agree with a direct recount."""
    from iii_aibigdata_capstone_spark.observe import observed

    ev = table(spark, TEST_SF_DIR, "events")
    inst, obs = observed(ev.select("user_id", "value"), "value")
    inst.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_rows"] == ev.count()
    assert m["value_nulls"] == ev.where(F.col("value").isNull()).count()
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    assert m["value_min"] == lo and m["value_max"] == hi


def test_streaming_quality_scores_equal_batch(spark):
    """score_documents (the broadcast quality model) is stateless, so the
    SAME transform must run unchanged on a readStream and produce exactly
    the batch lane's rows — the 'streaming = same operators' contract for
    the curation ingest gate."""
    import tempfile

    from iii_aibigdata_capstone_spark.operators.textual import score_documents

    docs = table(spark, TEST_SF_DIR, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    d = tempfile.mkdtemp(prefix="qscore_src_")
    for part in range(2):
        docs.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    rows = []
    q = (
        score_documents(
            spark.readStream.schema(
                "doc_id long, lang string, text string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="qscore_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    q.stop()

    want = sorted(map(tuple, score_documents(docs).collect()))
    assert sorted(map(tuple, rows)) == want

def test_composed_streaming_curation_pipeline_equals_batch(spark):
    """The streaming curation pipeline COMPOSED end to end — the streaming
    analogue of x1_fuzzy_dedup_pipeline's composition guarantee, now the
    full 3-stage curation DAG: stateless PII scrub (stage 0, Catalyst
    regex — downstream stages consume the REDACTED text, so ordering is
    load-bearing) -> stateless broadcast-model quality gate
    (score_documents, mapInPandas) -> STATEFUL banded-MinHash near-dup
    (applyInPandasWithState) with exact verification in foreachBatch; a
    second query over the same ingest records the gate's verdicts
    (Structured Streaming allows one stateful operator per query, so a
    multi-operator streaming DAG is one source fanned into one query per
    stateful stage — the sessionizer runs the same way and carries its
    own batch-equality tests). The per-document verdict assembled from
    the stream (quality_fail / dup / kept) must equal the batch
    composition of the SAME stages on the same rows."""
    import tempfile

    from iii_aibigdata_capstone_spark.operators.dedup import (
        _minhash_verified_pairs,
    )
    from iii_aibigdata_capstone_spark.operators.textual import (
        score_documents,
        scrub_documents,
    )
    from iii_aibigdata_capstone_spark.streaming.neardup import (
        streaming_neardup_candidates,
        verify_candidates_exact,
    )

    docs = table(spark, TEST_SF_DIR, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )

    def scrubbed(frame):
        # stage 0: redact, then re-derive text/n_chars from the CLEAN text
        s = scrub_documents(frame, keep=("lang",), emit_clean=True)
        return s.select(
            "doc_id",
            "lang",
            F.col("clean_text").alias("text"),
            F.length("clean_text").cast("long").alias("n_chars"),
        )
    d = tempfile.mkdtemp(prefix="curate_src_")
    for part in range(2):  # two micro-batches: state must carry across
        docs.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    def stream():
        return (
            spark.readStream.schema(
                "doc_id long, lang string, text string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    # --- batch twin: same stages, batch primitives ----------------------
    sdocs = scrubbed(docs).localCheckpoint()
    scored_b = score_documents(sdocs).collect()
    good_ids = {r.doc_id for r in scored_b if r.quality_pass}
    good = sdocs.where(F.col("doc_id").isin(*good_ids))
    t = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    sh = good.where(F.size(t) >= 3).select(
        "doc_id", "lang", F.explode(F.array_distinct(grams)).alias("s")
    ).localCheckpoint()
    batch_dropped = {
        r.doc_b for r in _minhash_verified_pairs(sh).collect()
    }
    want = {
        r.doc_id: (
            "quality_fail"
            if r.doc_id not in good_ids
            else ("dup" if r.doc_id in batch_dropped else "kept")
        )
        for r in scored_b
    }

    # --- query 1: gate -> stateful near-dup -> exact verify -------------
    verified_rows, markers = [], []

    def verify(batch_df, _id):
        rows = batch_df.collect()
        markers.extend(r for r in rows if r.is_overflow)
        verified_rows.extend(verify_candidates_exact(batch_df, sh).collect())

    gated = score_documents(scrubbed(stream()), keep=("text",)).where(
        F.col("quality_pass")
    ).select("doc_id", "lang", "text")
    q = (
        streaming_neardup_candidates(gated)
        .writeStream.foreachBatch(verify)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="curate_ck1_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "near-dup query did not finish"
    q.stop()
    assert not markers, "unexpected bucket overflow at test SF"

    # --- query 2: the gate's verdict stream ------------------------------
    gate_rows = []
    q2 = (
        score_documents(scrubbed(stream()))
        .writeStream.foreachBatch(lambda df, _id: gate_rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="curate_ck2_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180), "gate query did not finish"
    q2.stop()

    stream_dropped = {r.doc_b for r in verified_rows}
    got = {
        r.doc_id: (
            "quality_fail"
            if not r.quality_pass
            else ("dup" if r.doc_id in stream_dropped else "kept")
        )
        for r in gate_rows
    }
    assert got == want, {
        k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)
    }
    # the composition is non-trivial at this SF: every verdict class occurs
    assert set(want.values()) == {"quality_fail", "dup", "kept"}


def test_stream_static_dim_join_equals_batch_across_mid_stream_swap(spark):
    """J1 stream-static curation join against a MUTATING dimension
    (VERDICT r5 item 6): stream documents through curation_dim_stream with
    a per-source quality/quota dimension that is SWAPPED between
    micro-batches (tier changes, a source gets blocked, a source row is
    DROPPED), and pin each micro-batch's output exactly equal to the batch
    lane (curation_dim_join) run on that batch's rows with the dimension
    version active at that batch. The foreachBatch re-load is what makes
    the swap land at the batch boundary; the dropped source exercises the
    fail-closed gate."""
    docs = table(spark, TEST_SF_DIR, "documents").select(
        "doc_id", "source", "lang", "text", "n_chars"
    )
    sources = sorted(r.source for r in docs.select("source").distinct().collect())
    assert len(sources) >= 2, "need >=2 sources to make the swap observable"

    def dim_rows(version):
        rows = []
        for i, s in enumerate(sources):
            if version == 2 and i == len(sources) - 1:
                continue  # v2 DROPS the last source -> its docs must gate closed
            tier = "blocked" if i == (0 if version == 1 else 1) % len(sources) else (
                "standard" if version == 1 else "premium"
            )
            rows.append((s, tier, 100 if version == 1 else 250))
        return spark.createDataFrame(
            rows, "source string, tier string, min_chars long"
        )

    dim_dir = tempfile.mkdtemp(prefix="curation_dim_")
    dim_rows(1).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    src_dir = tempfile.mkdtemp(prefix="dimjoin_docs_")
    for part in range(2):
        docs.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    batches: dict[int, list] = {}

    def on_batch(joined, batch_id):
        batches[batch_id] = joined.collect()
        if batch_id == 0:  # swap the dimension after the first micro-batch
            dim_rows(2).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    q = (
        P.curation_dim_stream(
            spark.readStream.schema(
                "doc_id long, source string, lang string, text string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir),
            lambda: spark.read.parquet(dim_dir),
            on_batch,
        )
        .option("checkpointLocation", tempfile.mkdtemp(prefix="dimjoin_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    q.stop()

    assert sorted(batches) == [0, 1], f"expected 2 micro-batches, got {sorted(batches)}"
    for batch_id, got in batches.items():
        ids = [r.doc_id for r in got]
        assert ids, f"batch {batch_id} empty"
        expected = P.curation_dim_join(
            docs.where(F.col("doc_id").isin(ids)), dim_rows(1 if batch_id == 0 else 2)
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
    # the swap must be OBSERVABLE: some doc kept under v1's policy would
    # not be kept under v2's (tighter min_chars / dropped source)
    v1_all = {
        (r.doc_id, r.kept)
        for r in P.curation_dim_join(docs, dim_rows(1)).collect()
    }
    v2_all = {
        (r.doc_id, r.kept)
        for r in P.curation_dim_join(docs, dim_rows(2)).collect()
    }
    assert v1_all != v2_all, "dimension swap produced no observable change"


def test_streaming_pii_scrub_equals_batch(spark):
    """scrub_documents (the PII redaction stage) is stateless, so the SAME
    transform must run unchanged on a readStream and produce exactly the
    batch lane's rows — scrub is stage 0 of a streaming ingest gate."""
    import tempfile

    from iii_aibigdata_capstone_spark.operators.textual import scrub_documents

    docs = table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="pii_src_")
    for part in range(2):
        docs.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    rows = []
    q = (
        scrub_documents(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="pii_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    q.stop()

    want = sorted(map(tuple, scrub_documents(docs).collect()))
    assert sorted(map(tuple, rows)) == want


def test_streaming_rag_serving_equals_batch(spark):
    """streaming/serving.py: queries arriving in TWO micro-batches, served
    against ONE prebuilt RagIndex through the shared rag_serve dataflow,
    must emit exactly the batch x9_rag_pipeline rows (each query's full
    top-k in the micro-batch that carried it), proving (a) the index is
    query-batch independent and (b) the stream and batch lanes cannot
    drift (one spelling of the retrieval DAG)."""
    import tempfile

    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.catalog import table
    from iii_aibigdata_capstone_spark.operators.curation import (
        RAG_PROBES,
        rag_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.serving import (
        streaming_rag_serving,
    )

    index = rag_index(spark, TEST_SF_DIR)
    probes = (
        table(spark, TEST_SF_DIR, "documents")
        .where(F.col("doc_id") < RAG_PROBES)
        .select(F.col("doc_id").alias("query_id"), "text")
    )
    src = tempfile.mkdtemp(prefix="rag_q_src_")
    # two files -> two micro-batches (queries 0-1, then 2-4)
    for pred in (F.col("query_id") < 2, F.col("query_id") >= 2):
        probes.where(pred).coalesce(1).write.mode("append").parquet(src)

    per_batch: dict[int, list] = {}
    q = streaming_rag_serving(
        index,
        spark.readStream.schema("query_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="rag_q_ck_"),
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()

    data_batches = [rows for rows in per_batch.values() if rows]
    assert len(data_batches) == 2  # served per arrival batch
    # each query's results arrived whole in one micro-batch
    seen_q = [sorted({r.query_id for r in rows}) for rows in data_batches]
    assert sorted(q for qs in seen_q for q in qs) == list(range(RAG_PROBES))

    got = sorted(tuple(r) for rows in data_batches for r in rows)
    want = sorted(
        tuple(r)
        for r in registry()["x9_rag_pipeline"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got == want



INGEST_ARRIVAL_SCHEMA = "doc_id long, lang string, text string, n_chars long"


@pytest.fixture(scope="module")
def ingest_split(spark):
    """Shared scaffolding for the ingest-twin tests: the FIXED resident
    index (doc_id % 5 != 4), the arrival frame, a two-parquet-file source
    dir (two micro-batches under maxFilesPerTrigger=1), and the median
    doc_id that splits the files. One definition keeps the 'same index,
    different front-end' twins in lockstep (split key, schema, layout)."""
    from iii_aibigdata_capstone_spark.operators.dedup import minhash_ingest_index

    docs = table(spark, TEST_SF_DIR, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    index = minhash_ingest_index(docs.where(~is_batch))
    arrivals = docs.where(is_batch).select("doc_id", "lang", "text", "n_chars")
    src = tempfile.mkdtemp(prefix="ingest_src_")
    median_id = arrivals.approxQuantile("doc_id", [0.5], 0.0)[0]
    for pred in (F.col("doc_id") <= median_id, F.col("doc_id") > median_id):
        arrivals.where(pred).coalesce(1).write.mode("append").parquet(src)
    return index, arrivals, src, median_id


def _arrival_stream(spark, src):
    return (
        spark.readStream.schema(INGEST_ARRIVAL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def test_streaming_minhash_ingest_equals_batch(spark, ingest_split):
    """streaming/ingest.py: candidate documents arriving in TWO
    micro-batches, admitted against ONE prebuilt IngestIndex through the
    shared ingest_admit dataflow, must emit exactly the batch
    x1_minhash_ingest rows (each doc's verdict in the micro-batch that
    carried it) — the dedup half of the r9 serving pattern. Equality
    across arrival splits holds because both lanes probe the FIXED
    resident index only (batch-vs-batch pairs are out of contract)."""
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        streaming_minhash_ingest,
    )

    index, _arrivals, src, median_id = ingest_split
    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest(
        index,
        _arrival_stream(spark, src),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="ingest_ck_"),
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()

    data_batches = [rows for rows in per_batch.values() if rows]
    assert len(data_batches) == 2, "expected admissions in both arrival batches"
    # each admitted doc arrived in the micro-batch that carried it —
    # WITHOUT pinning file order (FileStreamSource breaks mtime ties in
    # unspecified order; the rag serving test's order-agnostic discipline)
    halves = {frozenset(r.doc_id <= median_id for r in rows) for rows in data_batches}
    assert halves == {frozenset({True}), frozenset({False})}

    got = sorted(tuple(r) for rows in data_batches for r in rows)
    want = sorted(
        tuple(r)
        for r in registry()["x1_minhash_ingest"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got == want


def _write_arrival_file(docs, dst_dir: str, name: str, mtime: float) -> str:
    """Write one arrival frame as ONE parquet file with an EXPLICIT mtime —
    FileStreamSource processes files in modification-time order (only ties
    are broken in unspecified order), so strictly increasing mtimes make
    the micro-batch order deterministic, which the GROWING ingest's
    sequential-prefix semantics depend on."""
    import glob
    import shutil

    tmp = tempfile.mkdtemp(prefix="grow_tmp_")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    dst = os.path.join(dst_dir, name)
    shutil.copy(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
    os.utime(dst, (mtime, mtime))
    return dst


@pytest.fixture(scope="module")
def growing_split(spark):
    """Scaffolding for the GROWING ingest twins: residents are doc_id %
    4 == 0; arrivals are classes 1, 2, 3, one parquet file each with
    strictly increasing mtimes (deterministic batch order 1 -> 2 -> 3).
    At sf0.001 this split provably exercises the growth: doc 459 (class
    3) near-dups doc 77 (class 1, admitted) and must be rejected by the
    grown index, while the fixed index admits it."""
    import time

    docs = table(spark, TEST_SF_DIR, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    src = tempfile.mkdtemp(prefix="grow_src_")
    now = time.time()
    for k in (1, 2, 3):
        _write_arrival_file(
            docs.where(F.col("doc_id") % 4 == k),
            src,
            f"batch{k}.parquet",
            now - 400 + 100 * k,
        )
    return docs, src


def test_streaming_growing_ingest_equals_batch(spark, growing_split):
    """The GROWING admission stream (r10 verdict ask #2): three arrival
    micro-batches, each folded into the index after admission, must emit
    exactly the batch x1_ingest_growing rows batch-for-batch — the
    sequential-prefix fold, one ingest_admit_fold spelling in both lanes.
    The growth is additionally pinned INDEPENDENTLY of that shared
    spelling: the growing admitted set must be a STRICT subset of the
    fixed-index per-batch admissions' union (at sf0.001 doc 459 is
    admitted by the fixed index but rejected by the grown one)."""
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    index = minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0))
    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest_growing(
        index,
        _arrival_stream(spark, src),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="grow_ck_"),
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()

    assert len(per_batch) == 3, "expected three micro-batches"
    got = sorted(
        (pos + 1, r.doc_id, r.lang, r.n_chars)
        for pos, bid in enumerate(sorted(per_batch))
        for r in per_batch[bid]
    )
    want = sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got and got == want

    # independent growth pin: vs the FIXED index, at least one arrival
    # must now be rejected because of an EARLIER ARRIVAL
    fixed = {
        r.doc_id
        for k in (1, 2, 3)
        for r in ingest_admit(index, docs.where(F.col("doc_id") % 4 == k)).collect()
    }
    growing_ids = {t[1] for t in got}
    assert growing_ids < fixed, "growing index never changed an admission"


def test_streaming_growing_ingest_restart_recovery(spark, growing_split):
    """Mid-stream restart of the GROWING ingest: drain batch 1, lose the
    driver-held index (simulated process death), REBUILD it from residents
    + the admitted sink — valid because every member is a pure per-doc
    function of (residents UNION admitted-so-far), the documented fold
    invariant — and resume from the same source checkpoint. The union of
    emissions across both runs must equal the uninterrupted batch fold."""
    import glob
    import shutil

    from iii_aibigdata_capstone_spark.operators.dedup import minhash_ingest_index
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    src2 = tempfile.mkdtemp(prefix="grow_restart_src_")
    ck = tempfile.mkdtemp(prefix="grow_restart_ck_")
    files = sorted(glob.glob(os.path.join(src, "batch*.parquet")))
    assert len(files) == 3
    shutil.copy2(files[0], src2)  # batch 1 only; copy2 preserves mtime

    resident = docs.where(F.col("doc_id") % 4 == 0)
    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest_growing(
        minhash_ingest_index(resident),
        _arrival_stream(spark, src2),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
    )
    assert q.awaitTermination(300), "first run did not finish"
    q.stop()
    first = [r for rows in per_batch.values() for r in rows]
    assert first, "batch 1 admitted nothing"

    # the remaining arrivals land; the driver restarts with a REBUILT index
    for f in files[1:]:
        shutil.copy2(f, src2)
    admitted_ids = [r.doc_id for r in first]
    rebuilt = minhash_ingest_index(
        docs.where(
            (F.col("doc_id") % 4 == 0) | F.col("doc_id").isin(admitted_ids)
        )
    )
    per_batch2: dict[int, list] = {}
    q2 = streaming_minhash_ingest_growing(
        rebuilt,
        _arrival_stream(spark, src2),
        emit=lambda df, bid: per_batch2.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
    )
    assert q2.awaitTermination(300), "resumed run did not finish"
    q2.stop()
    resumed = {bid: rows for bid, rows in per_batch2.items() if rows}
    assert len(resumed) == 2, "resume should process exactly batches 2 and 3"

    got = sorted(
        [(1, r.doc_id, r.lang, r.n_chars) for r in first]
        + [
            (pos + 2, r.doc_id, r.lang, r.n_chars)
            for pos, bid in enumerate(sorted(resumed))
            for r in resumed[bid]
        ]
    )
    want = sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got == want


def test_streaming_compaction_trigger_preserves_fold_invariant(spark, growing_split, tmp_path):
    """PERIODIC IN-STREAM FLUSH with an OUT-OF-BAND COMPACTION mid-stream
    (r12 verdict ask #6): with ``compact_every=1`` the stream flushes
    the pre-fold deltas at the start of batches 2 and 3, and the emit of
    batch 2 runs ``ingest_store_compact(keep_segments=1)``, which folds
    the base + delta_1 into seg_1 and retires both. The next flush must
    REBASE the driver onto seg_1: the stream starts on the base snapshot
    loaded as plain parquet scans, so a driver still composed on the
    retired generation re-reads deleted parquet and the stream fails.
    Three pins: (1) admissions are identical to the uncompacted batch
    fold (flushes and compaction are physical, never semantic); (2) the
    store holds exactly the compacted seg_1 and the post-compaction
    delta_2; (3) THE FOLD INVARIANT holds on the store artifact: every
    member of ``ingest_store_load`` is row-identical to
    ``minhash_ingest_index(residents UNION admitted-in-batches-1-2)``
    built from scratch — the rebuildability contract the restart story
    rests on."""
    from iii_aibigdata_capstone_spark.operators.dedup import (
        IngestIndex,
        ingest_index_load,
        ingest_index_save,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        ingest_store_compact,
        ingest_store_load,
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    store = str(tmp_path / "store")
    base = os.path.join(store, "seg_000000000")
    ingest_index_save(minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0)), base)
    per_batch: dict[int, list] = {}

    def _emit(df, bid):
        per_batch.setdefault(bid, []).extend(df.collect())
        if bid == 1:  # delta_1 flushed at the start of this batch
            ingest_store_compact(spark, store, keep_segments=1)

    q = streaming_minhash_ingest_growing(
        # plain scans, not checkpoints: every admission re-reads the
        # snapshot, so serving from a retired generation cannot hide
        # behind materialized checkpoint blocks
        ingest_index_load(spark, base, scan_members=IngestIndex._fields),
        _arrival_stream(spark, src),
        emit=_emit,
        checkpoint=str(tmp_path / "ck"),
        compact_every=1,
        store=store,
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()

    # pin 1: flushes and compaction never change admissions
    got = sorted(
        (pos + 1, r.doc_id, r.lang, r.n_chars)
        for pos, bid in enumerate(sorted(per_batch))
        for r in per_batch[bid]
    )
    want = sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got and got == want

    # pin 2: the compaction retired seg_0 and delta_1; the bid-2 flush
    # wrote delta_2 on top of the compacted snapshot
    assert sorted(os.listdir(store)) == ["delta_000000002", "seg_000000001"]

    # pin 3: the store == a from-scratch rebuild over residents +
    # batches 1-2 admissions, member by member
    composed, boundary = ingest_store_load(spark, store)
    assert boundary == 2
    adm12 = [r.doc_id for bid in sorted(per_batch)[:2] for r in per_batch[bid]]
    rebuilt = minhash_ingest_index(
        docs.where((F.col("doc_id") % 4 == 0) | F.col("doc_id").isin(adm12))
    )
    for member, have, wanted in zip(composed._fields, composed, rebuilt):
        got_rows = sorted(map(tuple, have.collect()))
        want_rows = sorted(map(tuple, wanted.collect()))
        assert got_rows == want_rows, f"stored member {member} diverged"


def test_streaming_compaction_restart_resumes_from_segment(spark, growing_split, tmp_path):
    """RESTART AFTER A FLUSH AND A COMPACTION resumes from the stored
    snapshot plus the admitted sink's short tail, not a full rebuild:
    drain batches 1-2 with ``compact_every=1`` (base seg_0 + delta_1,
    flushed at the start of batch 2 and covering batch 1 only), compact
    the store into seg_1 while the driver is down, then restart with the
    recovery recipe — ``ingest_store_load`` (seg_1, boundary 1), the
    ENGINE-COMMITTED sink batches at or after the boundary
    (``committed_batch_ids``) as ``tail_docs``, and the same source
    checkpoint. Only batch 3 replays, the union of emissions across both
    incarnations equals the uninterrupted batch fold, and the restarted
    trigger does not re-snapshot its recovered composition: the store
    holds seg_1 plus the post-restart delta_2 only."""
    import glob
    import shutil

    from iii_aibigdata_capstone_spark.operators.dedup import minhash_ingest_index
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        committed_batch_ids,
        ingest_store_compact,
        ingest_store_load,
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    src2 = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    os.makedirs(src2)
    files = sorted(glob.glob(os.path.join(src, "batch*.parquet")))
    assert len(files) == 3
    for f in files[:2]:
        shutil.copy2(f, src2)  # batches 1-2; copy2 preserves mtime

    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest_growing(
        minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0)),
        _arrival_stream(spark, src2),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
        compact_every=1,
        store=store,
    )
    assert q.awaitTermination(300), "first run did not finish"
    q.stop()
    first = [
        (pos + 1, r.doc_id, r.lang, r.n_chars)
        for pos, bid in enumerate(sorted(per_batch))
        for r in per_batch[bid]
    ]
    assert sorted(os.listdir(store)) == ["delta_000000001", "seg_000000000"], (
        "expected the base snapshot and the pre-fold flush at the start of batch 2"
    )

    # driver death; the compactor runs while the driver is down, then
    # batch 3 lands. The resumed driver LOADS the store (seg_1 covers
    # batch 1) and hands over the admitted SINK's tail — exactly the
    # ENGINE-COMMITTED batches at or after the boundary (an uncommitted
    # sink batch would replay and must not be folded) — ids resolved to
    # raw docs in the corpus store.
    ingest_store_compact(spark, store, keep_segments=1)
    assert sorted(os.listdir(store)) == ["seg_000000001"]
    shutil.copy2(files[2], src2)
    recovered, boundary = ingest_store_load(spark, store)
    assert boundary == 1
    tail_bids = sorted(b for b in committed_batch_ids(spark, ck) if b >= boundary)
    assert tail_bids == [1], "expected exactly batch 2 in the committed tail"
    tail_ids = [r.doc_id for b in tail_bids for r in per_batch[b]]
    per_batch2: dict[int, list] = {}
    q2 = streaming_minhash_ingest_growing(
        recovered,
        _arrival_stream(spark, src2),
        emit=lambda df, bid: per_batch2.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
        compact_every=1,
        store=store,
        tail_docs=docs.where(F.col("doc_id").isin(tail_ids)),
    )
    assert q2.awaitTermination(300), "resumed run did not finish"
    q2.stop()
    resumed = {bid: rows for bid, rows in per_batch2.items() if rows}
    assert len(resumed) == 1, "resume should process exactly batch 3"

    got = sorted(
        first
        + [
            (3, r.doc_id, r.lang, r.n_chars)
            for rows in resumed.values()
            for r in rows
        ]
    )
    want = sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got == want
    assert sorted(os.listdir(store)) == ["delta_000000002", "seg_000000001"]


def test_flush_batch_replay_skips_self_overwrite(spark, growing_split, tmp_path):
    """REPLAYING the flush batch with a STORE-LOADED index must skip the
    save (review r13 #2): the recovered index's lazy checkpoints still
    read ``delta_<bid>``'s parquet, so an unguarded re-save would rewrite
    its own input mid-plan (``index_save`` refuses to overwrite a
    complete index, so the unguarded replay crashes instead). Simulated
    exactly as a crash leaves it: after a full run commits batches 0-2
    (seg_0 + delta_1 + delta_2), the commits-log entry for the flush
    batch bid=2 is removed (a crash between the delta_2 flush and the
    engine's commit of batch 2 is precisely 'offsets/2 written,
    commits/2 not'), the recovery recipe yields ``ingest_store_load``
    (boundary 2) with an EMPTY committed tail, and the restarted engine
    replays bid=2 — whose flush finds delta_2 complete, leaves its files
    untouched, and re-emits batch 3's admissions identically."""
    from iii_aibigdata_capstone_spark.operators.dedup import minhash_ingest_index
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        committed_batch_ids,
        ingest_store_load,
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    # full run: batches 1-3, base seg_0, flushes delta_1 then delta_2
    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest_growing(
        minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0)),
        _arrival_stream(spark, src),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
        compact_every=1,
        store=store,
    )
    assert q.awaitTermination(300), "first incarnation did not finish"
    q.stop()
    want = sorted(
        (pos + 1, r.doc_id, r.lang, r.n_chars)
        for pos, bid in enumerate(sorted(per_batch))
        for r in per_batch[bid]
    )
    assert want == sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    layout = ["delta_000000001", "delta_000000002", "seg_000000000"]
    assert sorted(os.listdir(store)) == layout
    d2_files = sorted(
        os.path.relpath(os.path.join(d, f), store)
        for d, _, fs in os.walk(os.path.join(store, "delta_000000002"))
        for f in fs
    )

    # crash surgery: un-commit the flush batch (offsets/2 stays, so the
    # engine WILL replay bid=2 on restart — the exact crash window). The
    # surgically-edited log lives at a COPIED path: the same JVM caches
    # per-path checkpoint state and flags an in-place external edit as
    # concurrent use, while a genuinely restarted process (what a crash
    # produces) sees only the on-disk files — which is what the copy is.
    import shutil as _sh

    ck2 = str(tmp_path / "ck_restarted")
    _sh.copytree(ck, ck2)
    os.remove(os.path.join(ck2, "commits", "2"))
    # ...and its Hadoop checksum sidecar — a stale .crc makes the
    # replayed commit's rename fail and read as a concurrent query
    os.remove(os.path.join(ck2, "commits", ".2.crc"))
    assert committed_batch_ids(spark, ck2) == {0, 1}

    # recovery recipe: the store covers batches < 2, and the committed
    # tail at/after that boundary is EMPTY ({0,1} are all < 2); the
    # sink's batch-2 rows are deliberately NOT folded (they replay)
    recovered, boundary = ingest_store_load(spark, store)
    assert boundary == 2
    assert sorted(b for b in committed_batch_ids(spark, ck2) if b >= boundary) == []
    per_batch2: dict[int, list] = {}
    q2 = streaming_minhash_ingest_growing(
        recovered,
        _arrival_stream(spark, src),
        emit=lambda df, bid: per_batch2.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck2,
        compact_every=1,
        store=store,
    )
    assert q2.awaitTermination(300), (
        "replay incarnation crashed — the flush tried to re-save its segment?"
    )
    q2.stop()
    # only bid=2 replays; its flush skipped the save (delta_2's files are
    # the first incarnation's) and batch 3's admissions re-emit
    # identically — the idempotent-by-batch-id sink overwrite
    # reproduces the same rows
    assert sorted(per_batch2) == [2]
    assert sorted((r.doc_id, r.lang, r.n_chars) for r in per_batch2[2]) == sorted(
        (r.doc_id, r.lang, r.n_chars) for r in per_batch[2]
    )
    assert sorted(os.listdir(store)) == layout
    assert d2_files == sorted(
        os.path.relpath(os.path.join(d, f), store)
        for d, _, fs in os.walk(os.path.join(store, "delta_000000002"))
        for f in fs
    )


def test_concurrent_reader_survives_flush(spark, growing_split, tmp_path):
    """RETENTION GRACE (r13 verdict ask #1): a SECOND consumer that
    composed generation N off the store (lazy checkpoints UNMATERIALIZED
    — nothing read yet) must still serve correctly after the store moves
    on: the ingest keeps flushing deltas and
    ``ingest_store_compact(keep_segments=2)`` publishes generation N+1,
    retiring generation N-1 but not N. Under retire-immediately
    (``keep_segments=1``) this reader dies with FileNotFound the moment
    its first action finally scans the pruned parquet — the first thing
    a multi-job deployment hits. The stream's emit of batch 2 compacts
    the store into seg_1 (generation N) and the reader composes it
    there; it is only collected after the stream ended and a second
    compaction landed seg_2."""
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        ingest_store_compact,
        ingest_store_load,
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    store = str(tmp_path / "store")
    per_batch: dict[int, list] = {}
    reader: list = []  # the concurrent consumer's lazily-composed index

    def _emit(df, bid):
        per_batch.setdefault(bid, []).extend(df.collect())
        if bid == 1:  # delta_1 flushed at the start of this batch
            ingest_store_compact(spark, store)
            reader.append(ingest_store_load(spark, store))

    q = streaming_minhash_ingest_growing(
        minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0)),
        _arrival_stream(spark, src),
        emit=_emit,
        checkpoint=str(tmp_path / "ck"),
        compact_every=1,
        store=store,
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()
    assert reader, "the concurrent reader never composed seg_1"
    index, boundary = reader[0]
    assert boundary == 1

    # the next compaction publishes seg_2 (seg_1 + delta_2) and retires
    # generation N-1 (seg_0 and the delta_1 it composed with); with
    # keep_segments=2 seg_1 SURVIVES
    target = ingest_store_compact(spark, store, keep_segments=2)
    assert os.path.basename(target) == "seg_000000002"
    assert sorted(os.listdir(store)) == [
        "delta_000000002",
        "seg_000000001",
        "seg_000000002",
    ]
    # the reader's first-ever materialization (this admission) succeeds
    # with exactly the values seg_1 holds: residents + batch-0 admissions
    batch3 = docs.where(F.col("doc_id") % 4 == 3)
    got = sorted(tuple(r) for r in ingest_admit(index, batch3).collect())
    adm0 = [r.doc_id for r in per_batch[min(per_batch)]]
    want_index = minhash_ingest_index(
        docs.where((F.col("doc_id") % 4 == 0) | F.col("doc_id").isin(adm0))
    )
    want = sorted(tuple(r) for r in ingest_admit(want_index, batch3).collect())
    assert got and got == want


def test_delta_segment_flush_is_o_delta_and_composes(spark, growing_split, tmp_path):
    """DELTA-ONLY SEGMENTS (r13 verdict ask #2): the stream snapshots
    the resident base ONCE (seg_000000000) and each flush writes ONLY
    the deltas accumulated since the previous flush. Pins: (1) admissions byte-identical to the
    batch fold (flush shape is physical, never semantic); (2) the store
    holds base + one delta per flush, and ``delta_1``'s members are
    row-identical to ``minhash_ingest_index(batch-0 admitted docs)`` —
    O(delta) rows, NOT an O(corpus) re-snapshot (asserted: strictly
    fewer rows than the base snapshot's members); (3) the composed
    ``ingest_store_load`` equals a from-scratch rebuild over residents +
    admitted-in-covered-batches, member by member, with the right
    boundary."""
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_index_load,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        ingest_store_load,
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    store = str(tmp_path / "store")
    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest_growing(
        minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0)),
        _arrival_stream(spark, src),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=str(tmp_path / "ck"),
        compact_every=1,
        store=store,
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()

    # pin 1: the flush shape never changes admissions
    got = sorted(
        (pos + 1, r.doc_id, r.lang, r.n_chars)
        for pos, bid in enumerate(sorted(per_batch))
        for r in per_batch[bid]
    )
    want = sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got and got == want

    # pin 2: base + one delta per flush; delta_1 == the batch-0 delta
    assert sorted(os.listdir(store)) == [
        "delta_000000001",
        "delta_000000002",
        "seg_000000000",
    ]
    adm0 = [r.doc_id for r in per_batch[min(per_batch)]]
    d1 = ingest_index_load(spark, os.path.join(store, "delta_000000001"))
    d1_want = minhash_ingest_index(docs.where(F.col("doc_id").isin(adm0)))
    base = ingest_index_load(spark, os.path.join(store, "seg_000000000"))
    for member, have, wanted, base_m in zip(d1._fields, d1, d1_want, base):
        have_rows = sorted(map(tuple, have.collect()))
        assert have_rows == sorted(map(tuple, wanted.collect())), (
            f"delta member {member} is not the batch-0 admitted delta"
        )
        assert len(have_rows) < base_m.count(), (
            f"delta member {member} is corpus-sized — the flush "
            "re-snapshotted instead of writing O(delta)"
        )

    # pin 3: composition == from-scratch rebuild over covered batches
    composed, boundary = ingest_store_load(spark, store)
    assert boundary == 2
    adm01 = [r.doc_id for bid in sorted(per_batch)[:2] for r in per_batch[bid]]
    rebuilt = minhash_ingest_index(
        docs.where((F.col("doc_id") % 4 == 0) | F.col("doc_id").isin(adm01))
    )
    for member, have, wanted in zip(composed._fields, composed, rebuilt):
        assert sorted(map(tuple, have.collect())) == sorted(
            map(tuple, wanted.collect())
        ), f"composed member {member} diverged from the rebuild"


def test_delta_store_restart_recovery_and_compact(spark, growing_split, tmp_path):
    """The delta-store RECOVERY RECIPE + the out-of-band compactor:
    drain batches 1-2 (base snapshot + delta_1), simulate
    driver death, then restart from ``ingest_store_load`` with the
    committed sink tail handed to ``tail_docs`` — the trigger folds it
    as PENDING so the next delta flush PERSISTS it (folding into the
    base would orphan the tail from every future segment). Union of
    emissions across incarnations == the uninterrupted batch fold, the
    tail docs land in the post-restart delta, and
    ``ingest_store_compact`` then folds base+deltas into one snapshot
    equal to the full rebuild — with keep_segments=1 retiring
    everything else."""
    import glob
    import shutil

    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_index_load,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.ingest import (
        committed_batch_ids,
        ingest_store_compact,
        ingest_store_load,
        streaming_minhash_ingest_growing,
    )

    docs, src = growing_split
    src2 = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    os.makedirs(src2)
    files = sorted(glob.glob(os.path.join(src, "batch*.parquet")))
    for f in files[:2]:
        shutil.copy2(f, src2)

    per_batch: dict[int, list] = {}
    q = streaming_minhash_ingest_growing(
        minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0)),
        _arrival_stream(spark, src2),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
        compact_every=1,
        store=store,
    )
    assert q.awaitTermination(300), "first run did not finish"
    q.stop()
    first = [
        (pos + 1, r.doc_id, r.lang, r.n_chars)
        for pos, bid in enumerate(sorted(per_batch))
        for r in per_batch[bid]
    ]

    # driver death; batch 3 lands. Recovery: compose the store (base +
    # delta_1, boundary 1), tail = committed sink batches >= 1 (batch 2)
    shutil.copy2(files[2], src2)
    recovered, boundary = ingest_store_load(spark, store)
    assert boundary == 1
    tail_bids = sorted(b for b in committed_batch_ids(spark, ck) if b >= boundary)
    assert tail_bids == [1]
    tail_ids = [r.doc_id for b in tail_bids for r in per_batch[b]]
    per_batch2: dict[int, list] = {}
    q2 = streaming_minhash_ingest_growing(
        recovered,
        _arrival_stream(spark, src2),
        emit=lambda df, bid: per_batch2.setdefault(bid, []).extend(df.collect()),
        checkpoint=ck,
        compact_every=1,
        store=store,
        tail_docs=docs.where(F.col("doc_id").isin(tail_ids)),
    )
    assert q2.awaitTermination(300), "resumed run did not finish"
    q2.stop()
    resumed = {bid: rows for bid, rows in per_batch2.items() if rows}
    assert len(resumed) == 1, "resume should process exactly batch 3"
    got = sorted(
        first
        + [
            (3, r.doc_id, r.lang, r.n_chars)
            for rows in resumed.values()
            for r in rows
        ]
    )
    want = sorted(
        tuple(r)
        for r in registry()["x1_ingest_growing"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got == want

    # the tail (batch-2 admissions) was PERSISTED by the post-restart
    # flush (delta_2, written at the start of the replayed... next flush
    # boundary), so a SECOND recovery needs no sink older than delta_2
    d2 = ingest_index_load(spark, os.path.join(store, "delta_000000002"))
    d2_hashes = {r.h for r in d2.hashes.collect()}
    tail_hashes = {
        r.h
        for r in docs.where(F.col("doc_id").isin(tail_ids))
        .select(F.md5("text").alias("h"))
        .collect()
    }
    assert tail_hashes <= d2_hashes, "recovered tail never reached a segment"

    # out-of-band compaction: one snapshot == the full rebuild; with
    # keep_segments=1 everything else retires
    target = ingest_store_compact(spark, store, keep_segments=1)
    assert os.path.basename(target) == "seg_000000002"
    assert sorted(os.listdir(store)) == ["seg_000000002"]
    composed, boundary2 = ingest_store_load(spark, store)
    assert boundary2 == 2
    all_adm = [t[1] for t in got if t[0] <= 2]
    rebuilt = minhash_ingest_index(
        docs.where((F.col("doc_id") % 4 == 0) | F.col("doc_id").isin(all_adm))
    )
    for member, have, wanted in zip(composed._fields, composed, rebuilt):
        assert sorted(map(tuple, have.collect())) == sorted(
            map(tuple, wanted.collect())
        ), f"compacted member {member} diverged from the rebuild"


def test_growing_state_invariant(spark, growing_split):
    """The growing trigger's state invariant (review r14, the tail
    double-count bug's pin): ``cur == base UNION pending`` AT INIT —
    the recovered tail folds into ``cur`` (admissions see it) and into
    ``pending`` (the next flush persists it) but NOT into ``base``,
    because the flush unions the LOADED tail segment into base; a base
    that already held the tail would then count every tail shingle row
    twice and corrupt Jaccard verdicts in both directions."""
    from iii_aibigdata_capstone_spark.operators.dedup import (
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.streaming.ingest import _growing_state

    docs, _src = growing_split
    index = minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0))
    tail = docs.where(F.col("doc_id") % 4 == 1)

    st = _growing_state(index, tail)
    for member, base_m, cur_m, pend_m in zip(
        index._fields, st["base"], st["cur"], st["pending"]
    ):
        nb, nc, np_ = base_m.count(), cur_m.count(), pend_m.count()
        assert np_ > 0, f"tail delta member {member} is empty"
        assert nc == nb + np_, (
            f"member {member}: cur ({nc}) != base ({nb}) + pending "
            f"({np_}) — the tail was folded into base (double-count)"
        )
    # and base is exactly the passed index (same frames, untouched)
    assert st["base"] is index

    st2 = _growing_state(index, None)
    assert st2["pending"] is None and st2["cur"] is index


def test_growing_fold_eager_survives_source_loss(spark):
    """The eager-fold contract (review r11): a streaming fold's delta
    lineage roots in the micro-batch DataFrame, so with eager=True every
    delta member materializes INSIDE its batch — after the source file is
    DELETED, the grown index must still admit/reject correctly (a lazy
    fold would hit FileNotFound replaying the dead source during the
    next admission)."""
    import glob
    import shutil
    import time

    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit,
        ingest_admit_fold,
        minhash_ingest_index,
    )

    docs = table(spark, TEST_SF_DIR, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    src = tempfile.mkdtemp(prefix="srcloss_")
    _write_arrival_file(
        docs.where(F.col("doc_id") % 4 == 1), src, "b1.parquet", time.time() - 60
    )
    state = [minhash_ingest_index(docs.where(F.col("doc_id") % 4 == 0))]
    admitted_rows: list = []

    def fold(df, _bid):
        admitted, state[0] = ingest_admit_fold(state[0], df, eager=True)
        admitted_rows.extend(admitted.collect())

    q = (
        _arrival_stream(spark, src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="srcloss_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()
    assert admitted_rows

    # the batch's source is GONE — the grown index must keep working
    for f in glob.glob(os.path.join(src, "*")):
        os.unlink(f)
    shutil.rmtree(src)
    dup_of_admitted = (
        docs.where(F.col("doc_id") == admitted_rows[0].doc_id)
        .select("text")
        .collect()[0]
        .text
    )
    probe = spark.createDataFrame(
        [
            (900001, "en", dup_of_admitted, len(dup_of_admitted)),
            (900002, "xx", "utterly unrelated fresh probe body", 34),
        ],
        INGEST_ARRIVAL_SCHEMA,
    )
    got = {r.doc_id for r in ingest_admit(state[0], probe).collect()}
    # the exact dup of a batch-1 ADMISSION is rejected via the delta's
    # hash member; the fresh doc sails through
    assert got == {900002}


def test_continuous_factory_equals_batch_factory(spark):
    """THE CONTINUOUS FACTORY, end to end (r10 verdict ask #3): streamed
    stages 1-3 (quality gate -> growing dedup admission -> benchmark
    decontamination, per micro-batch) + the periodic batch manifest job
    (manifest_build, stages 4-6) over the stream-admitted corpus must
    reproduce x9_data_factory EXACTLY on the same documents table —
    including a mid-stream restart whose index is REBUILT from the
    admitted sink (the fold-invariant recovery recipe).

    Admission keeps the FIRST arrival of a dup group; the batch factory
    keeps the BEST (longest, then lowest id) per exact/near-dup cluster.
    The two coincide exactly when (a) arrivals are replayed in keeper
    order — every cluster's keeper in an earlier batch than its other
    members (the SEEDING/BACKFILL scenario: bootstrapping a continuous
    factory from an existing corpus replays it best-first) — and (b)
    every non-keeper has a DIRECT verified near-dup edge to its keeper
    (admission holds state only for ADMITTED docs, so a chain cluster
    A-B-C with no A-C edge admits C after B was rejected; the batch
    factory's transitive closure drops it). Both are asserted as
    PRECONDITIONS below, computed from the factory's own spellings — if
    future testdata breaks them, this fails loudly at the precondition,
    not with a silent diff. Under live arbitrary arrival order the
    divergence is exactly keep-first vs keep-best; periodic compaction
    (re-running the batch factory) reconciles."""
    import glob
    import hashlib
    import shutil
    import time

    from iii_aibigdata_capstone_spark.operators.curation import (
        bench_gram_index,
        decontaminate_selected,
        factory_base,
        manifest_build,
    )
    from iii_aibigdata_capstone_spark.operators.dedup import (
        _minhash_verified_pairs,
        ingest_admit_fold,
        minhash_ingest_index,
        shingles_of,
    )
    from iii_aibigdata_capstone_spark.operators.textual import score_documents
    from iii_aibigdata_capstone_spark.queries import registry

    docs = table(spark, TEST_SF_DIR, "documents")
    base = factory_base(docs).localCheckpoint(eager=False)

    # --- replay schedule from the factory's own stage-1/2 spellings ----
    info = {
        r.doc_id: r
        for r in base.select("doc_id", "text", "n_chars", "logit_milli").collect()
    }
    good = {d for d, r in info.items() if r.logit_milli >= 0}
    canon: dict[str, int] = {}
    for d in sorted(good):
        canon.setdefault(hashlib.md5(info[d].text.encode()).hexdigest(), d)
    survivor_ids = set(canon.values())
    surv = base.join(
        spark.createDataFrame([(d,) for d in survivor_ids], "doc_id long"),
        "doc_id",
        "left_semi",
    )
    pairs = [
        (r.doc_a, r.doc_b)
        for r in _minhash_verified_pairs(shingles_of(surv)).collect()
    ]
    parent = {d: d for d in survivor_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    clusters: dict[int, list] = {}
    for d in survivor_ids:
        clusters.setdefault(find(d), []).append(d)
    edge = {frozenset(p) for p in pairs}
    keepers = set()
    for members in clusters.values():
        best = min(members, key=lambda d: (-info[d].n_chars, d))
        keepers.add(best)
        # PRECONDITION (b): direct edge keeper<->every other member
        for m in members:
            assert m == best or frozenset((m, best)) in edge, (
                "chain cluster without a direct keeper edge — the "
                "admission==keep-best equivalence does not hold on this "
                f"corpus (cluster {sorted(members)})"
            )
    # keepers <= survivor_ids <= good, so good - keepers IS the union of
    # both drop reasons (review r11: the redundant second term implied
    # the sets could differ)
    dropped = sorted(good - keepers)
    assert len(dropped) >= 2, "need dropped dups to split across batches"
    batch1 = sorted(set(info) - set(dropped))  # keepers + gate-failers
    batch2, batch3 = dropped[0::2], dropped[1::2]

    # --- the streamed front-end: 3 arrival files, restart after file 1 --
    def ids_frame(ids):
        return docs.select("doc_id", "lang", "text", "n_chars").join(
            spark.createDataFrame([(d,) for d in ids], "doc_id long"),
            "doc_id",
            "left_semi",
        )

    src = tempfile.mkdtemp(prefix="contfact_src_")
    now = time.time()
    staging = tempfile.mkdtemp(prefix="contfact_stage_")
    for i, ids in enumerate((batch1, batch2, batch3)):
        _write_arrival_file(
            ids_frame(ids), staging, f"batch{i + 1}.parquet", now - 400 + 100 * i
        )
    files = sorted(glob.glob(os.path.join(staging, "batch*.parquet")))
    shutil.copy2(files[0], src)

    bench_g = bench_gram_index(base).localCheckpoint(eager=False)
    admitted_ids: list[int] = []
    clean_ids: list[int] = []
    n_batches = [0]

    def front_end(state):
        def _run(df, bid):
            # stages 1-3, per micro-batch: gate -> admit+fold -> decontaminate
            gated = score_documents(df, keep=("text", "n_chars")).where(
                "quality_pass"
            ).select("doc_id", "lang", "text", "n_chars")
            admitted, state[0] = ingest_admit_fold(state[0], gated, eager=True)
            adm = [r.doc_id for r in admitted.collect()]
            admitted_ids.extend(adm)
            clean_ids.extend(
                r.doc_id
                for r in decontaminate_selected(
                    df.join(
                        spark.createDataFrame([(d,) for d in adm], "doc_id long"),
                        "doc_id",
                        "left_semi",
                    ),
                    bench_g,
                ).select("doc_id").collect()
            )
            n_batches[0] += 1

        return _run

    empty_index = minhash_ingest_index(
        docs.where(F.lit(False)).select("doc_id", "lang", "text", "n_chars")
    )
    ck = tempfile.mkdtemp(prefix="contfact_ck_")
    q = (
        _arrival_stream(spark, src)
        .writeStream.foreachBatch(front_end([empty_index]))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "first run did not finish"
    q.stop()
    assert n_batches[0] == 1 and admitted_ids, "batch 1 should admit the keepers"

    # restart: remaining arrivals land; index REBUILT from the admitted
    # sink (every member is a pure per-doc function of the admitted docs)
    for f in files[1:]:
        shutil.copy2(f, src)
    rebuilt = minhash_ingest_index(ids_frame(admitted_ids))
    q2 = (
        _arrival_stream(spark, src)
        .writeStream.foreachBatch(front_end([rebuilt]))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300), "resumed run did not finish"
    q2.stop()
    assert n_batches[0] == 3, "resume should process exactly batches 2 and 3"

    # stage-2 pin: the stream admitted exactly the factory's dedup keepers
    assert sorted(admitted_ids) == sorted(keepers)

    # --- the periodic batch job over the admitted corpus ---------------
    manifest = manifest_build(
        base.join(
            spark.createDataFrame([(d,) for d in clean_ids], "doc_id long"),
            "doc_id",
            "left_semi",
        )
    )
    got = sorted(map(tuple, manifest.collect()))
    want = sorted(
        tuple(r)
        for r in registry()["x9_data_factory"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got and got == want


def test_compaction_reconciles_arbitrary_order(spark, tmp_path):
    """THE GOLD-CORPUS REBUILD, pinned order-free (r11 verdict ask #2):
    stream-admit in plain doc_id-order thirds — NOT keeper order, no
    clique/keeper-order precondition anywhere — then run the periodic
    compaction job (the batch factory's own stages via the shared
    ``factory_clean`` + ``manifest_build`` spellings) over the CORPUS
    STORE the stream filled, and the manifest must equal
    ``x9_data_factory`` exactly.

    Three pins, in dependency order:
    1. DIVERGENCE IS REAL: under this schedule the stream's keep-FIRST
       admitted set differs from the factory's keep-BEST keeper set (if
       it didn't, reconciliation would be vacuous). This is precisely
       the live-arrival gap the old continuous-factory test excludes by
       precondition.
    2. SEGMENT COMPACTION (the registered x1_ingest_compaction rule)
       over what the stream RETAINED is also not a no-op here: keep-best
       over the admitted corpus drops at least one admitted doc (a
       within-batch pair or a keep-first flip) — but by construction it
       CANNOT resurrect a best doc admission rejected, which is why…
    3. …the GOLD REBUILD reads the STORE (every raw arrival, pre-gate —
       what a deployment's corpus store holds), not the admitted set:
       ``manifest_build(factory_clean(factory_base(store)))`` ==
       x9_data_factory rows, for ANY arrival order, because every
       factory stage is a pure function of the store's contents.

    The store round-trips through real micro-batches (schema, batching,
    file order), so the equality pins the wiring — per-batch gating
    composes to the global gate, the store schema carries everything
    stages 4-6 need — not just the algebra. Source and checkpoint live
    under tmp_path so they are cleaned up on ANY exit path (ADVICE
    r12)."""
    import time

    from pyspark.sql import Window

    from iii_aibigdata_capstone_spark.operators.curation import (
        factory_base,
        factory_clean,
        manifest_build,
    )
    from iii_aibigdata_capstone_spark.operators.dedup import (
        ingest_admit_fold,
        keep_best_map,
        minhash_ingest_index,
    )
    from iii_aibigdata_capstone_spark.operators.textual import score_documents
    from iii_aibigdata_capstone_spark.queries import registry

    docs = table(spark, TEST_SF_DIR, "documents")
    wide = docs.select("doc_id", "source", "lang", "text", "n_chars")
    all_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    third = (len(all_ids) + 2) // 3
    batches = [all_ids[i * third : (i + 1) * third] for i in range(3)]
    assert all(batches), "need three non-empty id-order batches"

    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    wide_schema = "doc_id long, source string, lang string, text string, n_chars long"
    for i, ids in enumerate(batches):
        _write_arrival_file(
            wide.join(
                spark.createDataFrame([(d,) for d in ids], "doc_id long"),
                "doc_id",
                "left_semi",
            ),
            src,
            f"batch{i + 1}.parquet",
            now - 400 + 100 * i,
        )

    store_rows: list = []
    admitted_ids: list[int] = []
    state = [
        minhash_ingest_index(
            docs.where(F.lit(False)).select("doc_id", "lang", "text", "n_chars")
        )
    ]

    def front_end(df, bid):
        store_rows.extend(df.collect())  # the corpus store: RAW arrivals
        gated = (
            score_documents(df, keep=("text", "n_chars"))
            .where("quality_pass")
            .select("doc_id", "lang", "text", "n_chars")
        )
        admitted, state[0] = ingest_admit_fold(state[0], gated, eager=True)
        admitted_ids.extend(r.doc_id for r in admitted.collect())

    q = (
        spark.readStream.schema(wide_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(front_end)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()
    assert sorted(r.doc_id for r in store_rows) == all_ids, "store must be total"

    store = spark.createDataFrame(store_rows, wide_schema)
    sbase = factory_base(store).localCheckpoint(eager=False)

    # pin 1: keep-first admission diverges from keep-best under id order
    good = sbase.where(F.col("logit_milli") >= 0)
    w_hash = Window.partitionBy(F.md5(F.col("text")))
    survivors = (
        good.withColumn("canon", F.min("doc_id").over(w_hash))
        .where(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "lang", "text", "n_chars")
    )
    keepers = {
        r.doc_id
        for r in keep_best_map(survivors)
        .where(F.col("doc_id") == F.col("keep_id"))
        .collect()
    }
    assert sorted(admitted_ids) != sorted(keepers), (
        "id-order arrival coincided with keeper order — pick a schedule "
        "where keep-first and keep-best differ or the pin is vacuous"
    )

    # pin 2: segment compaction over the RETAINED corpus is not a no-op
    adm = wide.join(
        spark.createDataFrame([(d,) for d in admitted_ids], "doc_id long"),
        "doc_id",
        "left_semi",
    )
    w_hash_adm = Window.partitionBy(F.md5(F.col("text")))
    adm_surv = (
        adm.withColumn("canon", F.min("doc_id").over(w_hash_adm))
        .where(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "lang", "text", "n_chars")
    )
    adm_kept = {
        r.doc_id
        for r in keep_best_map(adm_surv)
        .where(F.col("doc_id") == F.col("keep_id"))
        .collect()
    }
    assert adm_kept < set(admitted_ids), (
        "admission left nothing for segment compaction to drop — the "
        "within-batch granularity gap did not materialize on this corpus"
    )

    # pin 3: the gold rebuild over the store == the batch factory, no
    # precondition on arrival order or cluster shape
    got = sorted(
        map(tuple, manifest_build(factory_clean(sbase)).collect())
    )
    want = sorted(
        tuple(r)
        for r in registry()["x9_data_factory"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got and got == want


def test_streaming_gated_ingest_composition(spark, ingest_split):
    """The factory front-end as a stream, UPGRADED to the growing index
    (r10 verdict ask #2): the stateless quality gate (score_documents)
    composed with admission-and-FOLD (ingest_admit_fold) inside ONE
    foreachBatch body — each batch's gated admissions dedup every later
    batch. The batch side replays the SAME closure over the per-half
    arrival frames in the OBSERVED micro-batch order (FileStreamSource
    breaks mtime ties in unspecified order, so the observed order is the
    contract, not a pinned one). Because the equality side shares the
    closure, the gate is pinned INDEPENDENTLY: every admitted doc must be
    in the gate-passing id set computed directly from score_documents,
    and the gate provably drops docs."""
    from iii_aibigdata_capstone_spark.operators.dedup import ingest_admit_fold
    from iii_aibigdata_capstone_spark.operators.textual import score_documents

    index, arrivals, src, median_id = ingest_split

    def gate(df):
        # ONE spelling of the gate stage, shared by both lanes
        scored = score_documents(df, keep=("text", "n_chars"))
        return scored.where("quality_pass").select(
            "doc_id", "lang", "text", "n_chars"
        )

    per_batch: dict[int, list] = {}
    state = [index]

    def admit_gated_fold(df, bid):
        admitted, state[0] = ingest_admit_fold(state[0], gate(df), eager=True)
        per_batch.setdefault(bid, []).extend(admitted.collect())

    q = (
        _arrival_stream(spark, src)
        .writeStream.foreachBatch(admit_gated_fold)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="gated_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()
    data_batches = [rows for _, rows in sorted(per_batch.items()) if rows]
    assert len(data_batches) == 2, "expected admissions in both arrival batches"
    got = sorted(tuple(r) for rows in data_batches for r in rows)

    # batch side: the sequential-prefix fold over the SAME half frames in
    # the observed order
    lower_first = all(r.doc_id <= median_id for r in data_batches[0])
    preds = [F.col("doc_id") <= median_id, F.col("doc_id") > median_id]
    if not lower_first:
        preds.reverse()
    bstate, want = index, []
    for pred in preds:
        admitted, bstate = ingest_admit_fold(bstate, gate(arrivals.where(pred)))  # batch side: lazy is fine
        want.extend(map(tuple, admitted.collect()))
    assert got == sorted(want)

    # independent gate pin (computed OUTSIDE the shared closure)
    passing = {
        r.doc_id
        for r in score_documents(arrivals, keep=()).where("quality_pass").collect()
    }
    assert 0 < len(passing) < arrivals.count()
    assert got and {t[0] for t in got} <= passing


def test_streaming_ann_serving_equals_batch(spark):
    """streaming/serving.py ANN twin: probe ids arriving in TWO
    micro-batches, served against ONE prebuilt IvfPqIndex through the
    shared ivf_pq_serve dataflow, must emit exactly the batch
    x3_ivf_pq_topk rows (each probe's full top-3 in the micro-batch that
    carried it) — the rag-serving proof applied to the ANN product:
    (a) the index is query-batch independent, (b) stream and batch
    cannot drift (one spelling of the search DAG)."""
    import tempfile

    import pyspark.sql.functions as F

    from iii_aibigdata_capstone_spark.operators.similarity import (
        N_QUERIES,
        ivf_pq_index,
    )
    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.streaming.serving import (
        streaming_ann_serving,
    )

    index = ivf_pq_index(spark, TEST_SF_DIR)
    probes = spark.range(N_QUERIES).select(F.col("id").alias("query_id"))
    src = tempfile.mkdtemp(prefix="ann_q_src_")
    # two files -> two micro-batches (probes 0-3, then 4-9)
    for pred in (F.col("query_id") < 4, F.col("query_id") >= 4):
        probes.where(pred).coalesce(1).write.mode("append").parquet(src)

    per_batch: dict[int, list] = {}
    q = streaming_ann_serving(
        index,
        spark.readStream.schema("query_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        emit=lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="ann_q_ck_"),
    )
    assert q.awaitTermination(300), "stream did not finish"
    q.stop()

    data_batches = [rows for rows in per_batch.values() if rows]
    assert len(data_batches) == 2  # served per arrival batch
    seen_q = [sorted({r.query_id for r in rows}) for rows in data_batches]
    assert sorted(qq for qs in seen_q for qq in qs) == list(range(N_QUERIES))

    got = sorted(tuple(r) for rows in data_batches for r in rows)
    want = sorted(
        tuple(r)
        for r in registry()["x3_ivf_pq_topk"].builder(spark, TEST_SF_DIR).collect()
    )
    assert got == want
