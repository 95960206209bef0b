"""Relational core: scans, projections, filters, expressions, aggregations,
windows, joins, set ops (SURVEY.md §2.1-2.7 ✅ rows).

Every operator here is pure DataFrame API — no UDFs — so Catalyst gets
predicate pushdown, column pruning, and whole-stage codegen end to end.
Reference provenance is cited per query (paths under /root/reference/,
``qp/`` = quarter_prediction, ``pi/`` = player_identification).

Scale notes baked into the plans:
- ``region``/``nation`` (and any derived handful-of-rows aggregate) are
  broadcast explicitly — constant-size at any SF, never worth a shuffle.
- Aggregations use map-side partial aggregation automatically; we group on
  the natural keys so the shuffle is on the smallest viable key set.
- Top-k uses window ``row_number`` *after* pre-aggregation, never a global
  sort of the fact table.
"""

from __future__ import annotations

from textwrap import dedent

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions.money import cents_col, cents_sql
from ..registry import QuerySpec, make_registrar

SPECS: list[QuerySpec] = []
query = make_registrar(SPECS)


# ---------------------------------------------------------------------------
# Scans / projections / filters (S3-S5, P1-P5, P7, P9)
# ---------------------------------------------------------------------------


@query(
    "p1_scan_project_filter",
    oracle=dedent(
        """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        FROM lineitem
        WHERE l_quantity >= 45 AND l_shipdate >= TIMESTAMP '1998-01-01'
        """
    ),
    tags=("P1", "P7", "S3"),
)
def p1_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate on the fact scan.

    Reference: value projection qp/ml_k_to_ss.py:64 and score-threshold
    filter pi/digit_detector/detect.py:160-168. Both predicates and the
    5-column projection reach the parquet reader (PushedFilters /
    ReadSchema), so at 100 TB this scans a fraction of the table.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_quantity") >= 45) & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")


@query(
    "p3_csv_schema_roundtrip",
    oracle=dedent(
        """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        """
    ),
    tags=("P2", "P3", "E1", "E3"),
)
def p3_csv_schema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text -> typed-schema application, the reference's core
    ingest step (qp/ml_k_to_ss.py:9-14: split(',') + positional int casts).

    Serializes rows to one CSV line (as the Kafka payload would be,
    qp/ml_source.py:13-14) then re-applies the declared schema with
    ``from_csv`` — the Structured-Streaming-native replacement for the
    hand-rolled split/cast. The oracle checks the round trip is lossless.
    """
    o = table(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    parsed = F.from_csv(
        line,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    return o.select(parsed.alias("r")).select(
        F.col("r.o_orderkey").alias("o_orderkey"),
        F.col("r.o_custkey").alias("o_custkey"),
        F.col("r.o_orderstatus").alias("o_orderstatus"),
        F.col("r.o_totalprice").alias("o_totalprice"),
    )


@query(
    "p11_conditional_message",
    oracle=dedent(
        """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN 'finished'
                    WHEN o_orderstatus = 'O' THEN 'open'
                    ELSE 'partial' END AS status_word,
               CONCAT(CAST(o_orderkey AS VARCHAR), ':',
                      CASE WHEN o_orderstatus = 'F' THEN 'finished'
                           WHEN o_orderstatus = 'O' THEN 'open'
                           ELSE 'partial' END, ':',
                      CAST(ROUND(o_totalprice, 2) AS VARCHAR)) AS message
        FROM orders
        WHERE o_totalprice > 200000
        """
    ),
    tags=("P11", "E2", "E3", "E4"),
)
def p11_conditional_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction->message conditional + message templating.

    Reference: win/lose text qp/ml_IFTTT.py:17-23 and ``'{},{}'.format``
    payload building qp/ml_k_to_ss.py:51. ``when/otherwise`` + ``concat``
    stay inside whole-stage codegen (no Python in the loop).
    """
    o = table(spark, sf_dir, "orders")
    status_word = (
        F.when(F.col("o_orderstatus") == "F", F.lit("finished"))
        .when(F.col("o_orderstatus") == "O", F.lit("open"))
        .otherwise(F.lit("partial"))
    )
    return (
        o.where(F.col("o_totalprice") > 200000)
        .withColumn("status_word", status_word)
        .select(
            "o_orderkey",
            "status_word",
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("status_word"),
                F.lit(":"),
                F.round(F.col("o_totalprice"), 2).cast("string"),
            ).alias("message"),
        )
    )


@query(
    "e_expression_surface",
    oracle=dedent(
        """
        SELECT l_orderkey, l_linenumber,
               ROUND(ABS(l_extendedprice - l_quantity * 1000), 2) AS l1_dist,
               ROUND(DEGREES(ACOS(LEAST(1.0, l_discount * 10))), 4) AS angle_deg,
               ROUND(SQRT(l_quantity * l_quantity + l_extendedprice / 1000 * (l_extendedprice / 1000)), 4) AS euclid,
               GREATEST(l_quantity, 25.0) AS clamped,
               (l_quantity + 1) * (l_linenumber + 1) AS area
        FROM lineitem
        WHERE l_linenumber <= 3
        """
    ),
    tags=("E2", "E6", "E7", "E8", "E9", "E10"),
)
def e_expression_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-expression surface: abs/L1 distance (pi/dl_k_to_ss.py:
    338-339), vector angle via acos+degrees (pi/dl_k_to_ss.py:264-273),
    Euclidean norm (pi/dl_k_to_ss.py:148-149), least/greatest clamps
    (pi/dl_k_to_ss.py:314-317), box area (pi/digit_detector/detect.py:34).
    All pure Catalyst expressions — codegen'd, no UDF.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_linenumber") <= 3).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000), 2).alias("l1_dist"),
        F.round(F.degrees(F.acos(F.least(F.lit(1.0), F.col("l_discount") * 10))), 4).alias("angle_deg"),
        F.round(
            F.sqrt(
                F.col("l_quantity") * F.col("l_quantity")
                + (F.col("l_extendedprice") / 1000) * (F.col("l_extendedprice") / 1000)
            ),
            4,
        ).alias("euclid"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("clamped"),
        ((F.col("l_quantity") + 1) * (F.col("l_linenumber") + 1)).alias("area"),
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A10)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=dedent(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-06-01'
        GROUP BY l_returnflag, l_linestatus
        """
    ),
    tags=("A2", "A9", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped full-scan aggregation — the batch-aggregate
    workhorse (reference aggregate surface: counts qp/ml_k_to_ss.py:17,
    means pi/digit_detector/preprocess.py:71-73).

    One shuffle on a 6-value key; partial aggregation does nearly all work
    map-side, so this scales linearly with input and is network-trivial.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-06-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "a1_group_median",
    oracle=dedent(
        """
        SELECT event_type,
               ROUND(MEDIAN(value), 4) AS med_value,
               ROUND(QUANTILE_CONT(value, 0.25), 4) AS p25,
               ROUND(QUANTILE_CONT(value, 0.75), 4) AS p75,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        """
    ),
    tags=("A1",),
)
def a1_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by exact median/quantiles — the jersey-color median
    (pi/dl_k_to_ss.py:67-69, pandas ``groupby('Team').median()``) as a
    native Spark agg. Exact ``median``/``percentile`` (Spark >= 3.4) with
    linear interpolation matches DuckDB ``median``/``quantile_cont``.
    At 100 TB scale swap to ``percentile_approx`` (sketch-mergeable, no
    per-group sort) — kept exact here because the oracle is exact.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.median("value"), 4).alias("med_value"),
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("value", F.lit(0.75)), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "a4_histogram_share",
    oracle=dedent(
        """
        SELECT event_type, COUNT(*) AS cnt,
               ROUND(COUNT(*) / SUM(COUNT(*)) OVER (), 6) AS share
        FROM events
        GROUP BY event_type
        """
    ),
    tags=("A3", "A4"),
)
def a4_histogram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram + normalization (divide by total) — pi/color/utils.py:6-14
    (k-means label histogram, normalized). Aggregate then an empty-frame
    window over the tiny grouped result; the fact-table shuffle happens
    once, the normalizing total never touches the big table again.
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    total = Window.partitionBy()
    return counts.select(
        "event_type",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(total), 6).alias("share"),
    )


@query(
    "a5_mode_per_user",
    oracle=dedent(
        """
        SELECT user_id, event_type, cnt FROM (
            SELECT user_id, event_type, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY COUNT(*) DESC, event_type) AS rn
            FROM events
            GROUP BY user_id, event_type
        ) WHERE rn = 1
        """
    ),
    tags=("A5",),
)
def a5_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode / argmax-of-histogram — dominant color cluster
    (pi/dl_k_to_ss.py:332-336, ``np.argmax`` over the histogram).
    Aggregate first (shuffle on (user, type)), then rank the small grouped
    result — ties broken deterministically by event_type.
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "cnt")
    )


@query(
    "a8_detector_eval",
    oracle=dedent(
        """
        WITH flags AS (
            SELECT CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END AS pred,
                   CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS truth
            FROM lineitem
        )
        SELECT CAST(SUM(pred * truth) AS BIGINT) AS tp,
               CAST(SUM(pred * (1 - truth)) AS BIGINT) AS fp,
               CAST(SUM((1 - pred) * truth) AS BIGINT) AS fn,
               ROUND(SUM(pred * truth) / NULLIF(SUM(pred), 0), 6) AS precision_,
               ROUND(SUM(pred * truth) / NULLIF(SUM(truth), 0), 6) AS recall_
        FROM flags
        """
    ),
    tags=("A8",),
)
def a8_detector_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall evaluation — pi/digit_detector/evaluate.py:25-61
    (sums of TP/detected/truth -> metrics). Expressed as one pass of flag
    arithmetic + global aggregate: a single reduce, no join.
    """
    li = table(spark, sf_dir, "lineitem")
    pred = F.when(F.col("l_quantity") >= 40, 1).otherwise(0)
    truth = F.when(F.col("l_discount") >= 0.06, 1).otherwise(0)
    flags = li.select(pred.alias("pred"), truth.alias("truth"))
    return flags.agg(
        F.sum(F.col("pred") * F.col("truth")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("truth"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("truth")).alias("fn"),
        F.round(
            F.sum(F.col("pred") * F.col("truth")) / F.nullif(F.sum("pred"), F.lit(0)), 6
        ).alias("precision_"),
        F.round(
            F.sum(F.col("pred") * F.col("truth")) / F.nullif(F.sum("truth"), F.lit(0)), 6
        ).alias("recall_"),
    )


@query(
    "a10_group_prune_having",
    oracle=dedent(
        """
        SELECT o_custkey, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 8 AND SUM(o_totalprice) / COUNT(*) >= 120000
        """
    ),
    tags=("A10",),
)
def a10_group_prune_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-quality prune — the pose-person filter ``part_count >= 4 AND
    score/count >= 0.4`` (pi/dl_k_to_ss.py:238-242) as groupBy + HAVING.

    Output is the rounded SUM, not the average: dividing a 2-decimal sum
    by the count manufactures exact half-cent boundaries where Spark
    (HALF_UP on the shortest decimal repr) and DuckDB (raw-double
    rounding) legitimately disagree; the sum itself rounds identically.
    """
    o = table(spark, sf_dir, "orders")
    g = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("s"),
    )
    return (
        g.where((F.col("n_orders") >= 8) & (F.col("s") / F.col("n_orders") >= 120000))
        .select(
            "o_custkey",
            "n_orders",
            F.round(F.col("s"), 2).alias("total_price"),
        )
    )


@query(
    "p8_angles_exists_filter",
    oracle=dedent(
        """
        SELECT l_orderkey, COUNT(*) AS n_angles
        FROM lineitem
        GROUP BY l_orderkey
        HAVING MAX(l_quantity * 4) <= 110
        """
    ),
    tags=("P8", "E13"),
)
def p8_angles_exists_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Standing player' predicate — drop groups where ANY angle exceeds
    110 deg (pi/dl_k_to_ss.py:256-277). Expressed with a higher-order
    ``exists`` over the collected angle array to exercise Spark's lambda
    expressions; semantically identical to HAVING MAX(..) <= 110 (the
    oracle), which is also the form that scales (no array materialization).
    """
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.collect_list((F.col("l_quantity") * 4).cast("double")).alias("angles")
    )
    return g.where(
        ~F.exists(F.col("angles"), lambda a: a > F.lit(110.0))
    ).select("l_orderkey", F.size("angles").cast("long").alias("n_angles"))


# ---------------------------------------------------------------------------
# Windows / sorts / top-k (W1, W4, W5, W7)
# ---------------------------------------------------------------------------


@query(
    "w1_rank_and_lag",
    oracle=dedent(
        """
        SELECT event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
               ROUND(value - LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id), 2) AS delta
        FROM events
        """
    ),
    tags=("W1", "W7"),
)
def w1_rank_and_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic id assignment + neighbor delta — peak-id numbering
    (pi/dl_k_to_ss.py:127-131) and sort-by-probability (detect.py:35) as
    analytic window functions. One shuffle on the partition key.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


@query(
    "w4_relative_top_area",
    oracle=dedent(
        """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   MAX(l_extendedprice) OVER (PARTITION BY l_orderkey) AS mx
            FROM lineitem
        ) WHERE l_extendedprice >= 0.97 * mx
        """
    ),
    tags=("W4", "A7"),
)
def w4_relative_top_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative top-k: keep rows within 97% of the per-group max — the
    box-area filter pi/digit_detector/detect.py:119-128 (``area >= 0.97 *
    max(area)``). Analytic max window instead of agg+rejoin: one shuffle.
    """
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("mx", F.max("l_extendedprice").over(w))
        .where(F.col("l_extendedprice") >= 0.97 * F.col("mx"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "w5_digit_compose",
    oracle=dedent(
        """
        SELECT l_orderkey,
               CAST(STRING_AGG(CAST(l_linenumber AS VARCHAR), ''
                               ORDER BY l_partkey, l_linenumber) AS BIGINT) AS composed
        FROM lineitem
        GROUP BY l_orderkey
        """
    ),
    tags=("W5",),
)
def w5_digit_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional digit composition — order digit boxes by x-coordinate and
    read the number (pi/digit_detector/detect.py:130-136, ``tens*10 +
    units`` generalized to n digits). ``array_sort(collect_list(struct))``
    keeps it a single aggregation; struct sort gives the (x, digit) order.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("l_partkey"), F.col("l_linenumber")))
            ).alias("boxes")
        )
        .select(
            "l_orderkey",
            F.array_join(
                F.transform(F.col("boxes"), lambda b: b["l_linenumber"].cast("string")), ""
            )
            .cast("bigint")
            .alias("composed"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (J1-J5 relational forms)
# ---------------------------------------------------------------------------


@query(
    "j1_lookup_left_join",
    oracle=dedent(
        """
        SELECT o.o_orderkey,
               COALESCE(c.c_name, 'player not found') AS who,
               COALESCE(c.c_mktsegment, 'N/A') AS segment
        FROM orders o
        LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 1000) c
          ON o.o_custkey = c.c_custkey
        """
    ),
    tags=("J1", "P9"),
)
def j1_lookup_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static lookup join with a missing-key sentinel — the player
    stats lookup pi/dl_k_to_ss.py:370-395 ('player not found' at :392-393),
    where the reference hand-rolls a broadcast hash join by capturing a
    pandas table in a closure (:420, :379). Here: explicit ``broadcast``
    of the filtered dimension + LEFT JOIN + ``coalesce`` for the sentinel.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 1000)
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    return joined.select(
        "o_orderkey",
        F.coalesce(F.col("c_name"), F.lit("player not found")).alias("who"),
        F.coalesce(F.col("c_mktsegment"), F.lit("N/A")).alias("segment"),
    )


@query(
    "j2_zip_by_rownumber",
    oracle=dedent(
        """
        WITH preds AS (
            SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
            FROM orders WHERE o_orderstatus = 'F'
        ), probs AS (
            SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
            FROM orders WHERE o_orderstatus = 'F'
        )
        SELECT p.rn AS rn, p.o_orderkey AS o_orderkey, q.o_totalprice AS o_totalprice
        FROM preds p JOIN probs q ON p.rn = q.rn
        """
    ),
    tags=("J2",),
)
def j2_zip_by_rownumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip of two columns — the RDD ``pred.zip(prob)`` at
    qp/ml_k_to_ss.py:34, which only works when partitioning is identical.
    The relational replacement: explicit ``row_number`` on each side with a
    deterministic order, then an equi-join on the row number.
    (In the rebuilt scoring pipeline this is unnecessary — P5 selects both
    columns in one projection — but the operator itself is supported.)
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    preds = o.select(
        "o_orderkey", F.row_number().over(Window.orderBy("o_orderkey")).alias("rn")
    )
    probs = o.select(
        "o_totalprice",
        F.row_number().over(Window.orderBy("o_totalprice", "o_orderkey")).alias("rn"),
    )
    return preds.join(probs, "rn").select("rn", "o_orderkey", "o_totalprice")


@query(
    "j3_iou_theta_join",
    oracle=dedent(
        """
        WITH boxes AS (
            SELECT l_orderkey, l_linenumber,
                   l_quantity AS lo, l_quantity + 5 + l_linenumber AS hi
            FROM lineitem
        )
        SELECT a.l_orderkey AS l_orderkey,
               a.l_linenumber AS line_a, b.l_linenumber AS line_b,
               ROUND(GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))
                     / ((a.hi - a.lo) + (b.hi - b.lo)
                        - GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))), 6) AS iou
        FROM boxes a JOIN boxes b
          ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        WHERE GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))
              / ((a.hi - a.lo) + (b.hi - b.lo)
                 - GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))) >= 0.5
        """
    ),
    tags=("J3", "E10"),
)
def j3_iou_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs IoU theta join — candidate x truth box overlap,
    pi/digit_detector/region_proposal.py:83-122. The geometric predicate
    rides on an equi-join prefix (the group key = image id, here
    l_orderkey), so the cross product is bounded per group — exactly how
    you keep a theta join alive at 100 TB: equi-band first, theta inside.
    """
    li = table(spark, sf_dir, "lineitem")
    boxes = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("lo"),
        (F.col("l_quantity") + 5 + F.col("l_linenumber")).alias("hi"),
    )
    a = boxes.alias("a")
    b = boxes.alias("b")
    inter = F.greatest(
        F.lit(0.0), F.least(F.col("a.hi"), F.col("b.hi")) - F.greatest(F.col("a.lo"), F.col("b.lo"))
    )
    union = (F.col("a.hi") - F.col("a.lo")) + (F.col("b.hi") - F.col("b.lo")) - inter
    iou = inter / union
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .where(iou >= 0.5)
        .select(
            F.col("a.l_orderkey").alias("l_orderkey"),
            F.col("a.l_linenumber").alias("line_a"),
            F.col("b.l_linenumber").alias("line_b"),
            F.round(iou, 6).alias("iou"),
        )
    )


@query(
    "j5_nearest_centroid",
    oracle=dedent(
        """
        WITH centroids AS (
            SELECT c_mktsegment AS segment, AVG(c_acctbal) AS centroid
            FROM customer GROUP BY c_mktsegment
        ), dists AS (
            SELECT c.c_custkey, s.segment,
                   ABS(c.c_acctbal - s.centroid) AS dist,
                   ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                                      ORDER BY ABS(c.c_acctbal - s.centroid), s.segment) AS rn
            FROM customer c CROSS JOIN centroids s
        )
        SELECT c_custkey, segment AS nearest_segment FROM dists WHERE rn = 1
        """
    ),
    tags=("J5", "E6"),
)
def j5_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (k-NN, k=1) against a tiny dimension — jersey color
    vs 2 team medians, L1 distance, argmin (pi/dl_k_to_ss.py:338-344).
    The centroid table is a handful of rows at any scale -> broadcast the
    cross join; rank with a deterministic tiebreak on segment name.
    """
    c = table(spark, sf_dir, "customer")
    centroids = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.avg("c_acctbal").alias("centroid")
    )
    dists = c.crossJoin(F.broadcast(centroids)).select(
        "c_custkey",
        "segment",
        F.abs(F.col("c_acctbal") - F.col("centroid")).alias("dist"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist", "segment")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_custkey", F.col("segment").alias("nearest_segment"))
    )


@query(
    "q3_top_revenue_orders",
    oracle=dedent(
        """
        SELECT o.o_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
        """
    ),
    tags=("J1", "A2", "topk"),
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped join + aggregate + deterministic top-k. Filters are
    pushed below the joins by Catalyst; the LIMIT is applied via a
    TakeOrderedAndProject (per-partition top-k + merge), never a full sort.
    The lineitem edge is MERGE-hinted: compressed-parquet size estimates
    auto-broadcast the fact table (single-threaded driver hash build —
    1.05 s vs 0.74 s SMJ at sf0.1), and a lineitem hash relation is the
    plan that dies at 100 TB (the q5 lesson, applied to every fact⋈fact
    edge in the TPC-H lane).
    """
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=dedent(
        """
        SELECT n.n_name,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS n_lines
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        WHERE r.r_name IN ('ASIA', 'EUROPE')
        GROUP BY n.n_name
        """
    ),
    tags=("J1", "flagship"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-way star join, ordered so the region filter acts
    before any fact shuffle: lineitem first joins the broadcast supplier
    dimension (supplier ⋈ nation ⋈ region[ASIA, EUROPE], carrying
    s_nationkey and n_name), which drops the ~60% of lines shipped by
    suppliers outside the two regions map-side. Only then does lineitem
    shuffle, for the sort-merge join to orders; customer joins last on
    (c_custkey, c_nationkey = s_nationkey), the local-supplier condition.
    The broadcast side is the region's share of supplier, not all of it,
    and lineitem is always the streamed side.

    The orders edge carries an explicit MERGE hint: parquet compression
    tricks the size estimator into auto-broadcasting a fact table (a
    single-threaded driver hash-relation build — measured 1.32 s vs
    0.89 s for SMJ at sf0.1, the r4 bench drift), and a fact-table hash
    relation is exactly the plan that dies at 100 TB. Sort-merge on
    l_orderkey is the shape both scales want.
    """
    r = table(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .join(c, (c.c_custkey == o.o_custkey) & (c.c_nationkey == sup.s_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Set / structural ops (T1, T2, T5) + extension set ops (X5)
# ---------------------------------------------------------------------------


@query(
    "t1_union_by_name",
    oracle=dedent(
        """
        SELECT l_orderkey, l_linenumber, 'low' AS src FROM lineitem WHERE l_quantity < 3
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'high' AS src FROM lineitem WHERE l_quantity > 48
        """
    ),
    tags=("T1",),
)
def t1_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of positive/negative sample sets — pi/digit_detector/
    extractor.py:70-78 (np.concatenate of pos + neg patches).
    ``unionByName`` resolves by column name, not position.
    """
    li = table(spark, sf_dir, "lineitem")
    low = li.where(F.col("l_quantity") < 3).select(
        "l_orderkey", "l_linenumber", F.lit("low").alias("src")
    )
    high = li.where(F.col("l_quantity") > 48).select(
        F.lit("high").alias("src"), "l_orderkey", "l_linenumber"
    )
    return low.unionByName(high)


@query(
    "t5_pos_neg_labeling",
    oracle=dedent(
        """
        WITH boxes AS (
            SELECT l_orderkey, l_linenumber,
                   l_quantity AS lo, l_quantity + 5 + l_linenumber AS hi
            FROM lineitem
        ), pair_iou AS (
            SELECT a.l_orderkey, a.l_linenumber AS line_a, b.l_linenumber AS line_b,
                   GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))
                   / ((a.hi - a.lo) + (b.hi - b.lo)
                      - GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))) AS iou
            FROM boxes a JOIN boxes b
              ON a.l_orderkey = b.l_orderkey AND a.l_linenumber <> b.l_linenumber
        )
        SELECT l_orderkey, line_a, line_b, 1 AS label
        FROM pair_iou WHERE iou >= 0.5
        UNION ALL
        SELECT l_orderkey, line_a, CAST(NULL AS INTEGER) AS line_b, 0 AS label
        FROM pair_iou GROUP BY l_orderkey, line_a HAVING MAX(iou) < 0.2
        """
    ),
    tags=("T5", "J3"),
)
def t5_pos_neg_labeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive/negative patch labeling by IoU thresholds —
    pi/digit_detector/extractor.py:26-68: positives where overlap > thr,
    negatives where the box's MAX overlap with any partner < thr_lo
    (an aggregate-anti-join, not a plain anti join).
    """
    li = table(spark, sf_dir, "lineitem")
    boxes = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("lo"),
        (F.col("l_quantity") + 5 + F.col("l_linenumber")).alias("hi"),
    )
    a, b = boxes.alias("a"), boxes.alias("b")
    inter = F.greatest(
        F.lit(0.0), F.least(F.col("a.hi"), F.col("b.hi")) - F.greatest(F.col("a.lo"), F.col("b.lo"))
    )
    union = (F.col("a.hi") - F.col("a.lo")) + (F.col("b.hi") - F.col("b.lo")) - inter
    pair_iou = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") != F.col("b.l_linenumber")),
        )
        .select(
            F.col("a.l_orderkey").alias("l_orderkey"),
            F.col("a.l_linenumber").alias("line_a"),
            F.col("b.l_linenumber").alias("line_b"),
            (inter / union).alias("iou"),
        )
        # materialized once: the positive filter AND the max-IoU negative
        # aggregate both consume the pair table — without the boundary the
        # self-join (two fact scans + a shuffle) runs twice
        .localCheckpoint(eager=False)
    )
    positives = pair_iou.where(F.col("iou") >= 0.5).select(
        "l_orderkey", "line_a", "line_b", F.lit(1).alias("label")
    )
    negatives = (
        pair_iou.groupBy("l_orderkey", "line_a")
        .agg(F.max("iou").alias("mx"))
        .where(F.col("mx") < 0.2)
        .select(
            "l_orderkey",
            "line_a",
            F.lit(None).cast("int").alias("line_b"),
            F.lit(0).alias("label"),
        )
    )
    return positives.unionByName(negatives)


@query(
    "x5_semi_join",
    oracle=dedent(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        """
    ),
    tags=("X5",),
)
def x5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "x5_anti_join",
    oracle=dedent(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """
    ),
    tags=("X5",),
)
def x5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "x5_intersect_years",
    oracle=dedent(
        """
        SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
        INTERSECT
        SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1997
        """
    ),
    tags=("X5",),
)
def x5_intersect_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets."""
    o = table(spark, sf_dir, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97)


@query(
    "x5_except_years",
    oracle=dedent(
        """
        SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
        EXCEPT
        SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1997
        """
    ),
    tags=("X5",),
)
def x5_except_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) of two key sets."""
    o = table(spark, sf_dir, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.subtract(y97)


@query(
    "x5_rollup_region_nation",
    oracle=dedent(
        """
        SELECT COALESCE(r_name, 'ALL') AS r_name,
               COALESCE(n_name, 'ALL') AS n_name,
               COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        """
    ),
    tags=("X5",),
)
def x5_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregate (region -> nation -> grand total)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            "n_customers",
            "total_bal",
        )
    )


@query(
    "x5_cube_status_priority",
    oracle=dedent(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
               COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """
    ),
    tags=("X5",),
)
def x5_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate over two low-cardinality dimensions."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "x5_grouping_sets",
    oracle=dedent(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(HOUR(ts) AS INTEGER), -1) AS hr,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS ((event_type), (HOUR(ts)), ())
        """
    ),
    tags=("X5",),
)
def x5_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with heterogeneous keys, via Spark SQL."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs_input")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(hr, -1) AS hr,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS total_value
        FROM (SELECT event_type, CAST(HOUR(ts) AS INT) AS hr, value FROM events_gs_input)
        GROUP BY GROUPING SETS ((event_type), (hr), ())
        """
    )


@query(
    "x5_count_distinct",
    oracle=dedent(
        """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
        """
    ),
    tags=("X5",),
)
def x5_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (expands then dedups internally)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("x5_approx_count_distinct", oracle=None, tags=("X5", "sketch"))
def x5_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct count — the 100 TB-scale form of
    x5_count_distinct (mergeable sketch, no expansion shuffle). Rows-only
    check: DuckDB's approx sketch differs numerically by design.
    ``x5_hll_explicit`` is the hash-checkable engine-neutral twin.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("x5_approx_quantiles", oracle=None, tags=("X5", "sketch"))
def x5_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantiles — the sketch form of
    x5_group_quantiles (mergeable partials, no per-group sort; accuracy
    set by the relative-error knob). Rows-only: the sketch's picks differ
    from exact interpolation by design. Tests bound the error against the
    exact form. ``x5_hdr_quantiles`` is the hash-checkable engine-neutral
    twin."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", F.lit(0.5), F.lit(1000)), 6).alias("p50_approx"),
        F.round(F.percentile_approx("value", F.lit(0.99), F.lit(1000)), 6).alias("p99_approx"),
        F.count(F.lit(1)).alias("n"),
    )


HDR_SUB_BITS = 5  # mantissa bits kept per bucket -> relative error < 2^-5


@query(
    "x5_hdr_quantiles",
    oracle=dedent(
        f"""
        WITH v AS (
            SELECT o_orderpriority, {cents_sql()} AS v
            FROM orders
        ),
        b AS (
            SELECT o_orderpriority, (v >> s) << s AS lo, COUNT(*) AS c
            FROM (
                SELECT o_orderpriority, v,
                       GREATEST(LENGTH(BIN(v)) - {HDR_SUB_BITS + 1}, 0) AS s
                FROM v
            )
            GROUP BY 1, 2
        ),
        c2 AS (
            SELECT o_orderpriority, lo, c,
                   SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lo) AS cum,
                   SUM(c) OVER (PARTITION BY o_orderpriority) AS n
            FROM b
        )
        SELECT o_orderpriority,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN lo END) AS BIGINT)
                   AS p50_cents,
               CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN lo END) AS BIGINT)
                   AS p90_cents,
               CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN lo END) AS BIGINT)
                   AS p99_cents
        FROM c2 GROUP BY 1
        """
    ),
    tags=("X5", "sketch", "quantile", "hdr"),
)
def x5_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantiles with a FULL oracle — the hash-checkable
    twin of ``x5_approx_quantiles`` (Greenwald-Khanna's picks are
    merge-order-dependent; an HDR histogram is not): order totals in
    exact cents drop into LOG-SCALE buckets — bucket = the value with all
    bits below the top {HDR_SUB_BITS + 1} cleared (exponent from
    LENGTH(BIN(v)), integer-only) — giving bounded RELATIVE error
    2^-{HDR_SUB_BITS} (~3%) at every magnitude, the production
    latency-histogram design. The sketch state is (bucket, count) pairs:
    mergeable by plain addition across partitions, shards and time — the
    map-side-combinable aggregation IS the sketch build, one exchange
    total. Quantile read-out is a cumulative walk per group: p-th
    quantile = the first bucket whose running count reaches the integer
    rank target (ceil as pure integer arithmetic — no float q*n to
    cross-engine-match), emitted as the bucket's lower bound in cents.
    Accuracy vs exact quantiles is pinned in tests at the 2^-{HDR_SUB_BITS}
    relative-error bound."""
    v = table(spark, sf_dir, "orders").select(
        "o_orderpriority", cents_col().alias("v")
    )
    b = (
        v.select(
            "o_orderpriority",
            "v",
            F.greatest(
                F.length(F.bin(F.col("v"))) - (HDR_SUB_BITS + 1), F.lit(0)
            ).alias("s"),
        )
        .selectExpr("o_orderpriority", "shiftleft(shiftright(v, s), s) AS lo")
        .groupBy("o_orderpriority", "lo")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = Window.partitionBy("o_orderpriority").orderBy("lo")
    w_all = Window.partitionBy("o_orderpriority")
    c2 = b.select(
        "o_orderpriority",
        "lo",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    pick = lambda k_expr: F.min(  # noqa: E731 — local alias for the 3 read-outs
        F.when(F.col("cum") >= F.expr(k_expr), F.col("lo"))
    )
    return c2.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        pick("(n + 1) div 2").alias("p50_cents"),
        pick("(9 * n + 9) div 10").alias("p90_cents"),
        pick("(99 * n + 99) div 100").alias("p99_cents"),
    )


@query(
    "x5_histogram_bins",
    oracle=dedent(
        """
        WITH b AS (
            SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
            FROM lineitem
        )
        SELECT LEAST(CAST(FLOOR((l_extendedprice - mn) * 20 / (mx - mn)) AS INT), 19) AS bin,
               COUNT(*) AS n,
               ROUND(SUM(l_extendedprice), 2) AS total
        FROM lineitem, b
        GROUP BY 1
        """
    ),
    tags=("X5", "histogram"),
)
def x5_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket): 20 equal bins over the global
    [min, max] of l_extendedprice, count + mass per bin — the profiling
    primitive behind equi-width stats collection and data-quality range
    checks.

    Two passes, both single-shuffle: a tiny global min/max aggregate
    broadcast to every task, then one map-side bin computation + groupBy on
    the bin id. The bin expression is identical (same IEEE ops, same
    operand order) in Spark and the oracle so edge values land in the same
    bin on both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    x = F.col("l_extendedprice")
    bin_id = F.least(
        F.floor((x - F.col("mn")) * 20 / (F.col("mx") - F.col("mn"))).cast("int"),
        F.lit(19),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .groupBy(bin_id.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(x), 2).alias("total"))
    )


@query(
    "w9_distribution_ranks",
    oracle=dedent(
        """
        SELECT o_orderkey, o_orderpriority,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        """
    ),
    tags=("X5", "W1", "window"),
)
def w9_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — quartile assignment (ntile),
    percentile rank and cumulative distribution per order priority: the
    analytics behind per-segment price banding. The ORDER BY includes the
    unique key so tie rows land in deterministic buckets on every engine.
    One shuffle on the partition key; all three functions share one window
    sort.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "x5_snapshot_diff",
    oracle=dedent(
        """
        WITH state AS (
            SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15'
        ),
        old AS (SELECT user_id, ROUND(value, 2) AS value FROM state WHERE rn = 1),
        state2 AS (
            SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ),
        new AS (SELECT user_id, ROUND(value, 2) AS value FROM state2 WHERE rn = 1)
        SELECT COALESCE(o.user_id, n.user_id) AS user_id,
               CASE WHEN o.user_id IS NULL THEN 'added'
                    WHEN n.user_id IS NULL THEN 'removed'
                    WHEN o.value <> n.value THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               o.value AS old_value, n.value AS new_value
        FROM old o FULL OUTER JOIN new n ON n.user_id = o.user_id
        """
    ),
    tags=("X5", "snapshot-diff"),
)
def x5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (table-format time travel / audit diff): materialize
    per-user state at two points in time (latest value before the cutoff vs
    latest overall) and classify every key as added / removed / changed /
    unchanged via one full outer join.

    Both snapshots shuffle on the same key, so the diff join satisfies its
    distribution from the snapshots' exchanges; at table-format scale the
    'snapshots' are manifest reads and the same diff plan applies.
    """
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def snapshot(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", F.round("value", 2).alias("value"))
        )

    old = snapshot(ev.where(F.col("ts") < cutoff)).alias("o")
    new = snapshot(ev).alias("n")
    return old.join(new, F.col("n.user_id") == F.col("o.user_id"), "full_outer").select(
        F.coalesce(F.col("o.user_id"), F.col("n.user_id")).alias("user_id"),
        F.when(F.col("o.user_id").isNull(), "added")
        .when(F.col("n.user_id").isNull(), "removed")
        .when(F.col("o.value") != F.col("n.value"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        F.col("o.value").alias("old_value"),
        F.col("n.value").alias("new_value"),
    )


@query(
    "x5_regression_stats",
    oracle=dedent(
        """
        SELECT event_type,
               ROUND(CORR(value, EXTRACT(DAY FROM ts)), 6) AS corr_day,
               ROUND(REGR_SLOPE(value, EXTRACT(DAY FROM ts)), 6) AS slope,
               ROUND(REGR_INTERCEPT(value, EXTRACT(DAY FROM ts)), 6) AS intercept,
               ROUND(REGR_R2(value, EXTRACT(DAY FROM ts)), 6) AS r2,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        """
    ),
    tags=("X5", "statistics"),
)
def x5_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend statistics — correlation, regression slope /
    intercept / R² of event value against day-of-month: the drift-detection
    aggregate of metric-monitoring pipelines. All five are single-pass
    MERGEABLE aggregates (sum/sum-of-products moments), so they partial-
    aggregate map-side and combine like any sum — no per-group sort, no
    second pass, sketch-free.
    """
    ev = table(spark, sf_dir, "events")
    day = F.dayofmonth("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", day), 6).alias("corr_day"),
        F.round(F.regr_slope("value", day), 6).alias("slope"),
        F.round(F.regr_intercept("value", day), 6).alias("intercept"),
        F.round(F.regr_r2("value", day), 6).alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )
