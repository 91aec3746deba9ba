"""Data-pipeline queries, wave 70: forecast accuracy and calibration
summaries.

- WAPE + bias for the seasonal-naive forecast (exact integer error
  ratios — the absolute-scale companions to MASE)
- expected calibration error for the base-rate predictor (per-bin
  quantized contributions, integer sum)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# WAPE + bias for the seasonal-naive forecast
# ---------------------------------------------------------------------------
@register(
    "ts_forecast_wape_bias",
    oracle="""
WITH span AS (
  SELECT min(o_orderdate)::DATE AS d0, max(o_orderdate)::DATE AS d1 FROM orders
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
daily AS (
  SELECT o_orderdate::DATE AS day, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
seq AS (
  SELECT spine.day, coalesce(daily.c, 0) AS c,
         lag(coalesce(daily.c, 0), 7) OVER (ORDER BY spine.day) AS f
  FROM spine LEFT JOIN daily ON spine.day = daily.day
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(abs(c - f)) AS BIGINT) AS sum_abs_err,
         CAST(sum(c - f) AS BIGINT) AS sum_err,
         CAST(sum(c) AS BIGINT) AS sum_actual
  FROM seq WHERE f IS NOT NULL
)
SELECT n, sum_abs_err, sum_err, sum_actual,
       CAST(sum_abs_err AS DOUBLE) / CAST(sum_actual AS DOUBLE) AS wape,
       CAST(sum_err AS DOUBLE) / CAST(sum_actual AS DOUBLE) AS bias
FROM m
""",
)
def ts_forecast_wape_bias_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAPE and BIAS of the seasonal-naive forecast (predict today =
    same weekday last week) for daily order volume — the absolute-
    scale accuracy pair that completes the relative MASE
    (``ts_mase_seasonal_naive``): WAPE = Σ|e|/Σy is the
    inventory-planning headline, bias = Σe/Σy says whether the
    forecast runs systematically hot or cold (a low-WAPE
    high-|bias| forecast is worse for stock than the reverse). All
    error sums are exact int64 over the gap-free spine; two
    divisions at the edge.

    Scale: daily collapse + spine-sized lag window — same shape as
    the MASE kernel, different reduction."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("day")
    seq = (
        spine.join(daily, "day", "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn("f", F.lag("c", 7).over(w))
        .filter(F.col("f").isNotNull())
    )
    m = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(F.col("c") - F.col("f"))).cast("long").alias("sum_abs_err"),
        F.sum(F.col("c") - F.col("f")).cast("long").alias("sum_err"),
        F.sum("c").cast("long").alias("sum_actual"),
    )
    return m.select(
        "n",
        "sum_abs_err",
        "sum_err",
        "sum_actual",
        (
            F.col("sum_abs_err").cast("double") / F.col("sum_actual").cast("double")
        ).alias("wape"),
        (
            F.col("sum_err").cast("double") / F.col("sum_actual").cast("double")
        ).alias("bias"),
    )


# ---------------------------------------------------------------------------
# Expected calibration error
# ---------------------------------------------------------------------------
@register(
    "ml_ece_score",
    oracle="""
WITH v AS (
  SELECT c_mktsegment AS seg,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         (o_orderkey % 2 = 1) AS is_train
  FROM orders JOIN customer ON o_custkey = c_custkey
),
rate AS (
  SELECT seg, CAST(sum(y) AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n
  FROM v WHERE is_train GROUP BY seg
),
test AS (
  SELECT v.seg, v.y,
         CAST(rate.pos AS DOUBLE) / CAST(rate.n AS DOUBLE) AS conf
  FROM v JOIN rate ON v.seg = rate.seg WHERE NOT v.is_train
),
bins AS (
  SELECT seg,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(y) AS BIGINT) AS pos_b,
         max(conf) AS conf_b
  FROM test GROUP BY seg
),
tq AS (
  SELECT seg, n_b, pos_b,
         CAST(floor(abs(CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) - conf_b)
                    * CAST(n_b AS BIGINT) * 1000000000
                    / (SELECT CAST(sum(n_b) AS DOUBLE) FROM bins))
              AS BIGINT) AS contrib_nano
  FROM bins
)
SELECT CAST(sum(n_b) AS BIGINT) AS n_test,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(contrib_nano) AS BIGINT) AS ece_nano
FROM tq
""",
)
def ml_ece_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED CALIBRATION ERROR of the base-rate predictor on the
    held-out split: Σ_b (n_b/N)·|accuracy_b − confidence_b| with
    bins = the predictor's distinct confidence levels (one per
    segment) — the single calibration number the reliability-bin
    table (``ml_calibration_bins``) plots and the Brier score
    (``ml_brier_score``) entangles with refinement. Per-bin
    contributions quantize to NANO units before the cross-bin sum
    (integer arithmetic where aggregation order is engine-chosen);
    train/test use the same key-parity split as the Brier query, so
    the two metrics describe the same experiment.

    Scale: one train rate table + one test conditional aggregate —
    both 5-group."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("long")
            .alias("y"),
            (F.col("o_orderkey") % 2 == 1).alias("is_train"),
        )
    )
    rate = (
        v.filter("is_train")
        .groupBy("seg")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    test = (
        v.filter(~F.col("is_train"))
        .join(F.broadcast(rate), "seg")
        .select(
            "seg",
            "y",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias("conf"),
        )
    )
    bins = test.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("pos_b"),
        F.max("conf").alias("conf_b"),
    )
    tot = bins.agg(F.sum("n_b").cast("double").alias("n_total"))
    tq = bins.join(F.broadcast(tot)).select(
        "n_b",
        F.floor(
            F.abs(
                F.col("pos_b").cast("double") / F.col("n_b").cast("double")
                - F.col("conf_b")
            )
            * F.col("n_b")
            * 1000000000
            / F.col("n_total")
        )
        .cast("long")
        .alias("contrib_nano"),
    )
    return tq.agg(
        F.sum("n_b").cast("long").alias("n_test"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("contrib_nano").cast("long").alias("ece_nano"),
    )
