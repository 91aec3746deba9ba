"""Data-pipeline queries, wave 68: heavy tails and classical
seasonality.

- Hill tail-index estimator over the top-k order values (quantized
  log terms, integer sum)
- seasonal indices via ratio-to-centered-moving-average (the
  classical decomposition method, micro-quantized ratios)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

_K = 100


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------
@register(
    "ml_hill_tail_index",
    oracle=f"""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
top AS (
  SELECT cents, CAST(row_number() OVER (ORDER BY cents DESC) AS BIGINT) AS r
  FROM v ORDER BY cents DESC LIMIT {_K + 1}
),
thr AS (SELECT cents AS x_k1 FROM top WHERE r = {_K + 1}),
terms AS (
  SELECT CAST(floor(ln(CAST(top.cents AS DOUBLE) / CAST(thr.x_k1 AS DOUBLE))
                    * 1000000) AS BIGINT) AS t_micro
  FROM top CROSS JOIN thr WHERE top.r <= {_K}
)
SELECT CAST({_K} AS BIGINT) AS k,
       (SELECT x_k1 FROM thr) AS threshold_cents,
       CAST(sum(t_micro) AS BIGINT) AS sum_ln_micro,
       CAST({_K} AS DOUBLE) * 1000000.0 / CAST(sum(t_micro) AS DOUBLE)
         AS hill_alpha
FROM terms
""",
)
def ml_hill_tail_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL tail-index estimator over the top-{k} order values:
    α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) — the heavy-tail diagnostic that says
    whether means/variances are even finite-sample-stable (α < 2 ⇒
    variance-of-mean estimates lie; the number that justifies the
    winsorize/trimmed-mean tier). The top-(k+1) order statistics
    come from a TakeOrderedAndProject; each log term is quantized to
    int64 micro-units before the sum (the Zipf/KM discipline), and
    α̂ is one division.

    Scale: k is fixed — the estimator costs a top-k pass no matter
    the data size; ranks are tie-broken by the value itself (equal
    values contribute identical terms, so rank ambiguity among ties
    cannot change the sum)."""
    v = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    top = (
        v.orderBy(F.desc("cents"))
        .limit(_K + 1)
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("cents"))).cast("long")
        )
    )
    thr = top.filter(F.col("r") == _K + 1).select(
        F.col("cents").alias("x_k1")
    )
    terms = (
        top.filter(F.col("r") <= _K)
        .join(F.broadcast(thr))
        .select(
            F.floor(
                F.log(F.col("cents").cast("double") / F.col("x_k1").cast("double"))
                * 1000000
            )
            .cast("long")
            .alias("t_micro"),
            "x_k1",
        )
    )
    return terms.groupBy("x_k1").agg(
        F.lit(_K).cast("long").alias("k"),
        F.sum("t_micro").cast("long").alias("sum_ln_micro"),
        (
            F.lit(float(_K)) * 1000000.0
            / F.sum("t_micro").cast("double")
        ).alias("hill_alpha"),
    ).select(
        "k", F.col("x_k1").alias("threshold_cents"), "sum_ln_micro", "hill_alpha"
    )


# ---------------------------------------------------------------------------
# Ratio-to-moving-average seasonal indices
# ---------------------------------------------------------------------------
@register(
    "ts_seasonal_index_ma",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
),
seq AS (
  SELECT y, m, cents,
         CAST(row_number() OVER (ORDER BY y, m) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n_months
  FROM rev
),
ma AS (
  SELECT a.i, a.y, a.m, a.cents,
         CAST(sum(b.cents) AS BIGINT) AS win_sum,
         CAST(count(*) AS BIGINT) AS win_n
  FROM seq a JOIN seq b ON b.i BETWEEN a.i - 6 AND a.i + 6
  WHERE a.i > 6 AND a.i <= a.n_months - 6
  GROUP BY a.i, a.y, a.m, a.cents
),
ratio AS (
  SELECT m,
         CAST(floor(CAST(cents AS DOUBLE)
                    / (CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE))
                    * 1000000) AS BIGINT) AS ratio_micro
  FROM ma WHERE win_n = 13
)
SELECT m AS month_of_year,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(ratio_micro) AS BIGINT) AS sum_ratio_micro,
       CAST(sum(ratio_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         / 1000000.0 AS seasonal_index
FROM ratio GROUP BY m ORDER BY m
""",
)
def ts_seasonal_index_ma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL seasonal indices by ratio-to-moving-average: each
    month's revenue divided by its centered 13-month moving average,
    averaged by month-of-year — index > 1 marks structurally strong
    months after the trend is divided out (the textbook
    decomposition method; the dyadic EWMA and weekday profiles are
    its modern cousins). Each ratio is quantized to int64 micro
    BEFORE the per-month mean, so the cross-year averaging is exact
    integer arithmetic; edge months without a full window are
    excluded, not padded — partial-window indices are biased.

    Scale: the fact table collapses to ~80 month rows first; the
    windowed MA is a self-join on the month index over that
    metadata-sized table."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("y", "m")
    n_t = rev.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    seq = rev.withColumn("i", F.row_number().over(w).cast("long")).join(
        F.broadcast(n_t)
    )
    a = seq.select("i", "y", "m", "cents", "n_months")
    b = seq.select(F.col("i").alias("j"), F.col("cents").alias("bc"))
    ma = (
        a.filter((F.col("i") > 6) & (F.col("i") <= F.col("n_months") - 6))
        .join(
            b,
            (F.col("j") >= F.col("i") - 6) & (F.col("j") <= F.col("i") + 6),
        )
        .groupBy("i", "y", "m", "cents")
        .agg(
            F.sum("bc").cast("long").alias("win_sum"),
            F.count(F.lit(1)).cast("long").alias("win_n"),
        )
        .filter(F.col("win_n") == 13)
    )
    ratio = ma.select(
        "m",
        F.floor(
            F.col("cents").cast("double")
            / (F.col("win_sum").cast("double") / F.col("win_n").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("ratio_micro"),
    )
    return (
        ratio.groupBy(F.col("m").alias("month_of_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("ratio_micro").cast("long").alias("sum_ratio_micro"),
            (
                F.sum("ratio_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1000000.0)
            ).alias("seasonal_index"),
        )
        .orderBy("month_of_year")
    )
