"""Data-pipeline queries, wave 72: compound growth.

- monthly CAGR of revenue (closed-form geometric-mean growth between
  the first and last full month — no per-period log/product chain)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


@register(
    "ts_cagr_monthly",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
           AS month_key,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
pick AS (
  SELECT CAST(count(*) AS BIGINT) AS n_months,
         CAST(min(month_key) AS BIGINT) AS first_month,
         CAST(max(month_key) AS BIGINT) AS last_month,
         CAST(max(CASE WHEN month_key = (SELECT min(month_key) FROM rev)
                  THEN cents END) AS BIGINT) AS first_cents,
         CAST(max(CASE WHEN month_key = (SELECT max(month_key) FROM rev)
                  THEN cents END) AS BIGINT) AS last_cents
  FROM rev
)
SELECT n_months, first_month, last_month, first_cents, last_cents,
       CAST(floor((pow(CAST(last_cents AS DOUBLE)
                       / CAST(first_cents AS DOUBLE),
                       1.0 / CAST(n_months - 1 AS DOUBLE)) - 1.0)
                  * 1000000) AS BIGINT) AS cagr_micro
FROM pick
""",
)
def ts_cagr_monthly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly CAGR of revenue: the geometric-mean growth rate
    (last/first)^(1/(n−1)) − 1 — the compounding identity means the
    intermediate months' product telescopes away, so NO per-period
    growth chain (and none of its float-product ordering) ever
    evaluates; the endpoint cents are exact int64 and the single pow
    lands on the MICRO grid (the arithmetic-mean MoM growth in
    ``ts_mom_growth`` overstates this number whenever growth is
    volatile — Jensen's inequality — which is why finance quotes
    CAGR).

    Scale: month rollup + a 1-row endpoint pick."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("month_key")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    bounds = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.min("month_key").cast("long").alias("first_month"),
        F.max("month_key").cast("long").alias("last_month"),
    )
    pick = (
        rev.join(F.broadcast(bounds))
        .agg(
            F.max("n_months").cast("long").alias("n_months"),
            F.max("first_month").cast("long").alias("first_month"),
            F.max("last_month").cast("long").alias("last_month"),
            F.max(
                F.when(F.col("month_key") == F.col("first_month"), F.col("cents"))
            )
            .cast("long")
            .alias("first_cents"),
            F.max(
                F.when(F.col("month_key") == F.col("last_month"), F.col("cents"))
            )
            .cast("long")
            .alias("last_cents"),
        )
    )
    cagr = (
        F.pow(
            F.col("last_cents").cast("double") / F.col("first_cents").cast("double"),
            F.lit(1.0) / (F.col("n_months") - 1).cast("double"),
        )
        - F.lit(1.0)
    )
    return pick.select(
        "n_months",
        "first_month",
        "last_month",
        "first_cents",
        "last_cents",
        F.floor(cagr * 1000000).cast("long").alias("cagr_micro"),
    )
