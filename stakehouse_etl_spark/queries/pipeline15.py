"""Data-pipeline queries, wave 15: weighted averages and
month-over-month growth — the last two staple report shapes.

Both keep the integer-moments discipline: products and sums stay in
int64, with a single shared-shape float division at the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


@register(
    "a_weighted_avg",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)
                * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS wsum,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS wtot,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)
                * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / sum(CAST(round(l_quantity * 100) AS BIGINT)) AS weighted_avg_price_cents
FROM lineitem GROUP BY l_returnflag
""",
)
def a_weighted_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag — the weighted
    mean every mixing/billing report needs, with the weight products
    kept in int64 (quantity-cents × price-cents) so partial-aggregate
    order can't move the result; one division at the edge. Plain AVG
    over-weights small lines; this is the correct aggregate, at the
    cost of one extra integer multiply per row.
    """
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(qty * price).alias("wsum"),
        F.sum(qty).alias("wtot"),
        (F.sum(qty * price).cast("double") / F.sum(qty)).alias(
            "weighted_avg_price_cents"
        ),
    )


@register(
    "ts_mom_growth",
    oracle="""
WITH m AS (
  SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
)
SELECT month_us, cents,
       lag(cents) OVER (ORDER BY month_us) AS prev_cents,
       CAST(cents - lag(cents) OVER (ORDER BY month_us) AS DOUBLE)
         / lag(cents) OVER (ORDER BY month_us) AS mom_growth
FROM m
""",
)
def ts_mom_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly order totals (exact
    cents) + a lag window for the growth ratio — the KPI-trend shape
    behind every business dashboard. The monthly rollup shrinks the
    data to |months| rows BEFORE the ordered window, so the global
    ordering is trivial at any scale (never window over raw facts for
    a calendar trend).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.unix_micros(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "month_us"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = o.groupBy("month_us").agg(F.sum("cents").alias("cents"))
    w = Window.orderBy("month_us")
    prev = F.lag("cents").over(w)
    return m.select(
        "month_us",
        "cents",
        prev.alias("prev_cents"),
        ((F.col("cents") - prev).cast("double") / prev).alias("mom_growth"),
    )
