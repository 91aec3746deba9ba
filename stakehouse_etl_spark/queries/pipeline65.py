"""Data-pipeline queries, wave 65: finance-analytics decompositions.

- price-volume decomposition of revenue change between halves
  (volume effect + rate effect = exact delta, per segment)
- working-day-adjusted monthly KPI (calendar-adjusted rate)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Price-volume decomposition
# ---------------------------------------------------------------------------
@register(
    "a_price_volume_mix",
    oracle="""
WITH span AS (
  SELECT (CAST(min(epoch_us(o_orderdate)) AS BIGINT)
          + CAST(max(epoch_us(o_orderdate)) AS BIGINT)) // 2 AS mid_us
  FROM orders
),
v AS (
  SELECT c_mktsegment AS seg,
         (epoch_us(o_orderdate) >= mid_us) AS p2,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey CROSS JOIN span
),
g AS (
  SELECT seg,
         CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN NOT p2 THEN cents ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN p2 THEN cents ELSE 0 END) AS BIGINT) AS s2
  FROM v GROUP BY seg
)
SELECT seg, n1, n2, s1, s2,
       s2 - s1 AS delta_cents,
       CAST(n2 - n1 AS DOUBLE)
         * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS volume_effect,
       CAST(n2 AS DOUBLE)
         * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS rate_effect
FROM g ORDER BY seg
""",
)
def a_price_volume_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE-VOLUME decomposition of the revenue change between the
    two halves of the order history, per segment: ΔR = volume effect
    (order-count change at old average price) + rate effect (new
    volume times average-price change) — the finance-review bridge
    that says WHY revenue moved, not just that it did. The identity
    volume + rate = Δ holds exactly in the underlying rationals
    (test-asserted to float precision); the integer cell sums are
    exact and each effect is a pinned double combination.

    Scale: one conditional 5×2 aggregate over the joined scan; the
    1-row midpoint broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.expr(
            "(cast(min(unix_micros(o_orderdate)) as long)"
            " + cast(max(unix_micros(o_orderdate)) as long)) div 2"
        ).alias("mid_us")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(span))
        .select(
            F.col("c_mktsegment").alias("seg"),
            (F.unix_micros("o_orderdate") >= F.col("mid_us")).alias("p2"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    g = v.groupBy("seg").agg(
        F.sum((~F.col("p2")).cast("long")).cast("long").alias("n1"),
        F.sum(F.when(~F.col("p2"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.col("p2").cast("long")).cast("long").alias("n2"),
        F.sum(F.when(F.col("p2"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    return g.select(
        "seg",
        "n1",
        "n2",
        "s1",
        "s2",
        (F.col("s2") - F.col("s1")).alias("delta_cents"),
        ((F.col("n2") - F.col("n1")).cast("double") * m1).alias("volume_effect"),
        (F.col("n2").cast("double") * (m2 - m1)).alias("rate_effect"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# Working-day-adjusted monthly KPI
# ---------------------------------------------------------------------------
@register(
    "ts_workday_adjusted_kpi",
    oracle="""
WITH span AS (
  SELECT min(o_orderdate)::DATE AS d0, max(o_orderdate)::DATE AS d1 FROM orders
),
days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
wd AS (
  SELECT CAST(year(day) * 100 + month(day) AS BIGINT) AS month_key,
         CAST(sum(CASE WHEN dayofweek(day) IN (0, 6) THEN 0 ELSE 1 END)
              AS BIGINT) AS workdays
  FROM days GROUP BY 1
),
rev AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
           AS month_key,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT rev.month_key, rev.n_orders, rev.cents, wd.workdays,
       CAST(rev.cents AS DOUBLE) / CAST(wd.workdays AS DOUBLE)
         AS cents_per_workday
FROM rev JOIN wd ON rev.month_key = wd.month_key
ORDER BY rev.month_key
""",
)
def ts_workday_adjusted_kpi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORKING-DAY-ADJUSTED monthly revenue: cents per Mon-Fri day —
    the calendar adjustment that keeps a 23-workday March from
    "beating" a 20-workday February on raw totals (the month-over-
    month growth query ``ts_mom_growth`` reads cleanly only after
    this normalization). Workday counts come from the gap-free spine
    (``ts_calendar_dim_build``'s weekend flag aggregated per month),
    never from DISTINCT fact dates — quiet workdays still count.
    One division per month.

    Scale: fact side collapses to months; the spine side is
    metadata-sized and broadcastable."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    wd = days.groupBy(
        (F.year("day") * 100 + F.month("day")).cast("long").alias("month_key")
    ).agg(
        F.sum(
            F.when(F.dayofweek("day").isin(1, 7), 0).otherwise(1)
        )
        .cast("long")
        .alias("workdays")
    )
    rev = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month_key")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        rev.join(F.broadcast(wd), "month_key")
        .select(
            "month_key",
            "n_orders",
            "cents",
            "workdays",
            (
                F.col("cents").cast("double") / F.col("workdays").cast("double")
            ).alias("cents_per_workday"),
        )
        .orderBy("month_key")
    )
