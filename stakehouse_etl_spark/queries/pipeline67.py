"""Data-pipeline queries, wave 67: operational SLAs and stability
monitoring.

- ship-lag SLA attainment (order→ship latency bands, integer ratios)
- population stability index per band (the model-monitoring drift
  metric, micro-quantized per-band contributions)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Ship-lag SLA attainment
# ---------------------------------------------------------------------------
@register(
    "ts_ship_lag_sla",
    oracle="""
WITH v AS (
  SELECT CAST((epoch_us(l_shipdate) - epoch_us(o_orderdate))
              // 86400000000 AS BIGINT) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)
SELECT n,
       CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_30d,
       CAST(sum(CASE WHEN lag_days <= 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_60d,
       CAST(sum(CASE WHEN lag_days <= 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_90d,
       CAST(min(lag_days) AS BIGINT) AS min_lag,
       CAST(max(lag_days) AS BIGINT) AS max_lag,
       CAST(sum(CASE WHEN lag_days <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(n AS DOUBLE) AS sla60_attainment
FROM v CROSS JOIN t
GROUP BY n
""",
)
def ts_ship_lag_sla_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIP-LAG SLA attainment: the order→ship latency distribution
    summarized at 30/60/90-day service levels — the operational
    question ("what share of lines ship inside the promised
    window?") behind TPC-H's Q4-style late-line analytics, here as a
    direct SLA scorecard. Lag is exact integer days from microsecond
    timestamps; attainment is one int64 division.

    Scale: the l_orderkey equi-join rides the fact table's own key;
    one conditional aggregate, map-side combinable."""
    v = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.expr(
                "cast((unix_micros(l_shipdate) - unix_micros(o_orderdate))"
                " div 86400000000 as long)"
            ).alias("lag_days")
        )
    )
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("lag_days") <= 30).cast("long")).cast("long").alias("within_30d"),
        F.sum((F.col("lag_days") <= 60).cast("long")).cast("long").alias("within_60d"),
        F.sum((F.col("lag_days") <= 90).cast("long")).cast("long").alias("within_90d"),
        F.min("lag_days").cast("long").alias("min_lag"),
        F.max("lag_days").cast("long").alias("max_lag"),
        (
            F.sum((F.col("lag_days") <= 60).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("sla60_attainment"),
    )


# ---------------------------------------------------------------------------
# Population stability index bands
# ---------------------------------------------------------------------------
@register(
    "ml_psi_stability",
    oracle="""
WITH span AS (
  SELECT (CAST(min(epoch_us(o_orderdate)) AS BIGINT)
          + CAST(max(epoch_us(o_orderdate)) AS BIGINT)) // 2 AS mid_us
  FROM orders
),
v AS (
  SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 2000000, 9)
           AS band,
         (epoch_us(o_orderdate) >= mid_us) AS p2
  FROM orders CROSS JOIN span
),
g AS (
  SELECT band,
         CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM v GROUP BY band
),
t AS (
  SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM g
)
SELECT band, a, b,
       CAST(a AS DOUBLE) / CAST(na AS DOUBLE) AS share_a,
       CAST(b AS DOUBLE) / CAST(nb AS DOUBLE) AS share_b,
       CASE WHEN a > 0 AND b > 0 THEN
         CAST(floor(
           (CAST(a AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(b AS DOUBLE) / CAST(nb AS DOUBLE))
           * ln((CAST(a AS DOUBLE) / CAST(na AS DOUBLE))
                / (CAST(b AS DOUBLE) / CAST(nb AS DOUBLE)))
           * 1000000000) AS BIGINT)
       END AS psi_contrib_nano
FROM g CROSS JOIN t
ORDER BY band
""",
)
def ml_psi_stability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX bands for the order-value
    distribution between the two period halves — THE model-
    monitoring drift metric (PSI < 0.1 stable, > 0.25 retrain):
    per fixed value band, (share_A − share_B)·ln(share_A/share_B),
    emitted per band on the NANO grid so the cross-band sum stays an
    exact integer downstream (same per-cell discipline as
    ``ml_mutual_info_cells``; the chi²/KS kernels test the same
    drift with different sensitivity profiles). Shares are single
    integer divisions; empty-band contributions are NULL rather than
    ±∞, surfacing new/vanished bands explicitly.

    Scale: one conditional 10-band aggregate; the midpoint and
    totals broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.expr(
            "(cast(min(unix_micros(o_orderdate)) as long)"
            " + cast(max(unix_micros(o_orderdate)) as long)) div 2"
        ).alias("mid_us")
    )
    v = orders.join(F.broadcast(span)).select(
        F.least(
            F.expr("cast(round(o_totalprice * 100) as long) div 2000000"),
            F.lit(9),
        ).alias("band"),
        (F.unix_micros("o_orderdate") >= F.col("mid_us")).alias("p2"),
    )
    g = v.groupBy("band").agg(
        F.sum((~F.col("p2")).cast("long")).cast("long").alias("a"),
        F.sum(F.col("p2").cast("long")).cast("long").alias("b"),
    )
    t = g.agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    sa = F.col("a").cast("double") / F.col("na").cast("double")
    sb = F.col("b").cast("double") / F.col("nb").cast("double")
    return (
        g.join(F.broadcast(t))
        .select(
            "band",
            "a",
            "b",
            sa.alias("share_a"),
            sb.alias("share_b"),
            F.when(
                (F.col("a") > 0) & (F.col("b") > 0),
                F.floor((sa - sb) * F.log(sa / sb) * 1000000000).cast("long"),
            ).alias("psi_contrib_nano"),
        )
        .orderBy("band")
    )
