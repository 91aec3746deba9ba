"""Data-pipeline queries, wave 34: warehouse completeness.

- conformed calendar dimension build (sequence-exploded date spine)
- join fan-out inflation audit (the double-counting detector)
- EXCEPT ALL multiset difference (completes the multiset family)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Conformed calendar dimension
# ---------------------------------------------------------------------------
@register(
    "ts_calendar_dim_build",
    oracle="""
WITH span AS (
  SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1 FROM orders
),
days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
)
SELECT epoch_us(day) AS day_us,
       CAST(year(day) AS BIGINT) AS y,
       CAST(month(day) AS BIGINT) AS m,
       CAST(day(day) AS BIGINT) AS d,
       CAST(CASE WHEN dayofweek(day) = 0 THEN 7
                 ELSE dayofweek(day) END AS BIGINT) AS iso_dow,
       (dayofweek(day) IN (0, 6)) AS is_weekend,
       CAST((year(day) * 100 + month(day)) AS BIGINT) AS month_key
FROM days
""",
)
def ts_calendar_dim_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the conformed CALENDAR DIMENSION — the one dim every
    warehouse query joins — from a sequence-exploded date spine over
    the fact table's span: ISO day-of-week, weekend flag, and the
    yyyymm surrogate month key, all as integer attributes. Gap-free by
    construction (a calendar derived from DISTINCT fact dates has
    holes on quiet days — the classic bug this spine avoids). The
    spine is |days| rows from one scalar span row — broadcastable
    forever; at 100 TB it is also the DPP dimension side
    (``j21_dpp_month_join``)."""
    span = load_table(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("d0"), F.max("o_orderdate").alias("d1")
    )
    days = span.select(
        F.explode(
            F.sequence(
                F.to_date("d0"), F.to_date("d1"), F.expr("interval 1 day")
            )
        ).alias("day")
    )
    # ISO dow: Spark dayofweek() is 1=Sunday..7=Saturday (same as
    # DuckDB's dayofweek()+1); normalize to 1=Monday..7=Sunday.
    dow_sun1 = F.dayofweek("day")  # 1=Sun..7=Sat
    iso = F.when(dow_sun1 == 1, 7).otherwise(dow_sun1 - 1)
    return days.select(
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        F.year("day").cast("long").alias("y"),
        F.month("day").cast("long").alias("m"),
        F.dayofmonth("day").cast("long").alias("d"),
        iso.cast("long").alias("iso_dow"),
        ((dow_sun1 == 1) | (dow_sun1 == 7)).alias("is_weekend"),
        (F.year("day") * 100 + F.month("day")).cast("long").alias("month_key"),
    )


# ---------------------------------------------------------------------------
# Join fan-out inflation audit
# ---------------------------------------------------------------------------
@register(
    "dq_fanout_inflation",
    oracle="""
WITH direct AS (
  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS true_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders
),
joined AS (
  SELECT CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS inflated_cents,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT true_cents, inflated_cents, n_orders, n_rows,
       CAST(inflated_cents AS DOUBLE) / true_cents AS inflation_factor,
       (inflated_cents <> true_cents) AS fanout_detected
FROM direct CROSS JOIN joined
""",
)
def dq_fanout_inflation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DOUBLE-COUNTING detector: summing a header-level measure
    AFTER joining to its line items multiplies every order's total by
    its line count — the single most common wrong-number bug in
    warehouse reporting. This audit computes the truth (direct sum),
    the naive joined sum, and the inflation factor; a conformed
    pipeline asserts ``fanout_detected`` on any header measure that
    crosses a 1:N join without first aggregating the N side (the
    drill-across query ``j15_drill_across`` is the correct pattern —
    aggregate each fact to the conformed grain, THEN merge)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    direct = o.agg(
        F.sum("cents").alias("true_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .agg(
            F.sum("cents").alias("inflated_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return direct.crossJoin(joined).select(
        "true_cents",
        "inflated_cents",
        "n_orders",
        "n_rows",
        (
            F.col("inflated_cents").cast("double") / F.col("true_cents")
        ).alias("inflation_factor"),
        (F.col("inflated_cents") != F.col("true_cents")).alias(
            "fanout_detected"
        ),
    )


# ---------------------------------------------------------------------------
# EXCEPT ALL multiset difference
# ---------------------------------------------------------------------------
@register(
    "u7_except_all",
    oracle="""
SELECT c_nationkey AS k FROM customer
EXCEPT ALL
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
""",
)
def u7_except_all_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — MULTISET difference with multiplicity arithmetic
    (each nation key survives max(0, n_total − n_building) times),
    completing the multiset family next to ``u4_intersect_all``: the
    set-form EXCEPT (U2) collapses duplicates and answers a different
    question. Spark plans this without materializing either
    multiplicity table: a single aggregation of signed counts
    (+1 left, −1 right) followed by a generate — the same shape the
    oracle's engine uses."""
    c = load_table(spark, sf_dir, "customer")
    left = c.select(F.col("c_nationkey").alias("k"))
    right = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("k")
    )
    return left.exceptAll(right)
