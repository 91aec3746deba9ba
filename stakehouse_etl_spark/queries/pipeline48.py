"""Data-pipeline queries, wave 48: inequality curves, extreme-value
records, NULL-semantics contract.

- Lorenz curve decile points (the curve behind the Gini coefficient)
- record-breaking days (running-maximum record analysis)
- NULL-aggregate semantics kernel (the cross-engine contract table)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import (
    global_prefix_sum,
    skew_resistant_rank,
)
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Lorenz curve decile points
# ---------------------------------------------------------------------------
@register(
    "ml_lorenz_curve_points",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM orders GROUP BY o_custkey
),
rk AS (
  SELECT s,
         CAST(row_number() OVER (ORDER BY s, o_custkey) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(s) OVER (ORDER BY s, o_custkey) AS BIGINT) AS cum,
         CAST(sum(s) OVER () AS BIGINT) AS total
  FROM spend
),
dec AS (
  SELECT (i * 10 - 1) // n + 1 AS decile, cum, total, i, n
  FROM rk
),
pts AS (
  SELECT decile,
         CAST(max(i) AS BIGINT) AS pop_cum,
         CAST(max(cum) AS BIGINT) AS spend_cum,
         CAST(max(n) AS BIGINT) AS n,
         CAST(max(total) AS BIGINT) AS total
  FROM dec GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile,
       pop_cum, spend_cum,
       CAST(pop_cum AS DOUBLE) / CAST(n AS DOUBLE) AS pop_share,
       CAST(spend_cum AS DOUBLE) / CAST(total AS DOUBLE) AS spend_share
FROM pts ORDER BY decile
""",
)
def ml_lorenz_curve_points_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE decile points for customer spend — the curve the
    Gini coefficient (``a_gini_region``) integrates: cumulative
    spend share at each cumulative population decile ("the bottom
    70% of customers hold X% of revenue"). Customers sort ascending
    by spend with key-broken ties; decile assignment is the integer
    expression (i·10−1) div n + 1, so bucket boundaries are exact;
    each output share is one int64 division.

    Scale: the per-customer rollup collapses first; the global
    rank/cumsum RUN via the standard value-chunk two-phase
    (``skew_resistant_rank`` + ``global_prefix_sum``) — no
    single-partition window even when the customer table outgrows a
    partition."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s")
        )
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("total"),
    )
    # global (s, o_custkey) rank + running sum over the O(customers)
    # table — two-phase decompositions, no single-partition window:
    # the rank's dense output doubles as the cumsum's chunkable id
    rk = skew_resistant_rank(
        spend, value="s", id_col="o_custkey", descending=False, out="i"
    )
    rk = global_prefix_sum(rk, id_col="i", value="s", out="cum").join(
        F.broadcast(tot)
    )
    dec = rk.withColumn("decile", F.expr("(i * 10 - 1) div n + 1"))
    pts = dec.groupBy("decile").agg(
        F.max("i").cast("long").alias("pop_cum"),
        F.max("cum").cast("long").alias("spend_cum"),
        F.max("n").cast("long").alias("n"),
        F.max("total").cast("long").alias("total"),
    )
    return pts.select(
        F.col("decile").cast("long").alias("decile"),
        "pop_cum",
        "spend_cum",
        (F.col("pop_cum").cast("double") / F.col("n").cast("double")).alias(
            "pop_share"
        ),
        (F.col("spend_cum").cast("double") / F.col("total").cast("double")).alias(
            "spend_share"
        ),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Record-breaking days
# ---------------------------------------------------------------------------
@register(
    "ts_record_highs",
    oracle="""
WITH daily AS (
  SELECT o_orderdate::DATE AS day, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
r AS (
  SELECT day, c,
         max(c) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_best
  FROM daily
),
rec AS (
  SELECT day, c, coalesce(prev_best, -1) AS prev_best
  FROM r WHERE prev_best IS NULL OR c > prev_best
)
SELECT CAST(epoch_us(day::TIMESTAMP) AS BIGINT) AS day_us, c,
       CAST(CASE WHEN prev_best < 0 THEN 0 ELSE c - prev_best END AS BIGINT)
         AS margin,
       CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS record_no
FROM rec ORDER BY day
""",
)
def ts_record_highs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD-BREAKING days: every day that set a new all-time high
    of order volume, with the margin over the previous record — the
    extreme-value "records process" (under exchangeability the k-th
    day is a record with probability 1/k, so a surplus of late
    records is itself a trend signal; this output is what you'd feed
    that test). One exclusive running max over the daily rollup,
    strictly-greater comparison, integer margins.

    Scale: the fact table collapses to the daily table first; the
    record sweep runs over spine-sized data."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    r = daily.withColumn("prev_best", F.max("c").over(w))
    rec = r.filter(F.col("prev_best").isNull() | (F.col("c") > F.col("prev_best")))
    wn = Window.orderBy("day")
    return rec.select(
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        "c",
        F.when(F.col("prev_best").isNull(), F.lit(0))
        .otherwise(F.col("c") - F.col("prev_best"))
        .cast("long")
        .alias("margin"),
        F.row_number().over(wn).cast("long").alias("record_no"),
    ).orderBy("day_us")


# ---------------------------------------------------------------------------
# NULL-aggregate semantics kernel
# ---------------------------------------------------------------------------
@register(
    "f16_null_agg_kernel",
    oracle="""
WITH v AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS x,
         o_orderstatus
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS count_star,
       CAST(count(x) AS BIGINT) AS count_col,
       CAST(count(*) - count(x) AS BIGINT) AS n_nulls,
       CAST(sum(x) AS BIGINT) AS sum_skips_nulls,
       CAST(sum(CASE WHEN x IS NULL THEN 0 ELSE x END) AS BIGINT)
         AS sum_coalesced,
       CAST(min(x) AS BIGINT) AS min_skips_nulls,
       CAST(sum(x) AS DOUBLE) / CAST(count(x) AS DOUBLE) AS avg_over_nonnull,
       CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_over_all,
       (CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0)
         AS no_nulls_flag,
       CAST((SELECT sum(x) FROM v WHERE x IS NULL) AS BIGINT)
         AS sum_of_empty_is_null
FROM v
""",
)
def f16_null_agg_kernel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-aggregate SEMANTICS kernel — the contract table that
    pins, in one row, the behaviors every money rollup in this repo
    depends on: count(*) counts rows but count(col) skips NULLs; SUM
    and MIN skip NULLs (so sum==sum-coalesced only because the
    skipped value is 0); AVG divides by the NON-NULL count, which is
    WHY this repo always writes exact_sum/count explicitly (the two
    averages differ whenever NULLs exist); and the SUM of an empty
    set is NULL, not 0 — the footgun ``f9`` null-defaults guard
    against. Both engines agree on every one of these — this query
    is the executable proof the oracle gate re-checks each round.

    Scale: one aggregate pass; the empty-set probe is a 1-row scalar
    subquery."""
    v = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderstatus") == "P", F.lit(None).cast("long")
        )
        .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("x")
    )
    empty_sum = (
        v.filter(F.col("x").isNull())
        .agg(F.sum("x").cast("long").alias("sum_of_empty_is_null"))
    )
    main = v.agg(
        F.count(F.lit(1)).cast("long").alias("count_star"),
        F.count("x").cast("long").alias("count_col"),
        (F.count(F.lit(1)) - F.count("x")).cast("long").alias("n_nulls"),
        F.sum("x").cast("long").alias("sum_skips_nulls"),
        F.sum(F.coalesce("x", F.lit(0))).cast("long").alias("sum_coalesced"),
        F.min("x").cast("long").alias("min_skips_nulls"),
        (F.sum("x").cast("double") / F.count("x").cast("double")).alias(
            "avg_over_nonnull"
        ),
        (F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_over_all"
        ),
        (F.sum(F.col("x").isNull().cast("long")) == 0).alias("no_nulls_flag"),
    )
    return main.join(empty_sum)
