"""Data-pipeline queries, wave 63: weighted prices and matched-pair
causal estimates.

- monthly VWAP (volume-weighted average price, exact integer ratio)
- caliper nearest-neighbor matching + ATT (sorted-merge matching
  with NO pairwise join — the prev/next window trick from the as-of
  family applied to covariate matching)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import (
    global_prefix_extrema,
    skew_resistant_rank,
)
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Monthly VWAP
# ---------------------------------------------------------------------------
@register(
    "ts_vwap_monthly",
    oracle="""
WITH v AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
           AS month_key,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
m AS (
  SELECT month_key,
         CAST(sum(cents * qty) AS BIGINT) AS pq,
         CAST(sum(qty) AS BIGINT) AS q
  FROM v GROUP BY month_key
)
SELECT month_key, q AS total_qty, pq AS cents_qty,
       CAST(pq AS DOUBLE) / CAST(q AS DOUBLE) AS vwap_cents
FROM m ORDER BY month_key
""",
)
def ts_vwap_monthly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly VWAP of line prices — Σ(price·qty)/Σqty per ship
    month, the volume-weighted benchmark that a plain AVG misquotes
    whenever big orders price differently from small ones (the same
    failure mode ``a_weighted_median`` fixes for the median). Both
    sums are exact int64 (price·qty stays far inside range), one
    division per month.

    Scale: single scan, month-keyed partial aggregate."""
    v = load_table(spark, sf_dir, "lineitem").select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("month_key"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("qty"),
    )
    m = v.groupBy("month_key").agg(
        F.sum(F.col("cents") * F.col("qty")).cast("long").alias("pq"),
        F.sum("qty").cast("long").alias("q"),
    )
    return m.select(
        "month_key",
        F.col("q").alias("total_qty"),
        F.col("pq").alias("cents_qty"),
        (F.col("pq").cast("double") / F.col("q").cast("double")).alias("vwap_cents"),
    ).orderBy("month_key")


# ---------------------------------------------------------------------------
# Caliper nearest-neighbor matching + ATT
# ---------------------------------------------------------------------------
_CALIPER_KC = 100


@register(
    "ml_caliper_match_att",
    oracle=f"""
WITH per AS (
  SELECT c_custkey AS id,
         (c_mktsegment = 'BUILDING') AS treated,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 1000
           AS spend_kc
  FROM customer
  JOIN orders ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY c_custkey, c_mktsegment, c_acctbal
),
w AS (
  SELECT *,
         max(CASE WHEN NOT treated THEN spend_kc END) OVER (
           ORDER BY spend_kc, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_c,
         min(CASE WHEN NOT treated THEN spend_kc END) OVER (
           ORDER BY spend_kc, id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS next_c
  FROM per
),
pick AS (
  SELECT id, spend_kc, bal_cents,
         CASE
           WHEN prev_c IS NULL AND next_c IS NULL THEN NULL
           WHEN prev_c IS NULL THEN next_c
           WHEN next_c IS NULL THEN prev_c
           WHEN spend_kc - prev_c <= next_c - spend_kc THEN prev_c
           ELSE next_c END AS m_spend
  FROM w WHERE treated
),
ok AS (
  SELECT * FROM pick
  WHERE m_spend IS NOT NULL AND abs(spend_kc - m_spend) <= {_CALIPER_KC}
),
ctrl AS (
  SELECT spend_kc AS m_spend,
         CAST(min(id * 4194304 + bal_cents + 2097152) AS BIGINT) AS packed
  FROM per WHERE NOT treated GROUP BY spend_kc
),
j AS (
  SELECT ok.bal_cents AS t_bal,
         (ctrl.packed % 4194304) - 2097152 AS c_bal
  FROM ok JOIN ctrl ON ok.m_spend = ctrl.m_spend
),
t_all AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM pick),
mj AS (
  SELECT CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(t_bal) AS BIGINT) AS sum_t_bal,
         CAST(sum(c_bal) AS BIGINT) AS sum_c_bal
  FROM j
)
SELECT n_treated, n_matched, sum_t_bal, sum_c_bal,
       CASE WHEN n_matched > 0
            THEN CAST(sum_t_bal AS DOUBLE) / CAST(n_matched AS DOUBLE)
                 - CAST(sum_c_bal AS DOUBLE) / CAST(n_matched AS DOUBLE) END
         AS att_cents
FROM mj CROSS JOIN t_all
""",
)
def ml_caliper_match_att_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIPER nearest-neighbor MATCHING: every treated (BUILDING)
    customer matches the control (MACHINERY) customer with the
    closest lifetime spend — within a 100-kilocent caliper — and the
    matched balance difference estimates the ATT. The matching runs
    WITHOUT any pairwise join: the sorted union + prev/next
    conditional-extreme windows (the ``j29_asof_nearest`` machinery
    pointed at a covariate instead of time) finds each treated
    row's nearest control spend in one pass; the matched control's
    balance comes from an equi-join on that spend value, with the
    min-id representative packed into one int64 (id·2²² + balance +
    offset) so ties resolve identically on both engines.

    Scale: one per-customer rollup, one sorted window pass, one
    key-collapsed equi-join — O(n log n), never O(n_t·n_c);
    completes the causal wing: CUPED (randomized), DiD (panel),
    matching (cross-section)."""
    per = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(
            F.expr(
                "cast(sum(cast(round(o_totalprice * 100) as long)) as long)"
                " div 1000"
            ).alias("spend_kc")
        )
        .select(
            F.col("c_custkey").alias("id"),
            (F.col("c_mktsegment") == "BUILDING").alias("treated"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
            "spend_kc",
        )
    )
    # r11 (guide §5 — plan-replication class): per feeds the rank's
    # A/B/C subplans AND the control-side groupBy, so the
    # customer⨝orders rollup re-evaluated ~8× without a cut; pick is
    # then consumed by the caliper filter AND the treated count.
    # Both frames are customer-scale and narrow.
    from stakehouse_etl_spark.caches import checkpoint_tracked

    per = checkpoint_tracked(per)
    # nearest control by spend = prefix-max / suffix-min of the
    # control-only spend over the global (spend, id) order. Both run
    # two-phase (rank → chunked extrema), never a single-partition
    # window over the full customer panel.
    rk = skew_resistant_rank(
        per, value="spend_kc", id_col="id", descending=False, out="__i"
    ).withColumn("__ctrl", F.when(~F.col("treated"), F.col("spend_kc")))
    w = global_prefix_extrema(
        rk, id_col="__i", value="__ctrl", out_prev="prev_c", out_next="next_c"
    ).drop("__i", "__ctrl")
    pick = checkpoint_tracked(w.filter(F.col("treated"))).select(
        "id",
        "spend_kc",
        "bal_cents",
        F.when(F.col("prev_c").isNull() & F.col("next_c").isNull(), F.lit(None))
        .when(F.col("prev_c").isNull(), F.col("next_c"))
        .when(F.col("next_c").isNull(), F.col("prev_c"))
        .when(
            F.col("spend_kc") - F.col("prev_c")
            <= F.col("next_c") - F.col("spend_kc"),
            F.col("prev_c"),
        )
        .otherwise(F.col("next_c"))
        .alias("m_spend"),
    )
    ok = pick.filter(
        F.col("m_spend").isNotNull()
        & (F.abs(F.col("spend_kc") - F.col("m_spend")) <= _CALIPER_KC)
    )
    ctrl = (
        per.filter(~F.col("treated"))
        .groupBy(F.col("spend_kc").alias("m_spend"))
        .agg(
            F.min(F.col("id") * 4194304 + F.col("bal_cents") + 2097152)
            .cast("long")
            .alias("packed")
        )
    )
    j = ok.join(ctrl, "m_spend").select(
        F.col("bal_cents").alias("t_bal"),
        (F.col("packed") % 4194304 - 2097152).alias("c_bal"),
    )
    t_all = pick.agg(F.count(F.lit(1)).cast("long").alias("n_treated"))
    mj = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("t_bal").cast("long").alias("sum_t_bal"),
        F.sum("c_bal").cast("long").alias("sum_c_bal"),
    )
    # global agg always yields one row, so a caliper that matches
    # nothing reports n_matched=0 instead of vanishing.
    return mj.join(F.broadcast(t_all)).select(
        "n_treated",
        "n_matched",
        "sum_t_bal",
        "sum_c_bal",
        F.when(
            F.col("n_matched") > 0,
            F.col("sum_t_bal").cast("double") / F.col("n_matched").cast("double")
            - F.col("sum_c_bal").cast("double") / F.col("n_matched").cast("double"),
        ).alias("att_cents"),
    )
