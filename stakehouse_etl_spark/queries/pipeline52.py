"""Data-pipeline queries, wave 52: cross-signal analysis and ratio
inference.

- lead-lag cross-correlation between two daily series (segment
  volumes) on the shared spine — which signal moves first
- delta-method standard error for a ratio metric (revenue per order)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation
# ---------------------------------------------------------------------------
@register(
    "ts_lead_lag_xcorr",
    oracle="""
WITH base AS (
  SELECT o_orderdate::DATE AS day, c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
od AS (
  SELECT day, CAST(count(*) AS BIGINT) AS oc
  FROM base WHERE seg = 'BUILDING' GROUP BY day
),
ed AS (
  SELECT day, CAST(count(*) AS BIGINT) AS ec
  FROM base WHERE seg = 'MACHINERY' GROUP BY day
),
span AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM base
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
seq AS (
  SELECT spine.day, coalesce(od.oc, 0) AS oc, coalesce(ed.ec, 0) AS ec
  FROM spine LEFT JOIN od ON spine.day = od.day
  LEFT JOIN ed ON spine.day = ed.day
),
grid AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
pairs AS (
  SELECT grid.lag, a.oc AS x, b.ec AS y
  FROM seq a
  CROSS JOIN grid
  JOIN seq b ON b.day = a.day + to_days(CAST(grid.lag AS INTEGER))
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       CAST(floor(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         * 1000000) AS BIGINT) AS xcorr_micro
FROM m ORDER BY lag
""",
)
def ts_lead_lag_xcorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD-LAG cross-correlation between the daily order volumes
    of two customer segments at lags −3..+3 — the "which signal
    moves first" diagnostic (the argmax lag says one segment leads
    the other by k days, the input to any nowcasting feature; the
    events table lives on a disjoint calendar from orders, which is
    exactly the misalignment this shared-spine construction would
    refuse to hide). Both series ride the
    SHARED gap-free spine (quiet days are real zeros, not missing
    rows — the alignment bug that silently shifts lags); each lag's
    Pearson comes from exact int64 moments with the pinned double
    combination, emitted on the micro grid.

    Scale: two daily collapses + a 7-row lag grid joined against the
    spine-sized sequence — all lags priced in one grouped moment
    pass."""
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer")
                .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
                .select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.to_date("o_orderdate").alias("day"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    od = (
        base.filter(F.col("seg") == "BUILDING")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("oc"))
    )
    ed = (
        base.filter(F.col("seg") == "MACHINERY")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    span = base.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    seq = (
        spine.join(od, "day", "left")
        .join(ed, "day", "left")
        .select(
            "day",
            F.coalesce("oc", F.lit(0)).alias("oc"),
            F.coalesce("ec", F.lit(0)).alias("ec"),
        )
    )
    grid = spark.createDataFrame([(l,) for l in range(-3, 4)], "lag long")
    a = seq.select("day", F.col("oc").alias("x"))
    b = seq.select(F.col("day").alias("bday"), F.col("ec").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(grid))
        .join(
            b,
            F.col("bday")
            == F.expr("date_add(day, cast(lag as int))"),
        )
        .select("lag", "x", "y")
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = (n_d * F.col("sxy").cast("double") - sx_d * sy_d) / (
        F.sqrt(n_d * F.col("sxx").cast("double") - sx_d * sx_d)
        * F.sqrt(n_d * F.col("syy").cast("double") - sy_d * sy_d)
    )
    return m.select(
        "lag",
        "n",
        F.floor(r * 1000000).cast("long").alias("xcorr_micro"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Delta-method SE for a ratio metric
# ---------------------------------------------------------------------------
@register(
    "ml_ratio_delta_se",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS y,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 1000
           AS x
  FROM orders GROUP BY o_custkey
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per_cust
)
SELECT n, sx, sy,
       CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio_kc_per_order,
       CAST(floor(sqrt(
         ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
          - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
            * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
          + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
            * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
            * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         ) / CAST(n AS DOUBLE)
       ) / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
         AS se_micro
FROM m
""",
)
def ml_ratio_delta_se_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD standard error for a RATIO metric — revenue per
    order computed over per-customer clusters: SE(X̄/Ȳ) ≈
    sqrt(var(x) − 2R·cov(x,y) + R²·var(y)) / (√n·ȳ). Ratio metrics
    (revenue/order, CTR, tokens/doc) are the ones naive per-row SEs
    get WRONG because the denominator is random too and rows cluster
    by customer — this is the correct cluster-level formula, built
    entirely from six exact int64 moments with a pinned double
    combination, micro-grid output. Completes the experimentation
    kit: Welch t (means), CUPED (variance reduction), MDE sizing,
    bootstrap, and now ratio SEs.

    Scale: one per-customer rollup + one moment pass."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("y"),
            F.expr(
                "cast(sum(cast(round(o_totalprice * 100) as long)) as long)"
                " div 1000"
            ).alias("x"),
        )
    )
    m = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d, syy_d = F.col("sxx").cast("double"), F.col("syy").cast("double")
    ratio = sx_d / sy_d
    var_x = (n_d * sxx_d - sx_d * sx_d) / (n_d * n_d)
    cov_xy = (n_d * sxy_d - sx_d * sy_d) / (n_d * n_d)
    var_y = (n_d * syy_d - sy_d * sy_d) / (n_d * n_d)
    se = F.sqrt(
        (var_x - F.lit(2.0) * ratio * cov_xy + ratio * ratio * var_y) / n_d
    ) / (sy_d / n_d)
    return m.select(
        "n",
        "sx",
        "sy",
        ratio.alias("ratio_kc_per_order"),
        F.floor(se * 1000000).cast("long").alias("se_micro"),
    )
