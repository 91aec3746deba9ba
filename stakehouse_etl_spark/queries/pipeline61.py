"""Data-pipeline queries, wave 61: causal panels and shrinkage.

- difference-in-differences (2×2 pre/post × treat/control panel)
- empirical-Bayes shrinkage of per-nation means toward the grand
  mean (method-of-moments prior)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------
@register(
    "ml_diff_in_diff",
    oracle="""
WITH span AS (
  SELECT (CAST(min(epoch_us(o_orderdate)) AS BIGINT)
          + CAST(max(epoch_us(o_orderdate)) AS BIGINT)) // 2 AS mid_us
  FROM orders
),
v AS (
  SELECT (epoch_us(o_orderdate) >= mid_us) AS post,
         (c_mktsegment = 'BUILDING') AS treat,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  CROSS JOIN span
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
cell AS (
  SELECT post, treat,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s
  FROM v GROUP BY post, treat
),
p AS (
  SELECT
    max(CASE WHEN treat AND post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
      AS t_post,
    max(CASE WHEN treat AND NOT post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
      AS t_pre,
    max(CASE WHEN NOT treat AND post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
      AS c_post,
    max(CASE WHEN NOT treat AND NOT post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
      AS c_pre,
    CAST(sum(n) AS BIGINT) AS n_total
  FROM cell
)
SELECT n_total, t_pre, t_post, c_pre, c_post,
       (t_post - t_pre) - (c_post - c_pre) AS did_cents
FROM p
""",
)
def ml_diff_in_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES on the 2×2 pre/post ×
    treat/control panel (BUILDING as the treated segment, the period
    midpoint as the intervention): DiD = (T_post − T_pre) −
    (C_post − C_pre) — the causal readout when randomization isn't
    available and both groups share a parallel trend (the control
    difference SUBTRACTS the secular drift the naive pre/post
    comparison would claim as effect). The four cell means are exact
    int64 sums with one division each, combined in a pinned double
    expression.

    Scale: one conditional 4-group aggregate; the 1-row midpoint
    broadcasts. Completes the experimentation kit's observational
    wing (CUPED handles randomized, DiD handles panel)."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.expr(
            "(cast(min(unix_micros(o_orderdate)) as long)"
            " + cast(max(unix_micros(o_orderdate)) as long)) div 2"
        ).alias("mid_us")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
    )
    v = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(span))
        .select(
            (F.unix_micros("o_orderdate") >= F.col("mid_us")).alias("post"),
            (F.col("c_mktsegment") == "BUILDING").alias("treat"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    cell = v.groupBy("post", "treat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    p = cell.agg(
        F.max(F.when(F.col("treat") & F.col("post"), mean)).alias("t_post"),
        F.max(F.when(F.col("treat") & ~F.col("post"), mean)).alias("t_pre"),
        F.max(F.when(~F.col("treat") & F.col("post"), mean)).alias("c_post"),
        F.max(F.when(~F.col("treat") & ~F.col("post"), mean)).alias("c_pre"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return p.select(
        "n_total",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes shrunken means
# ---------------------------------------------------------------------------
@register(
    "ml_eb_shrunk_means",
    oracle="""
WITH v AS (
  SELECT n_name,
         CAST(round(o_totalprice * 100) AS BIGINT) // 1000 AS kc
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
g AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(kc) AS BIGINT) AS s,
         CAST(sum(kc * kc) AS BIGINT) AS ss
  FROM v GROUP BY n_name
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS st,
         CAST(sum(ss) AS BIGINT) AS sst,
         CAST(count(*) AS BIGINT) AS k
  FROM g
),
pr AS (
  SELECT nn, st, k,
         (CAST(nn AS DOUBLE) * CAST(sst AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
           / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS sigma2,
         CAST(st AS DOUBLE) / CAST(nn AS DOUBLE) AS mu0
  FROM tot
),
tau AS (
  SELECT pr.*,
         greatest(
           (SELECT sum((CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) - pr.mu0)
                       * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) - pr.mu0))
            FROM g) / CAST(pr.k AS DOUBLE),
           pr.sigma2 / 1000.0) AS tau2
  FROM pr
)
SELECT g.n_name, g.n,
       CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) AS raw_mean_kc,
       CAST(floor(
         (CAST(g.n AS DOUBLE) * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            / tau.sigma2 + tau.mu0 / tau.tau2)
         / (CAST(g.n AS DOUBLE) / tau.sigma2 + 1.0 / tau.tau2)
         * 1000) AS BIGINT) AS shrunk_mean_milli_kc
FROM g CROSS JOIN tau
ORDER BY g.n_name
""",
)
def ml_eb_shrunk_means_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES shrinkage of per-nation mean order values
    toward the grand mean: shrunk = (n·x̄/σ² + μ₀/τ²)/(n/σ² + 1/τ²)
    with σ² the pooled within variance and τ² the method-of-moments
    between-nation variance (floored at σ²/1000 so a degenerate
    panel can't divide by zero) — the partial-pooling estimator that
    keeps a 10-order nation from ranking above a 10,000-order nation
    on a noisy mean. The sum over nations inside τ² is 25 fixed
    groups — evaluated identically as a scalar subquery/broadcast
    aggregate — and the shrunk mean emits on the MILLI grid.

    Scale: two grouped passes + constant-size prior math."""
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.expr("cast(round(o_totalprice * 100) as long) div 1000").alias("kc"),
        )
    )
    g = base.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("kc").cast("long").alias("s"),
        F.sum(F.col("kc") * F.col("kc")).cast("long").alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    nn_d = F.col("nn").cast("double")
    st_d = F.col("st").cast("double")
    pr = tot.select(
        "nn",
        "st",
        "k",
        (
            (nn_d * F.col("sst").cast("double") - st_d * st_d) / (nn_d * nn_d)
        ).alias("sigma2"),
        (st_d / nn_d).alias("mu0"),
    )
    dev2 = g.join(F.broadcast(pr)).select(
        (
            (F.col("s").cast("double") / F.col("n").cast("double") - F.col("mu0"))
            * (F.col("s").cast("double") / F.col("n").cast("double") - F.col("mu0"))
        ).alias("d2")
    )
    # 25 fixed groups: the float sum is over a constant-size set; both
    # engines aggregate the same 25 values — order differences are the
    # reason tau2 feeds only the MILLI-grid output, not an exact col.
    tau2_sum = dev2.agg(F.sum("d2").alias("sd2"))
    tau = (
        pr.join(F.broadcast(tau2_sum))
        .select(
            "sigma2",
            "mu0",
            F.greatest(
                F.col("sd2") / F.col("k").cast("double"),
                F.col("sigma2") / F.lit(1000.0),
            ).alias("tau2"),
        )
    )
    raw = F.col("s").cast("double") / F.col("n").cast("double")
    out = g.join(F.broadcast(tau))
    shrunk = (
        F.col("n").cast("double") * raw / F.col("sigma2")
        + F.col("mu0") / F.col("tau2")
    ) / (F.col("n").cast("double") / F.col("sigma2") + F.lit(1.0) / F.col("tau2"))
    return out.select(
        "n_name",
        "n",
        raw.alias("raw_mean_kc"),
        F.floor(shrunk * 1000).cast("long").alias("shrunk_mean_milli_kc"),
    ).orderBy("n_name")
