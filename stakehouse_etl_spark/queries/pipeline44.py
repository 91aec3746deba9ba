"""Data-pipeline queries, wave 44: resampling inference, experiment
sizing, forward as-of.

- hash-deterministic bootstrap resample means (B resamples, one pass)
- MDE → required-sample-size grid (power analysis from moments)
- forward as-of join (next-event-at-or-after, single shuffle)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import hash64
from stakehouse_etl_spark.queries.registry import register

_B = 20
# 2·(z_{0.975} + z_{0.80})² for 80% power at two-sided α=0.05, inlined
# as the same literal in both dialects (no normal-quantile function at
# query time).
_POWER_C = "15.697759468698177"


# ---------------------------------------------------------------------------
# Hash-deterministic bootstrap
# ---------------------------------------------------------------------------
@register(
    "ml_hash_bootstrap_means",
    oracle=f"""
WITH x AS (
  SELECT o_orderkey AS id,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
grid AS (SELECT unnest(range(0, {_B})) AS b),
w AS (
  SELECT grid.b, x.cents,
         CAST('0x' || substr(md5(CAST(x.id AS VARCHAR) || ':'
                                 || CAST(grid.b AS VARCHAR)), 1, 15)
              AS BIGINT) % 3 AS wt
  FROM x CROSS JOIN grid
)
SELECT CAST(b AS BIGINT) AS b,
       CAST(sum(wt) AS BIGINT) AS n_eff,
       CAST(sum(wt * cents) AS BIGINT) AS sum_cents,
       CAST(sum(wt * cents) AS DOUBLE) / CAST(sum(wt) AS DOUBLE) AS mean_cents
FROM w GROUP BY b ORDER BY b
""",
)
def ml_hash_bootstrap_means_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-DETERMINISTIC bootstrap: B=20 pseudo-resamples of the
    order-value mean, where each row's multiplicity in resample b is
    ``hash64(id:b) % 3`` ∈ {0,1,2} (mean 1 — a Poisson-bootstrap
    stand-in with a reproducible hash instead of an RNG). The spread
    of the 20 resample means IS the standard-error estimate, and the
    SAME resamples materialize on any engine, any partitioning, any
    scale — the property rng-based bootstrap loses in a distributed
    setting. Each mean is one int64/int64 division.

    Scale: the B-fold explode is a broadcast grid cross join; the
    aggregate collapses to B groups map-side, so the shuffle carries
    20 rows per task no matter how large the fact table is."""
    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    grid = spark.range(_B).select(F.col("id").alias("b"))
    w = x.crossJoin(F.broadcast(grid)).select(
        "b",
        "cents",
        (
            hash64(
                F.concat(
                    F.col("id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            )
            % 3
        ).alias("wt"),
    )
    return (
        w.groupBy("b")
        .agg(
            F.sum("wt").cast("long").alias("n_eff"),
            F.sum(F.col("wt") * F.col("cents")).cast("long").alias("sum_cents"),
            (
                F.sum(F.col("wt") * F.col("cents")).cast("double")
                / F.sum("wt").cast("double")
            ).alias("mean_cents"),
        )
        .orderBy("b")
    )


# ---------------------------------------------------------------------------
# MDE → sample-size grid
# ---------------------------------------------------------------------------
@register(
    "ml_mde_sample_size",
    oracle=f"""
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 1000 AS kc FROM orders
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(kc) AS BIGINT) AS s,
         CAST(sum(kc * kc) AS BIGINT) AS ss
  FROM x
),
grid AS (SELECT unnest([1, 2, 5, 10]) AS mde_pct)
SELECT CAST(mde_pct AS BIGINT) AS mde_pct,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_kc,
       (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_kc,
       CAST(ceil(
         {_POWER_C} * ((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         / ((CAST(mde_pct AS DOUBLE) / 100.0
             * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
            * (CAST(mde_pct AS DOUBLE) / 100.0
               * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
       ) AS BIGINT) AS n_per_arm
FROM m CROSS JOIN grid ORDER BY mde_pct
""",
)
def ml_mde_sample_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER ANALYSIS: per-arm sample size required to
    detect a 1/2/5/10% lift in mean order value at 80% power,
    two-sided α=0.05 — n = 2(z_{α/2}+z_β)²σ²/Δ², with the z-constant
    inlined as one shared literal and σ², x̄ taken from exact int64
    moments (kilocent units keep Σx² in range). The entire grid is
    priced from ONE moment pass; ceil is the only integer-boundary
    op and sits on a quotient far from integral values.

    Pairs with ``ml_cuped_adjustment``: CUPED shrinks σ², this query
    turns that shrinkage into a concrete sample-size budget."""
    x = load_table(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as long) div 1000").alias("kc")
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("kc").cast("long").alias("s"),
        F.sum(F.col("kc") * F.col("kc")).cast("long").alias("ss"),
    )
    grid = spark.createDataFrame([(p,) for p in (1, 2, 5, 10)], "mde_pct long")
    n_d, s_d, ss_d = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("ss").cast("double"),
    )
    mean = s_d / n_d
    var = (n_d * ss_d - s_d * s_d) / (n_d * n_d)
    delta = F.col("mde_pct").cast("double") / F.lit(100.0) * mean
    return (
        m.join(F.broadcast(grid))
        .select(
            "mde_pct",
            mean.alias("mean_kc"),
            var.alias("var_kc"),
            F.ceil(F.lit(float(_POWER_C)) * var / (delta * delta))
            .cast("long")
            .alias("n_per_arm"),
        )
        .orderBy("mde_pct")
    )


# ---------------------------------------------------------------------------
# Forward as-of join
# ---------------------------------------------------------------------------
@register(
    "j25_asof_forward",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
)
SELECT user_id, event_id, ts_us,
       CAST(min(CASE WHEN event_type = 'signup' THEN ts_us END) OVER (
         PARTITION BY user_id ORDER BY ts_us, event_id
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
       ) AS BIGINT) AS next_signup_us
FROM e
""",
)
def j25_asof_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every event, the next signup at-or-after it
    for the same user — the direction ``j9_asof_last_signup`` (most
    recent at-or-before) doesn't cover, completing the as-of family
    (backward / backward-with-tolerance ``j12`` / forward). Expressed
    as a conditional MIN over the forward window frame on the unioned
    event stream — the same single-shuffle shape as the backward
    last(ignorenulls) formulation, just with the frame reversed; no
    join at all, so there is no per-row probe side to skew.

    Scale: one hash shuffle on user_id, one sort within partitions —
    identical cost profile to the backward as-of that benches at
    <1 s/15M rows."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    # r11: MIN is order-independent, so the forward frame runs over
    # the REVERSED total order with an incremental preceding frame —
    # identical frame contents ("current row onward" in event order),
    # O(rows) instead of Spark's O(rows²) unbounded-following
    # evaluation per user partition.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_us"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_us",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us")))
        .over(w)
        .cast("long")
        .alias("next_signup_us"),
    )
