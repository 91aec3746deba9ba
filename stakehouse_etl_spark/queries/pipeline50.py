"""Data-pipeline queries, wave 50: join NULL semantics and burstiness.

- NULL-key join matrix (inner/left/semi/anti row counts under NULL
  keys — the executable join contract, completing the NULL kernels)
- Fano-factor burstiness of daily volume per weekday (exact integer
  rational)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# NULL-key join matrix
# ---------------------------------------------------------------------------
@register(
    "j30_null_join_matrix",
    oracle="""
WITH l AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS k
  FROM orders
),
r AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
              ELSE c_custkey END AS k,
         c_custkey
  FROM customer
)
SELECT
  CAST((SELECT count(*) FROM l JOIN r ON l.k = r.k) AS BIGINT)
    AS inner_rows,
  CAST((SELECT count(*) FROM l LEFT JOIN r ON l.k = r.k) AS BIGINT)
    AS left_rows,
  CAST((SELECT count(*) FROM l LEFT JOIN r ON l.k = r.k
         WHERE r.c_custkey IS NULL) AS BIGINT) AS left_unmatched,
  CAST((SELECT count(*) FROM l WHERE EXISTS (
          SELECT 1 FROM r WHERE r.k = l.k)) AS BIGINT) AS semi_rows,
  CAST((SELECT count(*) FROM l WHERE NOT EXISTS (
          SELECT 1 FROM r WHERE r.k = l.k)) AS BIGINT) AS anti_rows,
  CAST((SELECT count(*) FROM l WHERE k IS NULL) AS BIGINT) AS l_nulls,
  CAST((SELECT count(*) FROM r WHERE k IS NULL) AS BIGINT) AS r_nulls
""",
)
def j30_null_join_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-KEY join matrix: one row of counts pinning how every
    join flavor treats NULL keys — inner and semi joins NEVER match
    NULL=NULL (both sides' NULL rows vanish), left join keeps the
    NULL-keyed left rows as unmatched, anti join KEEPS them (NULL
    fails the match, which is the j24 NOT-IN footgun's mirror image:
    NOT EXISTS keeps NULL rows, NOT IN drops everything). Together
    with ``f16_null_agg_kernel`` and ``j17_null_safe_join`` this is
    the executable NULL contract of the engine pair. The invariant
    left_rows = inner_rows + left_unmatched and semi+anti = |l| are
    asserted in tests — count conservation laws, not samples.

    Scale: each cell is an aggregate over a key-only join — the
    pattern costs one shuffle per flavor and is how you'd audit a
    dirty-key migration before trusting its joins."""
    l = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("k")
    )
    r = load_table(spark, sf_dir, "customer").select(
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(None).cast("long"))
        .otherwise(F.col("c_custkey"))
        .alias("k"),
        "c_custkey",
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    inner = cnt(l.join(r, "k"), "inner_rows")
    left = cnt(l.join(r, "k", "left"), "left_rows")
    left_un = cnt(
        l.join(r, "k", "left").filter(F.col("c_custkey").isNull()),
        "left_unmatched",
    )
    semi = cnt(l.join(r, "k", "left_semi"), "semi_rows")
    anti = cnt(l.join(r, "k", "left_anti"), "anti_rows")
    l_nulls = cnt(l.filter(F.col("k").isNull()), "l_nulls")
    r_nulls = cnt(r.filter(F.col("k").isNull()), "r_nulls")
    out = inner
    for d in (left, left_un, semi, anti, l_nulls, r_nulls):
        out = out.join(d)
    return out


# ---------------------------------------------------------------------------
# Fano-factor burstiness per weekday
# ---------------------------------------------------------------------------
@register(
    "a_fano_burstiness",
    oracle="""
WITH daily AS (
  SELECT o_orderdate::DATE AS day, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
wd AS (
  SELECT CAST(CASE WHEN dayofweek(day) = 0 THEN 7
              ELSE dayofweek(day) END AS BIGINT) AS iso_dow, c
  FROM daily
),
m AS (
  SELECT iso_dow,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM wd GROUP BY iso_dow
)
SELECT iso_dow, n, s,
       n * ss - s * s AS var_num,
       CAST(n * ss - s * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS fano
FROM m ORDER BY iso_dow
""",
)
def a_fano_burstiness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO FACTOR (variance/mean) of daily order counts per ISO
    weekday — the burstiness index: 1 for a Poisson arrival process,
    >1 over-dispersed (bursty days), <1 under-dispersed (smoothed/
    quota-fed). The rational algebra keeps it one division:
    var/mean = (n·Σc² − (Σc)²)/(n·Σc) with all moments exact int64 —
    the dispersion diagnostic that says whether the volume z-score
    anomaly thresholds (``ts_anomaly_zscore``) are even calibrated.

    Scale: daily collapse then a 7-group moment pass — all map-side
    combinable."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wd = daily.select(
        F.when(F.dayofweek("day") == 1, 7)
        .otherwise(F.dayofweek("day") - 1)
        .cast("long")
        .alias("iso_dow"),
        "c",
    )
    m = wd.groupBy("iso_dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    return m.select(
        "iso_dow",
        "n",
        "s",
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias("var_num"),
        (
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
            / (F.col("n") * F.col("s")).cast("double")
        ).alias("fano"),
    ).orderBy("iso_dow")
