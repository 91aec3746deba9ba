"""Data-pipeline queries, wave 66: permutation inference.

- hash-deterministic permutation test for the segment mean
  difference: B=20 reproducible label shuffles in ONE pass, exact
  rational p-value
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import hash64
from stakehouse_etl_spark.queries.registry import register

_B = 20


@register(
    "ml_permutation_test",
    oracle=f"""
WITH v AS (
  SELECT o_custkey AS id,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
obs AS (
  SELECT abs(CAST(sum(CASE WHEN t = 1 THEN cents END) AS DOUBLE)
               / CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(sum(CASE WHEN t = 0 THEN cents END) AS DOUBLE)
               / CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS DOUBLE))
           AS obs_diff
  FROM v
),
grid AS (SELECT unnest(range(0, {_B})) AS b),
perm AS (
  SELECT grid.b,
         CAST('0x' || substr(md5(CAST(v.id AS VARCHAR) || 'p'
                                 || CAST(grid.b AS VARCHAR)), 1, 15)
              AS BIGINT) % 2 AS pt,
         v.cents
  FROM v CROSS JOIN grid
),
pd AS (
  SELECT b,
         abs(CAST(sum(CASE WHEN pt = 1 THEN cents END) AS DOUBLE)
               / CAST(sum(CASE WHEN pt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(sum(CASE WHEN pt = 0 THEN cents END) AS DOUBLE)
               / CAST(sum(CASE WHEN pt = 0 THEN 1 ELSE 0 END) AS DOUBLE))
           AS perm_diff
  FROM perm GROUP BY b
),
cmp AS (
  SELECT CAST(sum(CASE WHEN pd.perm_diff >= obs.obs_diff
               THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM pd CROSS JOIN obs
)
SELECT obs.obs_diff, cmp.n_extreme,
       CAST(cmp.n_extreme + 1 AS DOUBLE) / CAST({_B} + 1 AS DOUBLE)
         AS p_value
FROM obs CROSS JOIN cmp
""",
)
def ml_permutation_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-DETERMINISTIC permutation test: is the BUILDING-vs-
    MACHINERY mean order-value difference bigger than chance? B=20
    label shuffles — each row's pseudo-label is ``hash64(id:pb) % 2``
    — rebuild the null distribution of the absolute mean difference,
    and the exact rational p-value is (1 + #extreme)/(B+1), the
    add-one form that keeps the test valid at finite B. Like the
    hash bootstrap (``ml_hash_bootstrap_means``), the SAME
    permutations materialize on any engine and partitioning — the
    reproducibility property RNG-based shuffling loses. Every mean
    is exact-sum/count; the ≥ comparison runs on identically-built
    doubles.

    Scale: the B-fold explode collapses to 2B groups map-side — one
    pass prices the whole null distribution."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            "c_custkey",
            (F.col("c_mktsegment") == "BUILDING").cast("long").alias("t"),
        )
    )
    v = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("o_custkey").alias("id"),
            "t",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )

    def mean_diff(df: DataFrame, flag: str) -> F.Column:
        return F.abs(
            F.sum(F.when(F.col(flag) == 1, F.col("cents"))).cast("double")
            / F.sum((F.col(flag) == 1).cast("long")).cast("double")
            - F.sum(F.when(F.col(flag) == 0, F.col("cents"))).cast("double")
            / F.sum((F.col(flag) == 0).cast("long")).cast("double")
        )

    obs = v.agg(mean_diff(v, "t").alias("obs_diff"))
    grid = spark.range(_B).select(F.col("id").alias("b"))
    perm = v.crossJoin(F.broadcast(grid)).select(
        "b",
        (
            hash64(
                F.concat(
                    F.col("id").cast("string"),
                    F.lit("p"),
                    F.col("b").cast("string"),
                )
            )
            % 2
        ).alias("pt"),
        "cents",
    )
    pd_ = perm.groupBy("b").agg(mean_diff(perm, "pt").alias("perm_diff"))
    cmp = (
        pd_.join(F.broadcast(obs))
        .agg(
            F.sum((F.col("perm_diff") >= F.col("obs_diff")).cast("long"))
            .cast("long")
            .alias("n_extreme")
        )
    )
    return (
        obs.join(F.broadcast(cmp))
        .select(
            "obs_diff",
            "n_extreme",
            (
                (F.col("n_extreme") + 1).cast("double")
                / F.lit(float(_B + 1))
            ).alias("p_value"),
        )
    )
