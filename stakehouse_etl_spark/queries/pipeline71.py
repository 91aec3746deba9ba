"""Data-pipeline queries, wave 71: ABC classification.

- ABC (Pareto) classification of parts by revenue: A = the head
  covering 80% of revenue, B = next 15%, C = tail — integer
  cumulative-share cutoffs, no float boundary
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import (
    global_prefix_sum,
    skew_resistant_rank,
)
from stakehouse_etl_spark.queries.registry import register


@register(
    "a_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY l_partkey
),
rk AS (
  SELECT l_partkey, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS BIGINT)
           AS cum,
         CAST(sum(cents) OVER () AS BIGINT) AS total
  FROM rev
),
cls AS (
  SELECT CASE WHEN (cum - cents) * 100 < total * 80 THEN 'A'
              WHEN (cum - cents) * 100 < total * 95 THEN 'B'
              ELSE 'C' END AS abc,
         cents
  FROM rk
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS cents,
       CAST(sum(cents) AS DOUBLE)
         / (SELECT CAST(sum(cents) AS DOUBLE) FROM rev) AS revenue_share
FROM cls GROUP BY abc ORDER BY abc
""",
)
def a_abc_classification_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) CLASSIFICATION of parts by revenue: class A =
    parts whose EXCLUSIVE cumulative share is still under 80% (the
    head that earns the first 80 cents of every dollar), B = to 95%,
    C = the tail — the inventory-policy segmentation that decides
    which parts get tight stock control. Class boundaries are
    INTEGER cross-multiplied comparisons ((cum−cents)·100 <
    total·80) on exact cents — no float ever assigns a class; the
    exclusive-prefix form guarantees the part that CROSSES 80% still
    belongs to A (the standard convention). Ranking ties break on
    the part key.

    Scale: part-level rollup, then the ranked cumulative runs on the
    part-count-sized table (the two-phase prefix applies at scale,
    same note as the Lorenz/Gini family); 3-group output."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total"))
    # (desc cents, partkey) cumulative over the O(parts) table — rank
    # then prefix-sum by the dense rank, both two-phase, no
    # single-partition window
    rk = skew_resistant_rank(
        rev, value="cents", id_col="l_partkey", descending=True, out="__i"
    )
    rk = (
        global_prefix_sum(rk, id_col="__i", value="cents", out="cum")
        .drop("__i")
        .join(F.broadcast(tot))
    )
    excl = F.col("cum") - F.col("cents")
    cls = rk.select(
        F.when(excl * 100 < F.col("total") * 80, "A")
        .when(excl * 100 < F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc"),
        "cents",
        "total",
    )
    return (
        cls.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("cents"),
            (
                F.sum("cents").cast("double") / F.max("total").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("abc")
    )
