"""Data-pipeline queries, wave 69: growth accounting.

- weekly active-user growth accounting: every active user classified
  as new / retained / resurrected, plus churned attributed to the
  week after last activity — the product-analytics identity
  actives(w) = new + retained + resurrected, with churn closing the
  ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

_WEEK_US = 604800000000


@register(
    "ts_growth_accounting",
    oracle=f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // {_WEEK_US} AS BIGINT) AS wk
  FROM events
),
lagd AS (
  SELECT user_id, wk,
         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
         min(wk) OVER (PARTITION BY user_id) AS first_wk
  FROM uw
),
cls AS (
  SELECT wk,
         CAST(sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
         CAST(sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS retained,
         CAST(sum(CASE WHEN wk <> first_wk
                        AND (prev_wk IS NULL OR prev_wk < wk - 1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
  FROM lagd GROUP BY wk
),
churn AS (
  SELECT wk + 1 AS wk, CAST(count(*) AS BIGINT) AS churned
  FROM (
    SELECT user_id, wk,
           lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
    FROM uw
  )
  WHERE next_wk IS NULL OR next_wk > wk + 1
  GROUP BY wk + 1
)
SELECT cls.wk,
       cls.new_users + cls.retained + cls.resurrected AS actives,
       cls.new_users, cls.retained, cls.resurrected,
       coalesce(churn.churned, 0) AS churned_into_week
FROM cls LEFT JOIN churn ON cls.wk = churn.wk
ORDER BY cls.wk
""",
)
def ts_growth_accounting_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY GROWTH ACCOUNTING: every active user classified as NEW
    (first-ever week), RETAINED (also active the week before), or
    RESURRECTED (returning after a gap) — the identity actives =
    new + retained + resurrected holds by construction — plus
    CHURNED-INTO-WEEK (users whose activity streak ended the week
    before), which closes the ledger: actives(w) = actives(w−1) +
    new + resurrected − churned. This is the canonical product-
    analytics decomposition behind every MAU dashboard, and the
    per-user lag/lead classification is one window pass over the
    distinct (user, week) table.

    Scale: the fact table collapses to distinct user-weeks first;
    both windows share the same user_id shuffle; the week rollup is
    metadata-sized."""
    uw = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"cast(unix_micros(ts) div {_WEEK_US} as long)").alias("wk"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    wall = Window.partitionBy("user_id")
    lagd = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.min("wk").over(wall).alias("first_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    cls = lagd.groupBy("wk").agg(
        F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0))
        .cast("long")
        .alias("retained"),
        F.sum(
            (
                (F.col("wk") != F.col("first_wk"))
                & (F.col("prev_wk").isNull() | (F.col("prev_wk") < F.col("wk") - 1))
            ).cast("long")
        )
        .cast("long")
        .alias("resurrected"),
    )
    churn = (
        lagd.filter(F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    return (
        cls.join(churn, "wk", "left")
        .select(
            "wk",
            (
                F.col("new_users") + F.col("retained") + F.col("resurrected")
            ).alias("actives"),
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0)).cast("long").alias("churned_into_week"),
        )
        .orderBy("wk")
    )
