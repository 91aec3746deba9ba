"""Data-pipeline queries, wave 54: survival analysis.

- Kaplan-Meier survival curve over user lifetimes with right
  censoring — the log-space cumulative is QUANTIZED to integer
  micro-units before the ordered sum, because float window cumsums
  are the one aggregate the two engines compute differently (DuckDB
  segment trees vs Spark running totals, ~1e-13 drift); integer
  cumsums are exact everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import global_prefix_sum
from stakehouse_etl_spark.queries.registry import register

_CENSOR_US = 7 * 86400000000  # 7 days


@register(
    "ml_kaplan_meier",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
         CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
  FROM events GROUP BY user_id
),
sp AS (SELECT CAST(max(last_us) AS BIGINT) AS span_end FROM u),
lif AS (
  SELECT (last_us - first_us) // 86400000000 AS dur_days,
         (last_us < span_end - {_CENSOR_US}) AS churned
  FROM u CROSS JOIN sp
),
n_t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lif),
d AS (
  SELECT dur_days,
         CAST(count(*) AS BIGINT) AS ending,
         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS deaths
  FROM lif GROUP BY dur_days
),
c AS (
  SELECT dur_days, ending, deaths,
         CAST(coalesce(sum(ending) OVER (
           ORDER BY dur_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS gone_before
  FROM d
),
terms AS (
  SELECT dur_days, deaths,
         n_total - gone_before AS at_risk,
         CASE WHEN deaths > 0
              THEN CAST(floor(ln(
                     CAST(n_total - gone_before - deaths AS DOUBLE)
                     / CAST(n_total - gone_before AS DOUBLE)
                   ) * 1000000) AS BIGINT)
              ELSE 0 END AS logterm_micro
  FROM c CROSS JOIN n_t
  WHERE n_total - gone_before > deaths
),
km AS (
  SELECT dur_days, deaths, at_risk,
         CAST(sum(logterm_micro) OVER (
           ORDER BY dur_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cumlog_micro
  FROM terms
)
SELECT dur_days, deaths, at_risk,
       CAST(floor(exp(CAST(cumlog_micro AS DOUBLE) / 1000000.0) * 1000000)
            AS BIGINT) AS survival_micro
FROM km ORDER BY dur_days
""",
)
def ml_kaplan_meier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve of user lifetimes (first event →
    last event), RIGHT-CENSORING users still active in the final
    week — the retention estimator that plain "average lifetime"
    gets wrong because censored users aren't churned yet. Per
    distinct duration: at-risk count from an exclusive prefix over
    the duration-collapsed table, per-step factor (1 − d/n) carried
    in LOG space. Float discipline: each log term is quantized to
    integer MICRO-units BEFORE the ordered cumulative sum — float
    window cumsums are the one op the engines compute differently
    (segment tree vs running total), integer cumsums are exact —
    then one exp at the output edge, floored to the same grid.

    Scale: per-user rollup on the events key, then everything runs
    on the duration-collapsed (spine-sized) table via the two-phase
    prefix machinery."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts")).cast("long").alias("first_us"),
            F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
        )
    )
    sp = u.agg(F.max("last_us").cast("long").alias("span_end"))
    lif = u.join(F.broadcast(sp)).select(
        F.expr("(last_us - first_us) div 86400000000").alias("dur_days"),
        (F.col("last_us") < F.col("span_end") - _CENSOR_US).alias("churned"),
    )
    n_t = lif.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    d = lif.groupBy("dur_days").agg(
        F.count(F.lit(1)).cast("long").alias("ending"),
        F.sum(F.col("churned").cast("long")).cast("long").alias("deaths"),
    )
    c = global_prefix_sum(d, "dur_days", "ending", out="gone_incl")
    c = c.withColumn("gone_before", F.col("gone_incl") - F.col("ending"))
    terms = (
        c.join(F.broadcast(n_t))
        .withColumn("at_risk", F.col("n_total") - F.col("gone_before"))
        .filter(F.col("at_risk") > F.col("deaths"))
        .withColumn(
            "logterm_micro",
            F.when(
                F.col("deaths") > 0,
                F.floor(
                    F.log(
                        (F.col("at_risk") - F.col("deaths")).cast("double")
                        / F.col("at_risk").cast("double")
                    )
                    * 1000000
                ).cast("long"),
            ).otherwise(F.lit(0)),
        )
    )
    km = global_prefix_sum(
        terms.select("dur_days", "deaths", "at_risk", "logterm_micro"),
        "dur_days",
        "logterm_micro",
        out="cumlog_micro",
    )
    return km.select(
        "dur_days",
        "deaths",
        "at_risk",
        F.floor(
            F.exp(F.col("cumlog_micro").cast("double") / F.lit(1000000.0))
            * 1000000
        )
        .cast("long")
        .alias("survival_micro"),
    ).orderBy("dur_days")
