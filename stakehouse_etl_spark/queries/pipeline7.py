"""Data-pipeline queries, wave 7: multiset intersection, OHLC
time-series resampling, and incremental aggregate maintenance.

Exact-value oracles throughout (integer cents, window-determined
first/last with unique tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

MICROS_PER_HOUR = 3_600_000_000


@register(
    "u4_intersect_all",
    oracle="""
SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 0
INTERSECT ALL
SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 1
""",
)
def u4_intersect_all_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection with multiplicity
    min(count_a, count_b): parts shipped by both supplier halves,
    counted as often as both sides support. Completes the set-op
    family (U1 union / U2 except / U3 distinct, SURVEY §2.7); Spark
    plans it as a single hash aggregation per side + join, no
    row-pairing blowup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_suppkey") % 2 == 0).select("l_partkey")
    b = li.filter(F.col("l_suppkey") % 2 == 1).select("l_partkey")
    return a.intersectAll(b)


@register(
    "ts_resample_ohlc",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) // {MICROS_PER_HOUR} AS hour_bucket,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
w AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, hour_bucket
                            ORDER BY ts_us ASC, event_id ASC) AS rn_open,
         row_number() OVER (PARTITION BY user_id, hour_bucket
                            ORDER BY ts_us DESC, event_id DESC) AS rn_close
  FROM e
)
SELECT user_id, CAST(hour_bucket AS BIGINT) AS hour_bucket,
       CAST(max(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(max(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT) AS close_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM w GROUP BY 1, 2
""",
)
def ts_resample_ohlc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the per-user event stream to hourly
    open/high/low/close bars — the canonical time-series resampling
    shape (balance snapshots, metrics rollups). ``min_by``/``max_by``
    on the (ts, event_id) struct pick open/close in the SAME grouped
    pass as the min/max/count — one shuffle, no window, no self-join;
    the deterministic tiebreak makes first/last well-defined under
    parallel aggregation (partial aggs merge associatively at any
    scale).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr(f"unix_micros(ts) div {MICROS_PER_HOUR}").alias("hour_bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    order = F.struct(F.col("ts_us"), F.col("event_id"))
    return e.groupBy("user_id", "hour_bucket").agg(
        F.min_by("cents", order).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", order).alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "inc_agg_merge",
    oracle="""
SELECT user_id,
       CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""",
)
def inc_agg_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: a
    materialized per-user (sum, count) snapshot over the old half of
    the stream is MERGED with the delta batch's partial aggregate —
    full-outer join + component-wise add — instead of rescanning
    history. The oracle is the full recompute; equality is the IVM
    correctness statement. At 100 TB this is the difference between
    touching a day of data and touching three years (the reference's
    runner tables are exactly this pattern, SURVEY T1/T3).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("seq_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cut = e.agg(
        F.min("seq_us") + (F.max("seq_us") - F.min("seq_us")) / 2
    ).collect()[0][0]
    snapshot = (
        e.filter(F.col("seq_us") <= F.lit(int(cut)))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("s_cents"), F.count(F.lit(1)).alias("s_n"))
    )
    delta = (
        e.filter(F.col("seq_us") > F.lit(int(cut)))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("d_cents"), F.count(F.lit(1)).alias("d_n"))
    )
    merged = snapshot.join(delta, "user_id", "full_outer").select(
        "user_id",
        (
            F.coalesce(F.col("s_cents"), F.lit(0))
            + F.coalesce(F.col("d_cents"), F.lit(0))
        ).alias("total_cents"),
        (
            F.coalesce(F.col("s_n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
        ).alias("n_events"),
    )
    return merged
