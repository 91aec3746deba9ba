"""Data-pipeline queries, wave 14: checkpoint-restart exactly-once
(availableNow trigger), decimal money arithmetic, and null-safe
equality joins.

The availableNow query is the strongest T5 statement in the catalog:
TWO separate stream starts share one checkpoint; the second start
must process ONLY the file that arrived in between, and the upsert
snapshot must equal the batch aggregate — incremental, restartable,
exactly-once.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import land_batch

MICROS_PER_HOUR = 3_600_000_000


@register(
    "stream_availablenow_restart",
    oracle=f"""
SELECT user_id,
       epoch_us(ts) // {MICROS_PER_HOUR} AS epoch,
       CAST(max(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS balance_cents
FROM events
GROUP BY 1, 2
""",
)
def stream_availablenow_restart_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental streaming with RESTART: run 1 (availableNow
    trigger) drains the first two hour-aligned chunks through
    foreachBatch→upsert and stops; a third chunk lands; run 2 reuses
    the SAME checkpoint and must process only the new file — the
    source offset log, not the data, decides what's new. The final
    warehouse equals the batch hourly-max aggregate: restartable
    exactly-once ingestion, which is how the reference's 6-minute
    EventBridge cadence maps to Spark (each cron tick = one
    availableNow drain; SURVEY T2/T5/T6).
    """
    from stakehouse_etl_spark.io.sinks import write_upsert

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    row = ev.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).collect()[0]
    lo_us, hi_us = row[0], row[1]
    span = (hi_us - lo_us) / 3
    cut1 = (int(lo_us + span) // MICROS_PER_HOUR) * MICROS_PER_HOUR
    cut2 = (int(lo_us + 2 * span) // MICROS_PER_HOUR) * MICROS_PER_HOUR

    with tempfile.TemporaryDirectory(
        prefix="availnow_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        table_path = os.path.join(workdir, "warehouse", "hourly_balances")
        ckpt = os.path.join(workdir, "ckpt")

        def land(i: int, lo_cut: int, hi_cut: int) -> None:
            chunk = ev.filter(
                (F.unix_micros("ts") >= F.lit(lo_cut))
                & (F.unix_micros("ts") < F.lit(hi_cut))
            )
            land_batch(chunk, src, i)

        def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
            hourly = batch_df.groupBy(
                "user_id",
                F.expr(f"unix_micros(ts) div {MICROS_PER_HOUR}").alias("epoch"),
            ).agg(F.max(F.round(F.col("value") * 100).cast("long")).alias(
                "balance_cents"
            ))
            write_upsert(
                batch_df.sparkSession, hourly, table_path,
                keys=["user_id", "epoch"],
            )

        def drain() -> None:
            stream = (
                spark.readStream.schema("user_id long, ts timestamp, value double")
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(upsert_batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()

        # Run 1: two hour-aligned chunks, drain, stop.
        land(0, -(1 << 62), cut1)
        land(1, cut1, cut2)
        drain()
        # New data lands AFTER the first drain; run 2 shares the
        # checkpoint and must pick up only chunk 2.
        land(2, cut2, (1 << 62))
        drain()

        out = spark.read.parquet(table_path).select(
            "user_id", "epoch", "balance_cents"
        )
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "a_decimal_exact_sum",
    oracle="""
SELECT o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
         AS total_decimal,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderstatus
""",
)
def a_decimal_exact_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL money arithmetic — the alternative to the integer-cents
    discipline used elsewhere: cast prices to DECIMAL(18,2) and sum in
    decimal space (Spark's Decimal128 aggregation is exact and
    order-independent, like DuckDB's). Emitted as a canonical string
    so the engines compare digits, not binary floats. At 100 TB
    decimal aggregation costs ~2× a long sum — integer cents remain
    the hot-path choice; this query pins that the decimal surface
    agrees with it.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("dec_sum"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            F.col("dec_sum").cast("string").alias("total_decimal"),
            "n_orders",
        )
    )


@register(
    "j17_null_safe_join",
    oracle="""
WITH c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END AS join_key
  FROM customer
),
s AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS join_key
  FROM supplier
)
SELECT CAST(c.join_key AS BIGINT) AS join_key,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(c_custkey) AS BIGINT) AS min_custkey,
       CAST(min(s_suppkey) AS BIGINT) AS min_suppkey
FROM c JOIN s ON c.join_key IS NOT DISTINCT FROM s.join_key
GROUP BY 1
""",
)
def j17_null_safe_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of vanishing — the semantics a
    dedup-on-nullable-natural-key or sentinel-bucket join needs, and a
    classic silent-wrong-answer trap when plain ``=`` drops the NULL
    partition. Spark plans ``<=>`` as a hash join (null-safe keys
    hash like values); the NULL bucket is one hot key — at scale,
    salt it or route it through the skew path like any other hot key.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("ck"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("s_nationkey"))
        .alias("sk"),
    )
    j = c.join(s, c.ck.eqNullSafe(s.sk))
    return j.groupBy(F.col("ck").cast("long").alias("join_key")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("c_custkey").alias("min_custkey"),
        F.min("s_suppkey").alias("min_suppkey"),
    )
