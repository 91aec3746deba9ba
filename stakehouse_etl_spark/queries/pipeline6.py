"""Data-pipeline queries, wave 6: Bloom-style join prefiltering,
schema-evolution reads, and streaming CDC with tombstones.

The prefilter and the streaming query are both *transparent* to their
oracles: the hashed-bucket prefilter has no false negatives (result ==
plain semi join), and the streaming CDC snapshot equals the batch
compaction — equivalence IS the correctness statement.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import land_batch, run_stream

# ---------------------------------------------------------------------------
# Bloom-style hashed-bucket join prefilter (no false negatives)
# ---------------------------------------------------------------------------

_BLOOM_BUCKETS = 4096


@register(
    "j13_bloom_prefilter_join",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders
WHERE EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey
    AND c_mktsegment = 'BUILDING' AND c_acctbal > 5000
)
GROUP BY o_orderstatus
""",
)
def j13_bloom_prefilter_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join accelerated by an explicit Bloom-style prefilter: hash
    the build side's keys into 4096 buckets, broadcast the occupied
    bucket set, and discard probe rows whose bucket is empty BEFORE
    the exact semi join. False positives pass through to the exact
    join; false negatives are impossible — so the result equals the
    plain semi join (the oracle). This is the manual form of Spark's
    runtime bloom-filter pushdown (and works across stages /
    checkpoints where the automatic one can't reach); at 100 TB the
    probe-side scan drops most rows before any shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    build = c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    ).select("c_custkey")
    buckets = build.select(
        (F.xxhash64("c_custkey") % _BLOOM_BUCKETS).alias("bucket")
    ).distinct()
    probe = o.withColumn("bucket", F.xxhash64("o_custkey") % _BLOOM_BUCKETS)
    prefiltered = probe.join(F.broadcast(buckets), "bucket", "left_semi")
    exact = prefiltered.join(
        F.broadcast(build.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "left_semi",
    )
    return exact.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "price_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Schema evolution: mergeSchema across heterogeneous parquet batches
# ---------------------------------------------------------------------------


@register(
    "src_schema_evolution",
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
         AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders
GROUP BY 1
""",
)
def src_schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the warehouse: batch 1 lands without the
    ``priority`` column, batch 2 adds it; ``mergeSchema`` unifies the
    footprint on read and back-fills batch-1 rows with NULL — the
    add-a-column migration every long-lived pipeline hits, with no
    rewrite of old files. (Scale note: Spark only schema-merges when
    asked — the flag costs a footer read per file, so production
    tables pin the evolved schema in a catalog instead.)
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        "o_orderpriority",
    )
    workdir = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        path = os.path.join(workdir, "orders_evolving")
        v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "price_cents"
        )
        v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "price_cents",
            F.col("o_orderpriority").alias("priority"),
        )
        # Plain subdir names (no '=': keep partition discovery out of it).
        v1.write.mode("overwrite").parquet(os.path.join(path, "b1"))
        v2.write.mode("overwrite").parquet(os.path.join(path, "b2"))
        evolved = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(path, "b1"), os.path.join(path, "b2")
        )
        out = evolved.groupBy("priority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("price_cents"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming CDC apply (upserts + tombstones across micro-batches)
# ---------------------------------------------------------------------------


@register(
    "stream_cdc_apply",
    oracle="""
WITH log AS (
  SELECT user_id,
         epoch_us(ts) AS seq_us,
         event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC
  ) AS rn
  FROM log
)
SELECT user_id, cents AS last_cents, seq_us AS last_seq_us
FROM ranked WHERE rn = 1 AND op = 'U'
""",
)
def stream_cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingestion as a STREAM: the change log (events; ``error`` =
    tombstone) arrives in three time-ordered micro-batches via the
    file source, and ``foreachBatch`` applies each one through
    ``io.sinks.write_cdc`` (last-op-per-key compaction, delete =
    anti-join, upsert = newest-wins merge). The final warehouse
    snapshot must equal the batch compaction of the whole log
    (``inc_cdc_apply``'s oracle, minus the change counter) — the
    stream/batch equivalence contract for mutable-table replication.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("seq_us"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    row = ev.agg(F.min("seq_us"), F.max("seq_us")).collect()[0]
    lo, hi = row[0], row[1]
    span = (hi - lo) // 3

    from stakehouse_etl_spark.io.sinks import write_cdc

    with tempfile.TemporaryDirectory(
        prefix="stream_cdc_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        cuts = [(lo - 1, lo + span), (lo + span, lo + 2 * span), (lo + 2 * span, hi + 1)]
        for i, (lo_cut, hi_cut) in enumerate(cuts):
            chunk = ev.filter(
                (F.col("seq_us") > F.lit(lo_cut)) & (F.col("seq_us") <= F.lit(hi_cut))
            )
            # File mtime orders the micro-batches (change order).
            land_batch(chunk, src, i)

        table_path = os.path.join(workdir, "warehouse", "snapshot")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            write_cdc(
                batch_df.sparkSession,
                batch_df,
                table_path,
                keys=["user_id"],
                seq_cols=["seq_us", "event_id"],
            )

        schema = "user_id long, seq_us long, event_id long, op string, cents long"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream(stream.writeStream.foreachBatch(apply_batch), workdir)
        out = spark.read.parquet(table_path).select(
            "user_id",
            F.col("cents").alias("last_cents"),
            F.col("seq_us").alias("last_seq_us"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
