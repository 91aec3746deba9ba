"""Data-pipeline queries, wave 8: point-in-time-correct dimension
joins and corpus novelty scoring.

The PIT join is the label-leakage guard of feature engineering: a
training example must see the dimension version valid AT ITS OWN
TIMESTAMP, never ``is_current`` (which leaks the future). The novelty
score is the dedup-aware sampling signal (prefer documents that
contribute unseen content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.datapipe import _SHINGLES_CTE
from stakehouse_etl_spark.queries.registry import register

_DAY_US = 86_400_000_000


@register(
    "j14_scd2_pit_join",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
l AS (
  SELECT *, lag(cents) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS prev
  FROM s
),
chg AS (SELECT * FROM l WHERE prev IS NULL OR cents <> prev),
v AS (
  SELECT user_id, cents, ts_us AS valid_from_us,
         coalesce(lead(ts_us) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id),
                  9223372036854775807) AS valid_to_us,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS BIGINT) AS version
  FROM chg
),
f AS (
  SELECT o_orderkey, o_custkey AS user_id,
         epoch_us(o_orderdate) AS order_ts_us
  FROM orders
)
SELECT f.o_orderkey, f.user_id, f.order_ts_us,
       v.cents AS dim_cents, v.version AS dim_version
FROM f
LEFT JOIN v ON v.user_id = f.user_id
           AND f.order_ts_us >= v.valid_from_us
           AND f.order_ts_us < v.valid_to_us
""",
)
def j14_scd2_pit_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join of a fact stream (orders) against the SCD2
    dimension built from the events feed: each fact picks the dimension
    version whose ``[valid_from, valid_to)`` interval contains the fact
    timestamp — never ``is_current``, which would leak future state
    into training features. Executed as a bucket-exploded interval
    join: each validity interval explodes to the day-buckets it covers
    (open intervals capped at the fact horizon), facts join on
    (user, day_bucket) equi-keys, and the containment predicate
    filters within bucket — an equi-shuffle plan a 1000-executor
    cluster can run, where the naive inequality join is a
    broadcast-nested-loop (same discipline as j11; SURVEY §2.3 J9's
    sequence/explode mapping, generalized from as-of to intervals).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = e.withColumn("prev", F.lag("cents").over(w)).filter(
        F.col("prev").isNull() | (F.col("cents") != F.col("prev"))
    )
    facts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("user_id"),
        F.unix_micros("o_orderdate").alias("order_ts_us"),
    )
    horizon = facts.agg(F.max("order_ts_us")).collect()[0][0] + 1
    dim = (
        chg.withColumn(
            "valid_to_us",
            F.coalesce(F.lead("ts_us").over(w), F.lit(9223372036854775807)),
        )
        .withColumn("version", F.row_number().over(w).cast("long"))
        .select(
            "user_id",
            "cents",
            F.col("ts_us").alias("valid_from_us"),
            "valid_to_us",
            "version",
        )
    )
    # Explode each interval to the day buckets it covers, capped at the
    # fact horizon (an open current interval must not explode forever).
    exploded = dim.filter(F.col("valid_from_us") < F.lit(horizon)).withColumn(
        "day_bucket",
        F.explode(
            F.sequence(
                F.expr(f"valid_from_us div {_DAY_US}"),
                F.expr(f"(least(valid_to_us, {horizon}) - 1) div {_DAY_US}"),
            )
        ),
    )
    probe = facts.withColumn(
        "day_bucket", F.expr(f"order_ts_us div {_DAY_US}")
    )
    joined = probe.join(exploded, ["user_id", "day_bucket"], "left").filter(
        F.col("valid_from_us").isNull()
        | (
            (F.col("order_ts_us") >= F.col("valid_from_us"))
            & (F.col("order_ts_us") < F.col("valid_to_us"))
        )
    )
    matched = joined.filter(F.col("valid_from_us").isNotNull()).select(
        "o_orderkey",
        "user_id",
        "order_ts_us",
        F.col("cents").alias("dim_cents"),
        F.col("version").alias("dim_version"),
    )
    # Facts with no containing interval keep a NULL row (left semantics).
    unmatched = facts.join(
        matched.select("o_orderkey"), "o_orderkey", "left_anti"
    ).select(
        "o_orderkey",
        "user_id",
        "order_ts_us",
        F.lit(None).cast("long").alias("dim_cents"),
        F.lit(None).cast("long").alias("dim_version"),
    )
    return matched.unionByName(unmatched)


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH {_SHINGLES_CTE},
firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM s2 GROUP BY shingle)
SELECT s2.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s2.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = s2.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS novelty
FROM s2 JOIN firsts f USING (shingle)
GROUP BY s2.doc_id
""",
)
def text_ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty scoring: the fraction of a document's 3-gram
    shingles that FIRST appear in that document (corpus ordered by
    doc_id — ingestion order). The dedup-aware sampling signal: a
    doc with novelty ~0 is boilerplate/duplicate material even when no
    single pair-join flags it. Two hash shuffles (global
    first-claimant per shingle, then per-doc rollup) — linear in
    corpus shingle volume, never pairwise.
    """
    from stakehouse_etl_spark.operators.dedup import doc_shingles

    sh = doc_shingles(load_table(spark, sf_dir, "documents"))
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            (F.sum(novel).cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )
