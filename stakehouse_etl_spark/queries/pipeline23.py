"""Data-pipeline queries, wave 23: expression-surface breadth.

- higher-order array kernel (transform/filter/aggregate, exact ints)
- regexp_extract_all numeric harvesting
- per-group mode with deterministic tie-break
- run-length encoding of event streaks (gaps-and-islands)
- malformed-record quarantine split (dead-letter pattern)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.similarity import quantize
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Higher-order array function kernel
# ---------------------------------------------------------------------------
@register(
    "f11_array_kernel",
    oracle="""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
)
SELECT vec_id,
       CAST(len(list_filter(q, x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_milli,
       CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT)
         AS maxabs_milli
FROM e
""",
)
def f11_array_kernel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface in one kernel —
    ``transform`` (map), ``filter`` (predicate prune), ``aggregate``
    (fold) over the quantized embedding, all JVM-side codegen'd
    lambdas, zero UDFs: positives count, L1 norm, max-|x|, every
    result an exact int64. This family is how per-vector math stays
    on the fast path at 100 TB — one row-parallel projection, no
    explode (the explode form shuffles |dims|× the rows; compare
    ``ml_kmeans_update`` where the explode IS wanted for the
    per-dimension regroup)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    absq = F.transform(F.col("q"), lambda x: F.abs(x))
    return e.select(
        "vec_id",
        F.size(F.filter(F.col("q"), lambda x: x > 0))
        .cast("long")
        .alias("n_pos"),
        F.aggregate(
            absq, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("l1_milli"),
        F.array_max(absq).cast("long").alias("maxabs_milli"),
    )


# ---------------------------------------------------------------------------
# regexp_extract_all numeric harvesting
# ---------------------------------------------------------------------------
@register(
    "f13_regexp_extract_numbers",
    oracle="""
SELECT event_id,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums,
       CAST(list_sum(list_transform(regexp_extract_all(props, '[0-9]+'),
                                    x -> CAST(x AS BIGINT))) AS BIGINT)
         AS sum_nums
FROM events
""",
)
def f13_regexp_extract_numbers_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bulk regex harvesting: pull EVERY digit run out of a
    semi-structured string column with ``regexp_extract_all``, cast
    and fold to (count, sum) — the scan-side pattern for mining
    metrics out of log/JSON-ish payloads without a parser when only
    fragments matter. Stays a single codegen'd projection: the regex,
    the casts, and the fold all run row-parallel with no explode and
    no UDF (a Python re.findall UDF here would be the classic 100×
    slow path)."""
    ev = load_table(spark, sf_dir, "events")
    nums = F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0)
    return ev.select(
        "event_id",
        F.size(nums).cast("long").alias("n_nums"),
        F.aggregate(
            F.transform(nums, lambda x: x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_nums"),
    )


# ---------------------------------------------------------------------------
# Per-group mode with deterministic tie-break
# ---------------------------------------------------------------------------
@register(
    "a_mode_per_group",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id, event_type AS mode_type, n
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY user_id ORDER BY n DESC, event_type
         ) AS rn
  FROM c
) WHERE rn = 1
""",
)
def a_mode_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type — count-then-argmax with a total
    (count DESC, value ASC) order so ties resolve identically
    everywhere (the built-in ``mode()`` aggregate is
    tie-nondeterministic, which is exactly what an oracle-checked
    engine cannot ship). Two stages: the grouped count shrinks to
    |users|×|types| rows BEFORE the per-user argmax window, so the
    window input is bounded by the type cardinality, not the event
    volume."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


# ---------------------------------------------------------------------------
# Run-length encoding of event streaks (gaps-and-islands)
# ---------------------------------------------------------------------------
@register(
    "ts_run_length_encode",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
g AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts_us, event_id) AS island
  FROM e
)
SELECT user_id, event_type, CAST(island AS BIGINT) AS island,
       CAST(min(ts_us) AS BIGINT) AS run_start_us,
       CAST(max(ts_us) AS BIGINT) AS run_end_us,
       CAST(count(*) AS BIGINT) AS run_len
FROM g GROUP BY 1, 2, 3
""",
)
def ts_run_length_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of per-user event streaks — the
    gaps-and-islands decomposition: consecutive rows of the same type
    share a constant difference between the overall row_number and the
    per-type row_number, which becomes the island id; one grouped agg
    then yields each run's span and length. This is the streak
    primitive (consecutive logins, repeated failures, flapping
    monitors) and the VALUE-change dual of the engine's time-gap
    ``sessionize``. Both windows share one partitioning (user), so
    Catalyst evaluates them in a single Window operator — one shuffle
    total."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    w_all = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    g = e.withColumn(
        "island",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).cast(
            "long"
        ),
    )
    return g.groupBy("user_id", "event_type", "island").agg(
        F.min("ts_us").alias("run_start_us"),
        F.max("ts_us").alias("run_end_us"),
        F.count(F.lit(1)).alias("run_len"),
    )


# ---------------------------------------------------------------------------
# Malformed-record quarantine split (dead-letter pattern)
# ---------------------------------------------------------------------------
@register(
    "dq_quarantine_split",
    oracle="""
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 17 = 0 THEN substr(props, 1, 3)
              ELSE props END AS payload
  FROM events
),
parsed AS (
  SELECT event_id, payload,
         CASE WHEN json_valid(payload)
              THEN CAST(json_extract(payload, '$.k') AS BIGINT) END AS k
  FROM raw
)
SELECT event_id, k,
       CASE WHEN k IS NULL THEN 'quarantined' ELSE 'ok' END AS status
FROM parsed
""",
)
def dq_quarantine_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dead-letter ingestion pattern: parse a semi-structured
    payload; rows that fail to parse are ROUTED, not dropped —
    quarantined with the original payload intact for replay (the
    reference's SQS DLQ after maxRetries, SURVEY T5, re-expressed as a
    data-level split). Corruption is synthesized deterministically
    (every 17th event's payload truncated) so the split is
    reproducible; ``from_json`` yields NULL on malformed input, which
    becomes the routing predicate. One projection, no UDF; in
    production the two statuses fan out to separate sinks via
    ``partitionBy(status)`` so the quarantine is a partition, not a
    second job."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 17 == 0, F.substring(F.col("props"), 1, 3)
    ).otherwise(F.col("props"))
    k = F.from_json(payload, T.StructType([T.StructField("k", T.LongType())]))[
        "k"
    ]
    parsed = ev.select("event_id", k.alias("k"))
    return parsed.select(
        "event_id",
        "k",
        F.when(F.col("k").isNull(), "quarantined")
        .otherwise("ok")
        .alias("status"),
    )
