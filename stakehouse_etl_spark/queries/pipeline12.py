"""Data-pipeline queries, wave 12: drill-across fact conformance,
distribution-drift testing, and the write-audit-publish sink.

Drift uses the chi-square statistic (rational — no logs, unlike PSI),
so the test statistic is exactly reproducible from integer counts.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Drill-across: two fact tables over a conformed dimension
# ---------------------------------------------------------------------------


@register(
    "j15_drill_across",
    oracle="""
WITH o AS (
  SELECT c_nationkey AS nk,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS order_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY 1
),
e AS (
  SELECT c_nationkey AS nk,
         CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
           AS event_cents,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events JOIN customer ON c_custkey = user_id
  GROUP BY 1
)
SELECT n_name,
       coalesce(o.order_cents, 0) AS order_cents,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(e.event_cents, 0) AS event_cents,
       coalesce(e.n_events, 0) AS n_events
FROM nation
LEFT JOIN o ON o.nk = n_nationkey
LEFT JOIN e ON e.nk = n_nationkey
""",
)
def j15_drill_across_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across: two fact tables (orders, events) aggregated
    SEPARATELY to the conformed customer→nation grain, then merged on
    the dimension — the multi-fact-table report pattern. Never join
    fact-to-fact at row grain (that's a fan-out trap that silently
    multiplies measures); aggregate each star first, join the small
    results. Two independent agg pipelines + one broadcast merge.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "order_cents"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("event_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(o, n.n_nationkey == o.nk, "left")
        .join(e, n.n_nationkey == e.nk, "left")
        .select(
            "n_name",
            F.coalesce("order_cents", F.lit(0)).alias("order_cents"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("event_cents", F.lit(0)).alias("event_cents"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square distribution drift (first half vs second half)
# ---------------------------------------------------------------------------


@register(
    "ml_chi2_drift",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
cut AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS c FROM e),
counts AS (
  SELECT event_type,
         CAST(sum(CASE WHEN ts_us <  (SELECT c FROM cut) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN ts_us >= (SELECT c FROM cut) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cur
  FROM e GROUP BY event_type
),
tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM counts)
SELECT event_type, n_ref, n_cur,
       ((CAST(n_cur AS DOUBLE) / t_cur) - (CAST(n_ref AS DOUBLE) / t_ref))
         * ((CAST(n_cur AS DOUBLE) / t_cur) - (CAST(n_ref AS DOUBLE) / t_ref))
         / (CAST(n_ref AS DOUBLE) / t_ref) AS chi2_term
FROM counts CROSS JOIN tot
""",
)
def ml_chi2_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift test: the event-type mix of the stream's
    second half against its first half, as per-category chi-square
    terms ``(p_cur - p_ref)^2 / p_ref`` — the retrain-trigger /
    data-drift alarm (chi-square chosen over PSI because it is
    rational: no logarithms, so the statistic reproduces exactly from
    integer counts with one shared IEEE expression tree). One grouped
    pass with conditional sums — both halves counted in a single scan.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    b = e.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    cut = (b[0] + b[1]) // 2
    counts = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts_us") < cut, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("ts_us") >= cut, 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    return j.select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        ((p_cur - p_ref) * (p_cur - p_ref) / p_ref).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# Write-audit-publish (WAP) sink
# ---------------------------------------------------------------------------


@register(
    "maint_write_audit_publish",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_total,
       CAST(0 AS BIGINT) AS n_null_keys,
       TRUE AS published
FROM orders WHERE o_totalprice > 0
""",
)
def maint_write_audit_publish_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish: the batch lands in a STAGING directory,
    a data-quality audit runs against the staged files (row count,
    null keys, value bounds), and only on a clean audit does an atomic
    rename make the data visible at the published path — consumers
    never observe a half-written or failed-audit batch. This is the
    lakehouse WAP pattern (Iceberg stages it as a snapshot; on plain
    parquet the atomic unit is the directory swap). The audit reads
    the staged parquet itself — auditing the INPUT would miss writer
    bugs.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    workdir = tempfile.mkdtemp(prefix="wap_")
    try:
        staging = os.path.join(workdir, "_staging", "orders_batch")
        published = os.path.join(workdir, "published", "orders_batch")
        o.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        audit = staged.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("cents_total"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "n_null_keys"
            ),
            F.min("cents").alias("min_cents"),
        ).collect()[0]
        ok = audit["n_null_keys"] == 0 and audit["min_cents"] > 0
        if ok:
            os.makedirs(os.path.dirname(published), exist_ok=True)
            os.rename(staging, published)  # atomic publish
        out_path = published if ok else staging
        final = spark.read.parquet(out_path).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("cents_total"),
            F.lit(audit["n_null_keys"]).cast("long").alias("n_null_keys"),
            F.lit(ok).alias("published"),
        )
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
