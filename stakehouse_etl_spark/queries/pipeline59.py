"""Data-pipeline queries, wave 59: dedup observability and intra-row
consistency.

- duplicate-cluster size histogram (the shape of the dedup problem)
- cross-field consistency audit (stored n_chars vs actual length)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram
# ---------------------------------------------------------------------------
@register(
    "dedup_cluster_size_histogram",
    oracle="""
WITH fp AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
),
cl AS (SELECT f, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY f),
h AS (
  SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
  FROM cl GROUP BY sz
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM fp)
SELECT sz AS cluster_size, n_clusters,
       sz * n_clusters AS n_docs_in_size,
       CAST(sz * n_clusters AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS doc_share
FROM h CROSS JOIN t
ORDER BY cluster_size
""",
)
def dedup_cluster_size_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-CLUSTER SIZE HISTOGRAM over the exact-dedup
    fingerprint: how many clusters of size 1 (unique), 2, 3, … — the
    SHAPE of the dedup problem that a single dedup-rate number hides
    (a few mega-clusters vs many pairs need different tiers: the
    mega-cluster tail is exactly what the LSH band caps defend
    against, and this histogram is the evidence for sizing them).
    Exact integer counts, one share division per row.

    Scale: two grouped passes (fingerprint collapse, then size
    rollup) — the second input is cluster-count-sized."""
    fp = load_table(spark, sf_dir, "documents").select(
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")).alias("f")
    )
    cl = fp.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    h = cl.groupBy("sz").agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    t = fp.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        h.join(F.broadcast(t))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs_in_size"),
            (
                (F.col("sz") * F.col("n_clusters")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Cross-field consistency audit
# ---------------------------------------------------------------------------
@register(
    "dq_crossfield_consistency",
    oracle="""
WITH c AS (
  SELECT (n_chars = len(text)) AS len_ok,
         (lang IN ('de', 'en', 'es', 'fr', 'zh')) AS lang_ok,
         (n_chars > 0) AS nonempty_ok
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
       CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       CAST(sum(CASE WHEN nonempty_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonempty,
       CAST(sum(CASE WHEN len_ok AND lang_ok AND nonempty_ok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_all_ok
FROM c
""",
)
def dq_crossfield_consistency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FIELD consistency audit: does the STORED ``n_chars``
    equal the actual text length, is ``lang`` in its documented
    domain, is the document non-empty — the intra-row invariants
    that column-level profiling (``dq_column_profile``) cannot see
    because they relate fields to each other. Derived columns that
    drift from their source (a stale n_chars after a text rewrite)
    are the classic silent corruption this catches per batch.

    Scale: single scan, conditional counts, map-side combine."""
    c = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") == F.length("text")).alias("len_ok"),
        F.col("lang").isin("de", "en", "es", "fr", "zh").alias("lang_ok"),
        (F.col("n_chars") > 0).alias("nonempty_ok"),
    )
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("len_ok").cast("long")).cast("long").alias("n_len_ok"),
        F.sum(F.col("lang_ok").cast("long")).cast("long").alias("n_lang_ok"),
        F.sum(F.col("nonempty_ok").cast("long")).cast("long").alias("n_nonempty"),
        F.sum(
            (F.col("len_ok") & F.col("lang_ok") & F.col("nonempty_ok")).cast("long")
        )
        .cast("long")
        .alias("n_all_ok"),
    )
