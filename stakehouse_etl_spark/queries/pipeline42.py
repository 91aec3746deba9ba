"""Data-pipeline queries, wave 42: multimodal decode-analyze, corpus
induction, weighted order statistics.

- BMP per-channel histogram through the REAL codec (decode → bincount
  → global rollup), closed-form generative oracle
- corpus-adaptive stopword discovery (document-frequency induction)
- exact weighted median per group (integer cumulative-weight rule)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.multimodal import (
    bmp_channel_histogram,
    encode_bmp,
)
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# BMP channel histogram (decode → analyze)
# ---------------------------------------------------------------------------
@register(
    "mm_bmp_histogram",
    oracle="""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
  SELECT (xs.x * 3 + ys.y * 5 + d.doc_id) % 256 AS r,
         (xs.x * 7 + ys.y * 11 + 2 * d.doc_id) % 256 AS g,
         (xs.x * 13 + ys.y * 17 + 3 * d.doc_id) % 256 AS b
  FROM d, unnest(range(d.w)) AS xs(x), unnest(range(d.h)) AS ys(y)
),
u AS (
  SELECT r // 16 AS bin, 'r' AS ch FROM px
  UNION ALL SELECT g // 16, 'g' FROM px
  UNION ALL SELECT b // 16, 'b' FROM px
)
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(sum(CASE WHEN ch = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt,
       CAST(sum(CASE WHEN ch = 'g' THEN 1 ELSE 0 END) AS BIGINT) AS g_cnt,
       CAST(sum(CASE WHEN ch = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt
FROM u GROUP BY bin ORDER BY bin
""",
)
def mm_bmp_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide per-channel VALUE HISTOGRAM (16 bins) computed
    through the REAL BMP codec: encode → parse headers → strip row
    padding → vectorized ``np.bincount`` per channel inside the
    Arrow batch (``bmp_channel_histogram``) → global groupBy rollup.
    This is the brightness/exposure-distribution audit an image
    training pipeline runs before normalization; the oracle
    recomputes the generative pixel formula in SQL, so the whole
    decode path is value-checked end to end, not just plumbed.

    Scale: per-image work is linear in pixels and emits ≤ 16 rows
    per image regardless of resolution — the shuffle carries
    histograms, never pixels; the rollup is a 16-group partial
    aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = encode_bmp(docs)
    h = bmp_channel_histogram(media)
    return (
        h.groupBy("bin")
        .agg(
            F.sum("r_cnt").cast("long").alias("r_cnt"),
            F.sum("g_cnt").cast("long").alias("g_cnt"),
            F.sum("b_cnt").cast("long").alias("b_cnt"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Corpus-adaptive stopword discovery
# ---------------------------------------------------------------------------
@register(
    "text_stopword_discovery",
    oracle="""
WITH w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
),
t AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM w),
df AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df
  FROM w WHERE word <> '' GROUP BY word
)
SELECT word, df, n_docs,
       CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df_ratio,
       (df * 100 >= n_docs * 60) AS is_stop
FROM df, t
ORDER BY word
""",
)
def text_stopword_discovery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-ADAPTIVE stopword induction: flag words whose document
    frequency exceeds 60% of the corpus — the data-driven list that
    feeds RAKE phrase splitting (``text_rake_keywords``) and BM25's
    idf floor instead of a hand-curated language-specific set. The
    cutoff is integer cross-multiplied (df·100 ≥ n·60) so no float
    decides membership; df_ratio is display-only.

    Scale: distinct-(doc, word) collapse then a word-keyed count —
    vocabulary-sized output; the 1-row corpus count broadcasts."""
    w = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    t = w.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    df = w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        df.join(F.broadcast(t))
        .select(
            "word",
            "df",
            "n_docs",
            (F.col("df").cast("double") / F.col("n_docs").cast("double")).alias(
                "df_ratio"
            ),
            (F.col("df") * 100 >= F.col("n_docs") * 60).alias("is_stop"),
        )
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# Exact weighted median per group
# ---------------------------------------------------------------------------
@register(
    "a_weighted_median",
    oracle="""
WITH v AS (
  SELECT l_returnflag AS rf,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_quantity) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
),
s AS (
  SELECT rf, cents, w,
         CAST(sum(w) OVER (
           PARTITION BY rf ORDER BY cents, l_orderkey, l_linenumber
         ) AS BIGINT) AS cw
  FROM v
),
t AS (SELECT rf, CAST(sum(w) AS BIGINT) AS total_w FROM v GROUP BY rf)
SELECT s.rf, t.total_w,
       CAST(min(CASE WHEN 2 * s.cw >= t.total_w THEN s.cents END) AS BIGINT)
         AS median_cents
FROM s JOIN t ON s.rf = t.rf
GROUP BY s.rf, t.total_w
ORDER BY s.rf
""",
)
def a_weighted_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median of line price per return flag, weighted
    by quantity — "the price at which half the shipped units are
    cheaper", which is what pricing dashboards actually want (the
    unweighted median over-counts small orders;
    ``a_median_exact_global`` is the unweighted cousin). Selection
    rule: smallest value whose cumulative weight reaches half the
    total, decided by the INTEGER comparison 2·cw ≥ W — no float,
    no interpolation, ties totally ordered by (value, orderkey,
    linenumber).

    Scale: the cumulative window partitions on the 3-value return
    flag — low-cardinality by nature, so at 100 TB this decomposes
    exactly like the chunked prefix (``global_prefix_sum`` per flag
    over the value-collapsed table); documented ceiling, not a
    silent one."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    win = (
        Window.partitionBy("rf")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = v.withColumn("cw", F.sum("w").over(win).cast("long"))
    t = v.groupBy("rf").agg(F.sum("w").cast("long").alias("total_w"))
    return (
        s.join(t, "rf")
        .groupBy("rf", "total_w")
        .agg(
            F.min(F.when(2 * F.col("cw") >= F.col("total_w"), F.col("cents")))
            .cast("long")
            .alias("median_cents")
        )
        .orderBy("rf")
    )
