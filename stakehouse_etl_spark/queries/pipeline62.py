"""Data-pipeline queries, wave 62: per-class classifier scoring.

- exact per-class precision / recall / F1 for the langid classifier
  (F1 = 2TP/(2TP+FP+FN) is a pure integer ratio — no harmonic-mean
  float chain)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.pipeline5 import _langid_pred_sql
from stakehouse_etl_spark.queries.registry import register


@register(
    "ml_f1_per_class",
    oracle=f"""
WITH {_langid_pred_sql()},
cls AS (SELECT DISTINCT lang AS k FROM pred),
m AS (
  SELECT cls.k,
         CAST((SELECT count(*) FROM pred
                WHERE lang = cls.k AND lang_pred = cls.k) AS BIGINT) AS tp,
         CAST((SELECT count(*) FROM pred
                WHERE lang <> cls.k AND lang_pred = cls.k) AS BIGINT) AS fp,
         CAST((SELECT count(*) FROM pred
                WHERE lang = cls.k AND lang_pred <> cls.k) AS BIGINT) AS fn
  FROM cls
)
SELECT k AS lang, tp, fp, fn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END
         AS f1
FROM m ORDER BY lang
""",
)
def ml_f1_per_class_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the langid classifier —
    the breakdown the single-number kappa (``ml_cohens_kappa``) and
    the raw confusion matrix (``ml_confusion_langid``) bracket from
    either side. F1 is computed as the INTEGER identity
    2TP/(2TP+FP+FN) — one division — instead of the textbook
    harmonic mean of two already-divided floats, so there is no
    chained float arithmetic to disagree on; NULL (not 0) when a
    class was never predicted, mirroring the SQL aggregate
    convention pinned by ``f16_null_agg_kernel``.

    Scale: the confusion cells are one grouped pass over the scored
    corpus; the per-class pivot is |langs|-sized."""
    from stakehouse_etl_spark.operators.text import langid

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = langid(docs).select("lang", "lang_pred")
    per = pred.groupBy("lang").agg(
        F.sum((F.col("lang_pred") == F.col("lang")).cast("long"))
        .cast("long")
        .alias("tp"),
        F.sum((F.col("lang_pred") != F.col("lang")).cast("long"))
        .cast("long")
        .alias("fn"),
    )
    fp = (
        pred.filter(F.col("lang") != F.col("lang_pred"))
        .groupBy(F.col("lang_pred").alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("fp"))
    )
    m = per.join(fp, "lang", "left").select(
        "lang",
        "tp",
        F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
        "fn",
    )
    return m.select(
        "lang",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
        ).alias("f1"),
    ).orderBy("lang")
