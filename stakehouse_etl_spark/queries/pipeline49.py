"""Data-pipeline queries, wave 49: as-of completion and inter-rater
agreement.

- nearest as-of (both directions, deterministic tie rule) — closes
  the as-of family: backward j9, tolerance j12, forward j25, nearest
- exact Cohen's kappa for the langid classifier (integer rational)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.pipeline5 import _langid_pred_sql
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Nearest as-of
# ---------------------------------------------------------------------------
@register(
    "j29_asof_nearest",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
),
w AS (
  SELECT user_id, event_id, ts_us,
         CAST(max(CASE WHEN event_type = 'signup' THEN ts_us END) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS prev_su,
         CAST(min(CASE WHEN event_type = 'signup' THEN ts_us END) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS BIGINT) AS next_su
  FROM e
)
SELECT user_id, event_id, ts_us,
       CAST(CASE
         WHEN prev_su IS NULL THEN next_su
         WHEN next_su IS NULL THEN prev_su
         WHEN ts_us - prev_su <= next_su - ts_us THEN prev_su
         ELSE next_su END AS BIGINT) AS nearest_signup_us,
       CASE
         WHEN prev_su IS NULL AND next_su IS NULL THEN NULL
         WHEN prev_su IS NULL THEN 'next'
         WHEN next_su IS NULL THEN 'prev'
         WHEN ts_us - prev_su <= next_su - ts_us THEN 'prev'
         ELSE 'next' END AS direction
FROM w
""",
)
def j29_asof_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of: for every event, the closest signup in EITHER
    direction for the same user, ties resolved to the earlier one —
    the fourth and final member of the as-of family (backward ``j9``,
    backward-with-tolerance ``j12``, forward ``j25``). Both candidate
    pickers are conditional extremes over opposite window frames on
    ONE sorted pass — still a single user_id shuffle, no join; the
    tie rule is an integer distance comparison, so direction never
    depends on a float.

    Scale: identical plan shape to the forward as-of — one Exchange +
    Sort feeding two frame-opposed WindowExecs."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    base = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # r11: MIN is order-independent — the forward extreme runs over
    # the REVERSED total order with an incremental preceding frame
    # (identical "current row onward" contents) instead of Spark's
    # O(rows²) unbounded-following frame evaluation.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_us"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    su = F.when(F.col("event_type") == "signup", F.col("ts_us"))
    w = e.select(
        "user_id",
        "event_id",
        "ts_us",
        F.max(su).over(wb).cast("long").alias("prev_su"),
        F.min(su).over(wf).cast("long").alias("next_su"),
    )
    prev_d = F.col("ts_us") - F.col("prev_su")
    next_d = F.col("next_su") - F.col("ts_us")
    return w.select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(F.col("prev_su").isNull(), F.col("next_su"))
        .when(F.col("next_su").isNull(), F.col("prev_su"))
        .when(prev_d <= next_d, F.col("prev_su"))
        .otherwise(F.col("next_su"))
        .cast("long")
        .alias("nearest_signup_us"),
        F.when(
            F.col("prev_su").isNull() & F.col("next_su").isNull(),
            F.lit(None).cast("string"),
        )
        .when(F.col("prev_su").isNull(), F.lit("next"))
        .when(F.col("next_su").isNull(), F.lit("prev"))
        .when(prev_d <= next_d, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# Exact Cohen's kappa
# ---------------------------------------------------------------------------
@register(
    "ml_cohens_kappa",
    oracle=f"""
WITH {_langid_pred_sql()},
n_t AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT)
           AS diag
  FROM pred
),
rows_t AS (
  SELECT lang AS k, CAST(count(*) AS BIGINT) AS r FROM pred GROUP BY lang
),
cols_t AS (
  SELECT lang_pred AS k, CAST(count(*) AS BIGINT) AS c
  FROM pred GROUP BY lang_pred
),
rc AS (
  SELECT CAST(coalesce(sum(rows_t.r * cols_t.c), 0) AS BIGINT) AS src
  FROM rows_t JOIN cols_t ON rows_t.k = cols_t.k
)
SELECT n, diag, src,
       n * diag - src AS kappa_num,
       n * n - src AS kappa_den,
       CAST(n * diag - src AS DOUBLE) / CAST(n * n - src AS DOUBLE) AS kappa
FROM n_t, rc
""",
)
def ml_cohens_kappa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Cohen's kappa between the langid classifier and the
    labeled languages — chance-corrected agreement, the number that
    separates "94% accurate" from "94% accurate on a 94%-majority
    class". Uses the integer identity κ = (n·diag − Σ r_k·c_k) /
    (n² − Σ r_k·c_k): observed and expected agreement share the same
    denominator, so the whole statistic is one int64 rational with a
    single division at the edge — no intermediate probabilities.

    Scale: the langid scoring is the existing per-row kernel; kappa
    needs only the marginal count tables (|langs| rows each) joined
    on the label key."""
    from stakehouse_etl_spark.operators.text import langid

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = langid(docs).select("lang", "lang_pred")
    n_t = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("lang") == F.col("lang_pred")).cast("long"))
        .cast("long")
        .alias("diag"),
    )
    rows_t = pred.groupBy(F.col("lang").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    cols_t = pred.groupBy(F.col("lang_pred").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rc = (
        rows_t.join(cols_t, "k")
        .agg(
            F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0))
            .cast("long")
            .alias("src")
        )
    )
    return (
        n_t.join(F.broadcast(rc))
        .select(
            "n",
            "diag",
            "src",
            (F.col("n") * F.col("diag") - F.col("src")).alias("kappa_num"),
            (F.col("n") * F.col("n") - F.col("src")).alias("kappa_den"),
            (
                (F.col("n") * F.col("diag") - F.col("src")).cast("double")
                / (F.col("n") * F.col("n") - F.col("src")).cast("double")
            ).alias("kappa"),
        )
    )
