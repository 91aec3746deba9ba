"""Data-pipeline queries, wave 58: corpus law fitting and arrival
burstiness.

- Zipf slope of the word-frequency distribution (log-log OLS over
  QUANTIZED log coordinates — integer moments, no float aggregation)
- inter-arrival coefficient of variation per user (event-level
  burstiness, the micro twin of the daily Fano factor)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Zipf slope
# ---------------------------------------------------------------------------
@register(
    "text_zipf_slope",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
t AS (SELECT word FROM tok WHERE word <> ''),
cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY word),
rk AS (
  SELECT CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS r, c
  FROM cnt
),
q AS (
  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM rk
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM q
)
SELECT n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
FROM m
""",
)
def text_zipf_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF slope of the corpus word-frequency distribution: OLS of
    ln(freq) on ln(rank) — natural language sits near −1, and a
    corpus whose slope drifts (synthetic boilerplate ≈ flat, OCR
    noise ≈ steep tail) fails the sanity screen before training.
    Float discipline: both log coordinates are QUANTIZED to int64
    micro-units per vocabulary row FIRST, so the OLS moments are
    exact integer sums (no float aggregation across the vocabulary —
    same trick as the Kaplan-Meier log cumsum); the closing slope is
    one pinned double combination. The micro quantization perturbs
    each coordinate by <1e-6, far below the fit's own noise.

    Scale: everything after the word-count collapse runs on the
    vocabulary-sized table."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    cnt = t.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # vocabulary-sized global rank — two-phase, chunked by the 2-char
    # word prefix (vocabulary grows with the corpus; same shape as
    # corpus_vocab_coverage_curve)
    rk = skew_resistant_rank(
        cnt, value="c", id_col="word", descending=True,
        chunk_col=F.substring("word", 1, 2), out="r",
    ).select(F.col("r").cast("long").alias("r"), "c")
    q = rk.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1000000)
        .cast("long")
        .alias("y"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        "n",
        (
            (n_d * F.col("sxy").cast("double") - sx_d * sy_d)
            / (n_d * F.col("sxx").cast("double") - sx_d * sx_d)
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival coefficient of variation
# ---------------------------------------------------------------------------
@register(
    "ts_interarrival_cv",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
),
d AS (
  SELECT user_id,
         ts_us - lag(ts_us) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
         ) AS gap_us
  FROM e
),
m AS (
  SELECT user_id,
         CAST(count(gap_us) AS BIGINT) AS n,
         CAST(sum(gap_us) AS BIGINT) AS s,
         CAST(sum(gap_us // 1000) AS BIGINT) AS sm,
         CAST(sum((gap_us // 1000) * (gap_us // 1000)) AS BIGINT) AS ssm
  FROM d GROUP BY user_id
  HAVING count(gap_us) >= 2
),
top AS (
  SELECT user_id, n, s,
         (CAST(n AS DOUBLE) * CAST(ssm AS DOUBLE)
            - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
         / (CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)) AS cv2
  FROM m
)
SELECT user_id, n, s AS total_gap_us,
       CAST(floor(cv2 * 1000000) AS BIGINT) AS cv2_micro
FROM top
ORDER BY cv2_micro DESC, user_id
LIMIT 50
""",
)
def ts_interarrival_cv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-ARRIVAL burstiness per user: the squared coefficient of
    variation of gaps between consecutive events — CV² = 1 for a
    Poisson process, ≫1 for bursty sessions, ≈0 for metronomic bots
    (this is the event-level twin of the daily ``a_fano_burstiness``,
    and the bot/burst screen that feeds rate limiting). Gaps come
    from one lag window per user; CV² = n·Σg² /(Σg)² − 1 computed as
    (n·Σg²−(Σg)²)/(Σg)² with gaps pre-scaled to MILLISECONDS so Σg²
    stays inside int64 at every bench scale; micro-grid output,
    top-50 burstiest users.

    Scale: one user_id shuffle for the lag window, one grouped
    moment pass, TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = e.select(
        "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    )
    gm = F.expr("gap_us div 1000")
    m = (
        d.groupBy("user_id")
        .agg(
            F.count("gap_us").cast("long").alias("n"),
            F.sum("gap_us").cast("long").alias("s"),
            F.sum(gm).cast("long").alias("sm"),
            F.sum(gm * gm).cast("long").alias("ssm"),
        )
        .filter(F.col("n") >= 2)
    )
    sm_d = F.col("sm").cast("double")
    cv2 = (F.col("n").cast("double") * F.col("ssm").cast("double") - sm_d * sm_d) / (
        sm_d * sm_d
    )
    return (
        m.select(
            "user_id",
            "n",
            F.col("s").alias("total_gap_us"),
            F.floor(cv2 * 1000000).cast("long").alias("cv2_micro"),
        )
        .orderBy(F.desc("cv2_micro"), "user_id")
        .limit(50)
    )
