"""Data-pipeline queries, wave 55: tokenizer budgeting and customer
segmentation.

- vocabulary coverage curve (top-m types vs token share — the vocab
  size/coverage trade every tokenizer budget decision reads)
- RFM quintile segmentation (recency/frequency/monetary scores via
  exact integer quintile math)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import (
    global_prefix_sum,
    skew_resistant_rank,
)
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Vocabulary coverage curve
# ---------------------------------------------------------------------------
@register(
    "corpus_vocab_coverage_curve",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
t AS (SELECT word FROM tok WHERE word <> ''),
cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY word),
rk AS (
  SELECT word, c,
         CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS r,
         CAST(sum(c) OVER (ORDER BY c DESC, word) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS total
  FROM cnt
),
grid AS (SELECT unnest([5, 10, 20, 30]) AS m)
SELECT CAST(grid.m AS BIGINT) AS vocab_size,
       CAST(max(rk.cum) AS BIGINT) AS tokens_covered,
       CAST(max(rk.total) AS BIGINT) AS tokens_total,
       CAST(max(rk.cum) AS DOUBLE) / CAST(max(rk.total) AS DOUBLE)
         AS coverage
FROM rk CROSS JOIN grid
WHERE rk.r <= grid.m
GROUP BY grid.m ORDER BY vocab_size
""",
)
def corpus_vocab_coverage_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE: what fraction of all tokens the
    top-m word types cover, at m ∈ {5,10,20,30} — the curve a
    tokenizer-budget decision reads (where it flattens is where
    bigger vocabs stop paying; the complement of ``text_oov_rate``
    at each budget). Types rank by (count DESC, word) — a total
    order — and each coverage point is an exact int64 cumulative
    divided once by the corpus token total.

    Scale: token counts collapse by word first (vocabulary-sized
    table); the rank/cumsum run there THROUGH the two-phase
    decompositions (``skew_resistant_rank`` chunked by word prefix +
    ``global_prefix_sum`` — the vocabulary grows with the corpus, so
    no single-partition window), and the 4-point grid is one grouped
    pass — same shape as the dedup threshold sweep: N budgets priced
    with one count."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    cnt = t.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("total"))
    # global (desc count, asc word) rank + cumsum over the
    # VOCABULARY-sized table — vocabulary grows with the corpus, so
    # both run through the two-phase decompositions: rank chunks by
    # the 2-char word prefix (monotone in word order), the cumsum
    # chunks by the dense rank it produces.
    rk = skew_resistant_rank(
        cnt, value="c", id_col="word", descending=True,
        chunk_col=F.substring("word", 1, 2), out="r",
    )
    rk = (
        global_prefix_sum(rk, id_col="r", value="c", out="cum")
        .join(F.broadcast(tot))
    )
    grid = spark.createDataFrame([(m,) for m in (5, 10, 20, 30)], "m long")
    return (
        rk.crossJoin(F.broadcast(grid))
        .filter(F.col("r") <= F.col("m"))
        .groupBy("m")
        .agg(
            F.max("cum").cast("long").alias("tokens_covered"),
            F.max("total").cast("long").alias("tokens_total"),
            (
                F.max("cum").cast("double") / F.max("total").cast("double")
            ).alias("coverage"),
        )
        .select(
            F.col("m").alias("vocab_size"),
            "tokens_covered",
            "tokens_total",
            "coverage",
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# RFM quintile segmentation
# ---------------------------------------------------------------------------
@register(
    "ts_rfm_segmentation",
    oracle="""
WITH sp AS (SELECT CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS t_end
            FROM orders),
base AS (
  SELECT o_custkey,
         CAST((t_end - max(epoch_us(o_orderdate))) // 86400000000 AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders CROSS JOIN sp
  GROUP BY o_custkey, t_end
),
n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
rk AS (
  SELECT o_custkey,
         CAST(row_number() OVER (ORDER BY recency_days, o_custkey)
              AS BIGINT) AS r_rank,
         CAST(row_number() OVER (ORDER BY frequency, o_custkey)
              AS BIGINT) AS f_rank,
         CAST(row_number() OVER (ORDER BY monetary_cents, o_custkey)
              AS BIGINT) AS m_rank
  FROM base
),
sc AS (
  SELECT 6 - ((r_rank * 5 - 1) // n + 1) AS r_score,
         (f_rank * 5 - 1) // n + 1 AS f_score,
         (m_rank * 5 - 1) // n + 1 AS m_score
  FROM rk CROSS JOIN n_t
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers
FROM sc GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def ts_rfm_segmentation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION: every customer scored 1-5 on Recency (5 =
    bought most recently), Frequency, and Monetary value by exact
    quintile rank — the classic marketing segmentation grid, output
    as cell counts (the 5-5-5 cell is your champions list, 1-\\*-\\*
    your churn risk). Quintile math is the same integer expression
    as the Lorenz deciles ((rank·5−1) div n + 1) over key-broken
    total orders — no ntile nondeterminism, no float boundary.

    Scale: one per-customer rollup, three rank passes over the
    customer-collapsed table — each RUNS via ``skew_resistant_rank``
    (two-phase, no single-partition window) — then a 125-cell
    rollup."""
    orders = load_table(spark, sf_dir, "orders")
    sp = orders.agg(
        F.max(F.unix_micros("o_orderdate")).cast("long").alias("t_end")
    )
    base = (
        orders.join(F.broadcast(sp))
        .groupBy("o_custkey", "t_end")
        .agg(
            F.expr(
                "cast((t_end - max(unix_micros(o_orderdate)))"
                " div 86400000000 as long)"
            ).alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    # r11 (guide §5 — cut lineage when the plan, not the data, is the
    # cost): three CHAINED two-phase ranks each reference their input
    # from A/B/C subplans, so without a cut the orders rollup subtree
    # replicates ~3^3 times through the nested decompositions — at
    # sf0.1 the wall was ~60 tiny stages of plan/scheduling overhead
    # (5.0 task-seconds under a 5.8 s wall). base is customer-scale
    # and narrow; one eager checkpoint bounds the replication.
    from stakehouse_etl_spark.caches import checkpoint_tracked

    base = checkpoint_tracked(base)
    n_t = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # three global row_numbers over the O(customers) table — each via
    # the two-phase decomposition, never a single-partition window
    rk = checkpoint_tracked(
        skew_resistant_rank(
            base, value="recency_days", id_col="o_custkey",
            descending=False, out="r_rank",
        )
    )
    rk = checkpoint_tracked(
        skew_resistant_rank(
            rk, value="frequency", id_col="o_custkey",
            descending=False, out="f_rank",
        )
    )
    rk = skew_resistant_rank(
        rk, value="monetary_cents", id_col="o_custkey",
        descending=False, out="m_rank",
    ).select("o_custkey", "r_rank", "f_rank", "m_rank")
    sc = rk.join(F.broadcast(n_t)).select(
        (6 - F.expr("(r_rank * 5 - 1) div n + 1")).alias("r_score"),
        F.expr("(f_rank * 5 - 1) div n + 1").alias("f_score"),
        F.expr("(m_rank * 5 - 1) div n + 1").alias("m_score"),
    )
    return (
        sc.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )
