"""Data-pipeline queries, wave 25: mergeable-state contracts and
budgeted selection.

- incremental top-k maintenance (union-of-partial-top-k == global)
- co-occurrence graph degree distribution
- token-budget greedy corpus trim (quality-ordered prefix sum)
- boolean aggregate family (count_if / any / every)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out, token_count
from stakehouse_etl_spark.operators.windows import (
    global_prefix_sum,
    skew_resistant_rank,
)
from stakehouse_etl_spark.queries.registry import register

TOPK = 10


# ---------------------------------------------------------------------------
# Incremental top-k maintenance (mergeable partial top-k)
# ---------------------------------------------------------------------------
@register(
    "inc_topk_merge",
    oracle=f"""
SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(row_number() OVER (
         ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
       ) AS BIGINT) AS rnk,
       true AS merge_equals_whole
FROM orders
ORDER BY cents DESC, o_orderkey LIMIT {TOPK}
""",
)
def inc_topk_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance, with the mergeability PROOF run
    in-query: keep only each day-partition's local top-{TOPK}, merge
    those partial lists, and the global top-{TOPK} of the merged set
    must equal the top-{TOPK} of the full table — true because every
    global top-k row is necessarily in its own partition's top-k. This
    is how a 100 TB leaderboard (reference W4's top-7) stays
    incremental: each new day folds in as one k-row list against the
    retained k-row state, and history is never re-scanned. The oracle
    pins the whole-table answer; the query computes BOTH paths and
    emits the merged one plus the equality verdict."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("day"),
    )
    w_day = Window.partitionBy("day").orderBy(
        F.desc("cents"), F.asc("o_orderkey")
    )
    partial = (
        o.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= TOPK)
        .drop("rn", "day")
    )
    merged = partial.orderBy(F.desc("cents"), F.asc("o_orderkey")).limit(TOPK)
    whole = (
        o.select("o_orderkey", "cents")
        .orderBy(F.desc("cents"), F.asc("o_orderkey"))
        .limit(TOPK)
    )
    m_keys = [r["o_orderkey"] for r in merged.collect()]
    w_keys = [r["o_orderkey"] for r in whole.collect()]
    verdict = m_keys == w_keys
    w = Window.orderBy(F.desc("cents"), F.asc("o_orderkey"))
    return (
        merged.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("merge_equals_whole", F.lit(verdict))
    )


# ---------------------------------------------------------------------------
# Degree distribution of the co-occurrence graph
# ---------------------------------------------------------------------------
@register(
    "graph_degree_distribution",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY 1
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
""",
)
def graph_degree_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph — the first
    thing to look at before running ANY pairwise algorithm at 100 TB,
    because a power-law tail (one node in millions of edges) is
    exactly what blows up self-joins (the LSH hot-bucket problem in
    graph form). Distinct edges → symmetric endpoint explode → degree
    per node → histogram; three grouped aggregations, each shrinking
    the data, no windows. The histogram is |distinct degrees| rows —
    the monitoring table a skew-aware scheduler reads."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    nodes = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# Token-budget corpus trim (greedy quality-ordered selection)
# ---------------------------------------------------------------------------
TOKEN_BUDGET = 20_000


@register(
    "corpus_token_budget_trim",
    oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)),
              '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
  FROM d
),
c AS (
  SELECT *, sum(n_tok) OVER (ORDER BY rnk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM r
)
SELECT doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= {TOKEN_BUDGET}
""",
)
def corpus_token_budget_trim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the best documents that FIT A TOKEN BUDGET: order by a
    quality proxy (n_chars, ties by id), take the maximal prefix whose
    cumulative token count stays under the budget — the dataset-
    curation step that turns "we crawled 10 T tokens" into "train on
    these 1 T". Both the global rank AND the running token sum use the
    engine's two-phase chunked decompositions (``skew_resistant_rank``
    + ``global_prefix_sum``), so no single-partition window exists at
    any scale — the oracle's textbook windows are exactly what this
    plan refuses to run."""
    # r11 (guide §5/§1.2): d feeds the rank's A/B/C subplans and the
    # rank feeds the prefix-sum's — without cuts the tokenizing
    # token_count split re-ran ~9× per doc (real CPU, not just plan
    # overhead). Both frames are narrow (three/four numeric cols).
    from stakehouse_etl_spark.caches import checkpoint_tracked

    d = checkpoint_tracked(
        fan_out(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "n_chars", token_count(F.col("text")).alias("n_tok")
        )
    )
    ranked = checkpoint_tracked(
        skew_resistant_rank(d, "n_chars", "doc_id", out="rnk", descending=True)
    )
    cum = global_prefix_sum(
        ranked, id_col="rnk", value="n_tok", out="cum_tok", inclusive=True
    )
    return (
        cum.filter(F.col("cum_tok") <= TOKEN_BUDGET)
        .select("doc_id", "n_tok", F.col("cum_tok").cast("long").alias("cum_tok"))
    )


# ---------------------------------------------------------------------------
# Boolean aggregate family
# ---------------------------------------------------------------------------
@register(
    "a_bool_agg_family",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT)
         AS n_big_qty,
       bool_or(l_discount > 0.05) AS any_high_discount,
       bool_and(l_extendedprice > 0) AS every_price_positive
FROM lineitem GROUP BY l_returnflag
""",
)
def a_bool_agg_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean-aggregate surface — ``count_if``, ``any``/bool_or,
    ``every``/bool_and — the idiomatic form of data-quality assertions
    ("does ANY row violate X", "do ALL rows satisfy Y") that otherwise
    get written as count(CASE...) chains. All three fold map-side into
    1-bit/8-byte state per group; `every_price_positive` is the
    grouped rendering of a Deequ-style constraint (cf. the engine's
    ``dq_constraint_report``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") >= 25).alias("n_big_qty"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_high_discount"),
        F.bool_and(F.col("l_extendedprice") > 0).alias(
            "every_price_positive"
        ),
    )
