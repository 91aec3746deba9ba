"""Data-pipeline queries, wave 5: retrieval / classifier evaluation
primitives and explicit GROUPING SETS.

Evaluation is as much a pipeline stage as transformation: a corpus
team measures retrieval quality (precision@k over an ANN index),
classifier drift (confusion matrices), and multi-level rollups
(grouping sets) on every refresh. Exact-value oracles throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators import similarity as sim
from stakehouse_etl_spark.queries.datapipe import _QUANT_EMB
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Retrieval eval: label precision@10 over brute-force cosine top-k
# ---------------------------------------------------------------------------

_N_QUERIES = 50


@register(
    "ml_knn_label_precision",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {_QUANT_EMB} AS qe FROM embeddings),
n AS (SELECT vec_id, label, qe,
             list_sum(list_transform(qe, x -> x * x)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, label AS q_label, qe AS q_emb, nrm AS q_norm
      FROM n WHERE vec_id < {_N_QUERIES}),
p AS (
  SELECT q.query_id, q.q_label, c.label AS c_label,
         CAST(list_dot_product(q.q_emb, c.qe) AS DOUBLE)
           / (sqrt(CAST(q.q_norm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos_sim,
         c.vec_id AS cand_id
  FROM n c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM p
)
SELECT query_id, CAST(q_label AS BIGINT) AS label,
       CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) / 10.0 AS precision_at_10
FROM r WHERE rank <= 10
GROUP BY query_id, q_label
""",
)
def ml_knn_label_precision_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation: label precision@10 for the first 50
    vectors as queries — of each query's 10 nearest neighbors (exact
    quantized cosine, self excluded), how many share its label. The
    eval loop every embedding/ANN-index refresh runs; top-k reuses the
    broadcast-query brute-force kernel (scan-shaped; the ANN tiers
    answer the same question approximately at 100 TB, and THIS query
    is how their recall is scored).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    topk = sim.cosine_topk(emb, query_ids=list(range(_N_QUERIES)), k=10)
    labels = emb.select("vec_id", "label")
    q_lab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    c_lab = labels.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    hit = F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
    return (
        topk.join(F.broadcast(q_lab), "query_id")
        .join(F.broadcast(c_lab), "cand_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.sum(hit).cast("long").alias("hits"),
            (F.sum(hit) / 10.0).alias("precision_at_10"),
        )
        .select(
            "query_id",
            F.col("q_label").cast("long").alias("label"),
            "hits",
            "precision_at_10",
        )
    )


# ---------------------------------------------------------------------------
# Classifier eval: language-ID confusion matrix
# ---------------------------------------------------------------------------


def _langid_pred_sql() -> str:
    from stakehouse_etl_spark.operators.text import LANG_STOPWORDS

    score_exprs = ",\n         ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)}))) AS score_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    best = f"greatest({', '.join('score_' + l for l in langs)})"
    case = "CASE "
    for lang in langs:
        case += f"WHEN score_{lang} > 0 AND score_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
t AS (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents),
sc AS (SELECT doc_id, lang, {score_exprs} FROM t),
pred AS (SELECT doc_id, lang, {case} AS lang_pred FROM sc)
"""


@register(
    "ml_confusion_langid",
    oracle=f"""
WITH {_langid_pred_sql()}
SELECT lang AS actual, lang_pred AS predicted,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
""",
)
def ml_confusion_langid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-drift evaluation: the confusion matrix of the
    language-ID heuristic against the labeled ``lang`` column — the
    per-refresh QA table for any tagging stage. One scan + one tiny
    grouped count (cells ≤ |langs|²); the langid scoring itself is
    the already-oracle-checked kernel."""
    from stakehouse_etl_spark.operators.text import langid

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = langid(docs)
    return (
        pred.groupBy(
            F.col("lang").alias("actual"), F.col("lang_pred").alias("predicted")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping flags
# ---------------------------------------------------------------------------


@register(
    "a_grouping_sets",
    oracle="""
SELECT r_name, c_mktsegment,
       CAST(grouping(r_name) AS BIGINT) * 2
         + CAST(grouping(c_mktsegment) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
""",
)
def a_grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind CUBE/ROLLUP
    (both already covered): region×segment detail, region subtotals,
    and the grand total in ONE aggregation pass (Catalyst expands the
    sets into a single Expand + hash aggregate, not three scans).
    ``gid`` disambiguates subtotal rows from genuine NULL groups.
    Money through integer cents, per the parity rules.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    joined.createOrReplaceTempView("gs_input")
    return joined.sparkSession.sql(
        """
        SELECT r_name, c_mktsegment,
               CAST(grouping(r_name) AS BIGINT) * 2
                 + CAST(grouping(c_mktsegment) AS BIGINT) AS gid,
               count(*) AS n_customers,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS acctbal_cents
        FROM gs_input
        GROUP BY r_name, c_mktsegment GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
        """
    )
