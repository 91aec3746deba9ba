"""Data-pipeline queries, wave 53: retrieval curves and filter
attribution.

- micro-averaged precision/recall@k curve (k = 1..10, exact integer
  ratios from the ranked retrieval flags)
- corpus filter attribution: the 2×2 quality × dedup interaction
  matrix (which filter actually does the work)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators import similarity as sim
from stakehouse_etl_spark.queries.datapipe import _QUANT_EMB
from stakehouse_etl_spark.queries.registry import register

_N_QUERIES = 50


# ---------------------------------------------------------------------------
# Precision/recall@k curve
# ---------------------------------------------------------------------------
@register(
    "ml_pr_curve_at_k",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {_QUANT_EMB} AS qe FROM embeddings),
n AS (SELECT vec_id, label, qe,
             list_sum(list_transform(qe, x -> x * x)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, label AS q_label, qe AS q_emb, nrm AS q_norm
      FROM n WHERE vec_id < {_N_QUERIES}),
rel AS (
  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel
  FROM n c JOIN q ON c.label = q.q_label AND c.vec_id <> q.query_id
  GROUP BY q.query_id
),
p AS (
  SELECT q.query_id, q.q_label, c.label AS c_label,
         CAST(list_dot_product(q.q_emb, c.qe) AS DOUBLE)
           / (sqrt(CAST(q.q_norm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE)))
           AS cos_sim,
         c.vec_id AS cand_id
  FROM n c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
r AS (
  SELECT query_id, q_label, c_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM p
),
grid AS (SELECT unnest(range(1, 11)) AS k),
agg AS (
  SELECT grid.k,
         CAST(sum(CASE WHEN r.c_label = r.q_label THEN 1 ELSE 0 END)
              AS BIGINT) AS tp
  FROM r CROSS JOIN grid
  WHERE r.rank <= grid.k
  GROUP BY grid.k
),
tot AS (SELECT CAST(sum(n_rel) AS BIGINT) AS total_rel FROM rel)
SELECT CAST(k AS BIGINT) AS k, tp, total_rel,
       CAST(tp AS DOUBLE) / CAST(k * {_N_QUERIES} AS DOUBLE) AS precision_at_k,
       CAST(tp AS DOUBLE) / CAST(total_rel AS DOUBLE) AS recall_at_k
FROM agg CROSS JOIN tot ORDER BY k
""",
)
def ml_pr_curve_at_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-averaged PRECISION/RECALL@k curve for k = 1..10 over the
    label-match retrieval task — the full operating curve behind the
    single-point precision@10 (``ml_knn_label_precision``) and the
    rank-weighted nDCG (``ml_ndcg_at_10``): precision falls and
    recall rises as k grows, and where they cross is the k an index
    should serve. Every point is an exact integer ratio: tp summed
    over queries at each cutoff, divided by k·|Q| (precision) and by
    the true relevant-pair count (recall) — one division each, no
    float accumulation.

    Scale: ranks come once from the broadcast brute-force kernel;
    the 10-cutoff grid is a broadcast cross join collapsed in a
    single grouped pass — ten operating points, one scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    topk = sim.cosine_topk(emb, query_ids=list(range(_N_QUERIES)), k=10)
    labels = emb.select("vec_id", "label")
    q_lab = labels.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    c_lab = labels.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    ranked = topk.join(F.broadcast(q_lab), "query_id").join(
        F.broadcast(c_lab), "cand_id"
    )
    rel = (
        labels.select(F.col("label").alias("c_label"), "vec_id")
        .join(F.broadcast(q_lab), F.col("c_label") == F.col("q_label"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("total_rel"))
    )
    grid = spark.range(1, 11).select(F.col("id").alias("k"))
    agg = (
        ranked.crossJoin(F.broadcast(grid))
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum((F.col("c_label") == F.col("q_label")).cast("long"))
            .cast("long")
            .alias("tp")
        )
    )
    return (
        agg.join(F.broadcast(rel))
        .select(
            "k",
            "tp",
            "total_rel",
            (
                F.col("tp").cast("double")
                / (F.col("k") * _N_QUERIES).cast("double")
            ).alias("precision_at_k"),
            (F.col("tp").cast("double") / F.col("total_rel").cast("double")).alias(
                "recall_at_k"
            ),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Filter attribution matrix
# ---------------------------------------------------------------------------
@register(
    "corpus_filter_attribution",
    oracle="""
WITH f AS (
  SELECT doc_id,
         (n_chars >= 250) AS pass_quality,
         (doc_id = min(doc_id) OVER (
            PARTITION BY md5(regexp_replace(lower(trim(text)),
                                            '\\s+', ' ', 'g'))
          )) AS pass_dedup
  FROM documents
)
SELECT pass_quality, pass_dedup,
       CAST(count(*) AS BIGINT) AS n_docs
FROM f GROUP BY pass_quality, pass_dedup
ORDER BY pass_quality, pass_dedup
""",
)
def corpus_filter_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER ATTRIBUTION for the corpus-clean pipeline: the 2×2
    matrix of (passes quality) × (survives exact dedup) — the audit
    that says which stage actually removes data and how much they
    OVERLAP (docs failing both are cheap to drop early; docs failing
    only dedup justify the expensive tier). The dedup flag is the
    canonical keep-min-id rule over the normalized-text fingerprint,
    exactly the ``dedup_exact`` semantics re-expressed as a window
    flag so both filters evaluate in ONE pass.

    Scale: one fingerprint window (partition = duplicate cluster,
    bounded) + a 4-group aggregate; no joins."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    w = Window.partitionBy(fp)
    f = docs.select(
        (F.col("n_chars") >= 250).alias("pass_quality"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("pass_dedup"),
    )
    return (
        f.groupBy("pass_quality", "pass_dedup")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("pass_quality", "pass_dedup")
    )
