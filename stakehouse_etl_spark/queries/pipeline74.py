"""Data-pipeline queries, wave 74: hybrid retrieval fusion (RRF).

Production RAG retrieval runs BOTH arms this repo already ships —
lexical BM25 (``text_bm25_topk``) and dense cosine top-k
(``sim_cosine_topk``) — and fuses their rankings with Reciprocal
Rank Fusion (Cormack et al. 2009): score(d) = Σ_arms 1/(K + rank_d),
K = 60. RRF needs no score calibration between arms (ranks only),
which is exactly why it is the default fusion everywhere.

Exactness contract: both arm oracles are nested VERBATIM (the
``sim_ivf_recall_eval`` pattern — the fusion is definitionally
consistent with what the registered arms compute), the two
reciprocal terms are added in fixed order, and the fused score is
emitted on the int64 nano-grid per the repo's micro/nano-grid
convention (PLANS.md).

Scale shape: each arm is its own already-laddered plan (BM25: one
per-doc shuffle + TakeOrdered; cosine: broadcast queries over one
scan). The fusion itself touches 2×k rank rows — a full outer join
on doc_id over bounded lists; at 100 TB the arms dominate and the
fusion is metadata-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.queries.registry import register

RRF_K = 60
_SEM_QUERY_ID = 0  # the dense arm's query vector (vec_id 0)


def _hybrid_rrf_sql() -> str:
    """Both arms ARE the registered oracles of ``text_bm25_topk`` /
    ``sim_cosine_topk`` (verbatim, as nested CTEs)."""
    from stakehouse_etl_spark.queries.registry import QUERIES as _Q

    lex = _Q["text_bm25_topk"].oracle
    sem = _Q["sim_cosine_topk"].oracle
    return f"""
WITH lex AS ({lex}),
sem AS ({sem}),
lex0 AS (SELECT doc_id, CAST(rnk AS BIGINT) AS lex_rank FROM lex),
sem0 AS (
  SELECT cand_id AS doc_id, CAST(rank AS BIGINT) AS sem_rank
  FROM sem WHERE query_id = {_SEM_QUERY_ID}
),
u AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank
  FROM lex0 l FULL JOIN sem0 s ON l.doc_id = s.doc_id
),
sc AS (
  SELECT doc_id, lex_rank, sem_rank,
         CAST(floor((coalesce(1.0::DOUBLE / ({RRF_K} + lex_rank), 0.0::DOUBLE)
                     + coalesce(1.0::DOUBLE / ({RRF_K} + sem_rank), 0.0::DOUBLE))
                    * 1000000000) AS BIGINT) AS rrf_nano
  FROM u
)
SELECT doc_id, lex_rank, sem_rank, rrf_nano,
       CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM sc
"""


@register(
    "sim_hybrid_rrf_topk",
    oracle=_hybrid_rrf_sql(),
)
def sim_hybrid_rrf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of the lexical and dense retrieval arms:
    the registered BM25 top-10 (fixed 3-term query) and the registered
    cosine top-10 for query vector 0 fuse into one ranking via
    1/(60+r_lex) + 1/(60+r_sem) — a doc present in only one arm gets
    the other term as 0. Both arms run EXACTLY as their registered
    queries (same functions), so the fusion cannot drift from what the
    arms ship; vec_id and doc_id share the id space in the synthetic
    tables (the deployment contract is "the embedding row carries the
    document's id").

    The reciprocal terms are added in fixed left-to-right order and
    the fused score lands on the int64 nano-grid, so the value-hash
    gate holds cross-engine; ties (both-arms-absent is impossible in
    the union) break on doc_id.
    """
    from stakehouse_etl_spark.queries.datapipe import sim_cosine_topk_q
    from stakehouse_etl_spark.queries.pipeline20 import text_bm25_topk_q

    lex = text_bm25_topk_q(spark, sf_dir).select(
        "doc_id", F.col("rnk").cast("long").alias("lex_rank")
    )
    sem = (
        sim_cosine_topk_q(spark, sf_dir)
        .filter(F.col("query_id") == _SEM_QUERY_ID)
        .select(
            F.col("cand_id").alias("doc_id"),
            F.col("rank").cast("long").alias("sem_rank"),
        )
    )
    u = lex.join(sem, "doc_id", "full_outer")
    term = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(RRF_K) + F.col(r)), F.lit(0.0)
    )
    sc = u.withColumn(
        "rrf_nano",
        F.floor((term("lex_rank") + term("sem_rank")) * 1_000_000_000).cast(
            "long"
        ),
    )
    # BOUNDED-GLOBAL-WINDOW EXEMPTION (ADVICE r5): Window.orderBy
    # without partitionBy plans a single-partition sort, which the
    # repo's convention forbids on row-scale data — but this input is
    # the full outer join of two top-k lists (<= 2k = 20 rows by
    # construction: both arms emit rank <= 10), i.e. metadata-sized at
    # any corpus scale, same class as the other documented bounded
    # global sorts (pipeline31.py, pipeline17.py:1410). Covered by
    # test_plan_shapes.py::test_rrf_global_window_is_k_bounded.
    w = Window.orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
    return sc.select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        "rrf_nano",
        F.row_number().over(w).cast("long").alias("fused_rank"),
    )
