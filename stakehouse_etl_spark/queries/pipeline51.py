"""Data-pipeline queries, wave 51: ranking-quality and local graph
structure.

- exact nDCG@10 over the brute-force retrieval ranks (pinned-order
  literal discounts — no float aggregation across rows)
- local clustering coefficient (per-node triangles / wedges)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators import similarity as sim
from stakehouse_etl_spark.queries.datapipe import _QUANT_EMB
from stakehouse_etl_spark.queries.registry import register

_N_QUERIES = 50

_DISC = {
    1: "1.0",
    2: "0.6309297535714575",
    3: "0.5",
    4: "0.43067655807339306",
    5: "0.38685280723454163",
    6: "0.3562071871080222",
    7: "0.3333333333333333",
    8: "0.31546487678572877",
    9: "0.3010299956639812",
    10: "0.2890648263178879",
}
_IDCG = {
    1: "1.0",
    2: "1.6309297535714575",
    3: "2.1309297535714578",
    4: "2.5616063116448506",
    5: "2.9484591188793923",
    6: "3.3046663059874146",
    7: "3.637999639320748",
    8: "3.953464516106477",
    9: "4.254494511770458",
    10: "4.543559338088346",
}


def _dcg_expr() -> str:
    # pinned left-fold of hit_r * disc_r — float association identical
    # on both engines; every literal is CAST to DOUBLE explicitly
    # because bare decimal literals parse as DECIMAL (both engines)
    # and a decimal-typed multiply/add chain rounds differently.
    out = f"(CAST(h1 AS DOUBLE) * CAST({_DISC[1]} AS DOUBLE))"
    for r in range(2, 11):
        out = f"({out} + CAST(h{r} AS DOUBLE) * CAST({_DISC[r]} AS DOUBLE))"
    return out


def _idcg_expr() -> str:
    cases = " ".join(
        f"WHEN {h} THEN CAST({lit} AS DOUBLE)" for h, lit in _IDCG.items()
    )
    return f"(CASE hits {cases} END)"


@register(
    "ml_ndcg_at_10",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {_QUANT_EMB} AS qe FROM embeddings),
n AS (SELECT vec_id, label, qe,
             list_sum(list_transform(qe, x -> x * x)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, label AS q_label, qe AS q_emb, nrm AS q_norm
      FROM n WHERE vec_id < {_N_QUERIES}),
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
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM p
),
flags AS (
  SELECT query_id, CAST(q_label AS BIGINT) AS label,
         {", ".join(
             f"CAST(max(CASE WHEN rank = {i} AND c_label = q_label "
             f"THEN 1 ELSE 0 END) AS BIGINT) AS h{i}" for i in range(1, 11)
         )}
  FROM r WHERE rank <= 10
  GROUP BY query_id, q_label
),
sc AS (
  SELECT query_id, label,
         CAST(h1+h2+h3+h4+h5+h6+h7+h8+h9+h10 AS BIGINT) AS hits,
         {_dcg_expr()} AS dcg
  FROM flags
)
SELECT query_id, label, hits,
       CAST(floor(dcg * 1000000) AS BIGINT) AS dcg_micro,
       CAST(floor(CASE WHEN hits = 0 THEN 0.0
                       ELSE dcg / {_idcg_expr()} END * 1000000) AS BIGINT)
         AS ndcg_micro
FROM sc ORDER BY query_id
""",
)
def ml_ndcg_at_10_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT nDCG@10 for the label-match retrieval task — the
    position-sensitive ranking metric precision@10 can't see (a hit
    at rank 1 is worth 3.5× a hit at rank 10). Float discipline: the
    ten 1/log2(r+1) discounts and the ideal-DCG prefix sums are
    INLINED LITERALS shared by both dialects, hits pivot to ten
    integer flags per query, and DCG is a pinned left-fold of
    flag·literal products; the engines still disagree by 1 ulp on a
    few flag patterns (internal expression fusion), so both scores
    are emitted on the micro grid (floor ×1e6 — same armor as the
    entropy/keyness kernels). nDCG is one division (0 when no
    hits).

    Scale: ranks come from the broadcast-query brute-force kernel
    (``sim.cosine_topk``); the flag pivot is a 50-group aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    topk = sim.cosine_topk(emb, query_ids=list(range(_N_QUERIES)), k=10)
    labels = emb.select("vec_id", "label")
    q_lab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    c_lab = labels.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    hit = (F.col("c_label") == F.col("q_label")).cast("long")
    flags = (
        topk.join(F.broadcast(q_lab), "query_id")
        .join(F.broadcast(c_lab), "cand_id")
        .groupBy("query_id", F.col("q_label").cast("long").alias("label"))
        .agg(
            *[
                F.max(F.when(F.col("rank") == i, hit).otherwise(0))
                .cast("long")
                .alias(f"h{i}")
                for i in range(1, 11)
            ]
        )
    )
    sc = flags.withColumn(
        "hits",
        sum(F.col(f"h{i}") for i in range(1, 11)).cast("long"),
    ).withColumn("dcg", F.expr(_dcg_expr()))
    return sc.select(
        "query_id",
        "label",
        "hits",
        F.floor(F.col("dcg") * 1000000).cast("long").alias("dcg_micro"),
        F.floor(
            F.when(F.col("hits") == 0, F.lit(0.0))
            .otherwise(F.col("dcg") / F.expr(_idcg_expr()))
            * 1000000
        )
        .cast("long")
        .alias("ndcg_micro"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------
@register(
    "graph_clustering_coeff",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM pr UNION ALL SELECT v FROM pr
  ) GROUP BY n
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM pr a JOIN pr b ON a.v = b.u
  JOIN pr c ON c.u = a.u AND c.v = b.v
),
tcnt AS (
  SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY n
)
SELECT deg.n AS node, deg.d AS degree,
       coalesce(tcnt.t, 0) AS triangles,
       CAST(2 * coalesce(tcnt.t, 0) AS DOUBLE)
         / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS coeff
FROM deg LEFT JOIN tcnt ON deg.n = tcnt.n
WHERE deg.d >= 2
ORDER BY CAST(2 * coalesce(tcnt.t, 0) AS DOUBLE)
           / CAST(deg.d * (deg.d - 1) AS DOUBLE) DESC, node
LIMIT 20
""",
)
def graph_clustering_coeff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient: per node, the fraction of its
    neighbor pairs that are themselves connected — 2·triangles /
    deg·(deg−1) — the 'how cliquish is this product's neighborhood'
    score that the GLOBAL triangle count (``graph_triangle_count``)
    aggregates away. Triangles enumerate once via the ordered wedge
    join (u<v<w, each triangle exactly once) and credit all three
    corners; the coefficient is one int64 division, top-20 with
    node-key ties.

    Scale: wedge join cost is Σ deg² on the support-pruned edge list
    — the support floor (≥2 co-orders) is the degree cap that keeps
    hub wedges bounded, same defense as the LSH bucket caps."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a_ = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b_ = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pr = (
        a_.join(b_, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    deg = (
        pr.select(F.col("u").alias("n"))
        .unionAll(pr.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ab = pr.select(F.col("u").alias("x"), F.col("v").alias("y"))
    bc = pr.select(F.col("u").alias("y"), F.col("v").alias("z"))
    ac = pr.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    tcnt = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    out = (
        deg.join(tcnt, "n", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            (
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double")
            ).alias("coeff"),
        )
    )
    return out.orderBy(F.desc("coeff"), "node").limit(20)
