"""Data-pipeline queries, wave 20: semantic dedup, ranked retrieval,
pivot/unpivot surface, sketch-merge contract, negative sampling, and a
dyadic EWMA.

Everything keeps the engine's float-determinism discipline (module
docstring of ``queries.registry``): integer moments, fixed-order float
additions, md5-derived portable hashes, one shared-shape division at
the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.similarity import (
    EMB_DIM,
    int_dot,
    quantize,
    sq_norm,
)
from stakehouse_etl_spark.operators.text import fan_out, hash64, tokens
from stakehouse_etl_spark.queries.datapipe import _QUANT_EMB, _TOKS
from stakehouse_etl_spark.queries.registry import register

_HASH64 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication
# ---------------------------------------------------------------------------
# cos >= 0.9  ⇔  dot > 0  AND  100·dot² >= 81·|a|²·|b|²  (cross-
# multiplied so the test is pure int64: quantized-milli dims ≤ 64 keep
# dot² ≤ 4.2e15 and the products < 2^62).
SEMDEDUP_COS_NUM = 81  # 0.9² numerator
SEMDEDUP_COS_DEN = 100
# K scales with the corpus (SemDeDup's own recipe): clusters average
# ~TARGET_CLUSTER vectors, so the within-cluster pair join stays
# LINEAR in corpus size (n·c/2 pairs) instead of quadratic. The
# round-6 sf10 fuzz caught the fixed K=8 form stalling >8 min solo at
# 200k vectors (25k-vector clusters → 2.5e9 pairs); with scaled K the
# same rung runs in seconds. floor(greatest(8, n/128)) is exact
# integer arithmetic, mirrored verbatim in the oracle.
SEMDEDUP_TARGET_CLUSTER = 128

# The assignment CTE with corpus-scaled K (the fixed-K twin,
# _KM_ASSIGN_CTE, stays for the one-Lloyd-step demos ml_kmeans_*).
_SEM_ASSIGN_CTE = f"""
e AS (SELECT vec_id, {_QUANT_EMB} AS q FROM embeddings),
kk AS (
  SELECT greatest(8, count(*) // {SEMDEDUP_TARGET_CLUSTER}) AS k FROM e
),
c AS (
  SELECT vec_id AS centroid_id, q AS cq FROM e
  WHERE vec_id < (SELECT k FROM kk)
),
d AS (
  SELECT e.vec_id, c.centroid_id,
         CAST(list_sum(list_transform(range(1, len(e.q) + 1),
              i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i]))) AS BIGINT) AS dist
  FROM e CROSS JOIN c
),
a AS (
  SELECT vec_id, centroid_id, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, centroid_id) AS rn
  FROM d
)
"""


# Expression-vs-matmul dispatch for the scaled-K assignment: above
# this n·K product the interpreted per-(vector, centroid) fold loses
# to one Arrow-batched BLAS matmul (the cosine_topk auto-dispatch
# pattern, operators/similarity.py).
_SEM_ASSIGN_ARROW_CELLS = 5_000_000
# Hard cap on collected-centroid-matrix cells (k × dim) for the Arrow
# assignment arm; past this the assignment graduates to the distributed
# expression arm / IVF path instead of growing the driver + closures.
_SEM_CENTROID_CELL_CAP = 8_000_000


def _scaled_assign(emb: DataFrame, n: int, k: int) -> DataFrame:
    """Nearest-of-k-centroids by squared L2 (ties → lowest centroid
    id), centroids = the k lowest vec_ids. Two value-identical arms:

    - expression: crossJoin(broadcast(centroids)) + zip_with fold +
      argmin window — plan-transparent, right when n·k is small;
    - Arrow matmul: dist² = |x|² + |c|² − 2·X@Cᵀ in float64, which is
      EXACT here — quantized-milli dims ≤ 64 keep every dot ≤ ~6e9 and
      every distance ≤ ~3e10, all < 2^53, so the BLAS result is the
      same integer the int64 fold computes; np.argmin's first-match
      rule IS the lowest-centroid-id tiebreak because C is sorted by
      id. n·(n/128)·64 FLOPs is SemDeDup's own clustering cost; at
      corpus scales beyond one BLAS call the assignment graduates to
      the hierarchical/IVF path (operators/similarity.py).
    """
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("q").alias("cq")
    )
    # Driver-memory guard (ADVICE r6): the Arrow arm collects the
    # k×dim centroid matrix and ships C/CN/CIDS in every task closure;
    # both grow with n/128. Above ~8M cells (~64 MB of float64 — past
    # any sane broadcast closure) the assignment must graduate to the
    # IVF/hierarchical path (operators/similarity.py), so force the
    # distributed expression arm instead of silently ballooning the
    # driver. 8M cells ≈ k=125k dim-64 centroids ≈ n=16M vectors —
    # far past every local rung; the guard is the explicit contract,
    # not a reachable branch today. dim is the shared EMB_DIM constant
    # the generator and quantizer both use (ADVICE r7: a literal 64
    # here would silently miscalibrate the cap if the table's dim
    # changed).
    arrow_ok = (k * EMB_DIM) <= _SEM_CENTROID_CELL_CAP
    if n * k >= _SEM_ASSIGN_ARROW_CELLS and arrow_ok:
        import numpy as np

        c_rows = sorted(cents.collect(), key=lambda r: r["centroid_id"])
        C = np.array([r["cq"] for r in c_rows], dtype=np.float64)
        CIDS = np.array([r["centroid_id"] for r in c_rows], dtype=np.int64)
        CN = (C * C).sum(axis=1)

        def assign(batches):
            import pandas as pd

            for pdf in batches:
                X = np.stack(pdf["q"].to_numpy()).astype(np.float64)
                xn = (X * X).sum(axis=1)
                d = xn[:, None] + CN[None, :] - 2.0 * (X @ C.T)
                best = CIDS[np.argmin(d, axis=1)]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "centroid_id": best,
                        "q": pdf["q"],
                    }
                )

        return emb.mapInPandas(
            assign, "vec_id long, centroid_id long, q array<bigint>"
        )
    diff = F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b))
    dist = F.aggregate(diff, F.lit(0).cast("long"), lambda acc, v: acc + v)
    cand = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", "q", dist.alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "q")
    )


@register(
    "dedup_semantic_prune",
    oracle=f"""
WITH {_SEM_ASSIGN_CTE},
asg AS (
  SELECT a.vec_id, a.centroid_id, e.q
  FROM a JOIN e ON a.vec_id = e.vec_id WHERE a.rn = 1
),
nrm AS (
  SELECT vec_id, centroid_id, q,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
  FROM asg
),
pr0 AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.n2 AS na, y.n2 AS nb,
         CAST(list_sum(list_transform(range(1, len(x.q) + 1),
              i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
  FROM nrm x JOIN nrm y
    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
),
pr AS (
  SELECT id_a, id_b FROM pr0
  WHERE dot > 0
    AND {SEMDEDUP_COS_DEN} * dot * dot >= {SEMDEDUP_COS_NUM} * na * nb
)
SELECT n.vec_id, CAST(n.centroid_id AS BIGINT) AS centroid_id,
       (p.id_b IS NULL) AS kept
FROM nrm n LEFT JOIN (SELECT DISTINCT id_b FROM pr) p
  ON n.vec_id = p.id_b
""",
)
def dedup_semantic_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    then drop, WITHIN each cluster only, every vector that has a
    higher-similarity twin with a smaller id (cos >= 0.9, keep-lowest-
    id survivor). The clustering is what makes semantic dedup scale —
    and K therefore SCALES WITH THE CORPUS (max(8, n/128), the
    paper's recipe): candidate pairs are confined to ~128-vector
    clusters, so the pair join is linear in n at every rung (the
    round-6 sf10 fuzz measured the fixed-K=8 form at >8 min solo —
    2.5e9 pairs from 25k-vector clusters — vs seconds scaled). The
    pair join is an equi-join on centroid_id that AQE skew-splits if
    a cluster runs hot; at extreme K the assignment step itself
    graduates to the IVF path (``operators/similarity.py``). The
    cosine test is cross-multiplied into exact int64 (same discipline
    as the z-score kernel), so no float boundary exists anywhere.

    Reference parity: the reference has no embedding ops at all — this
    is part of the beyond-reference training-data family the brief
    specifies (brute-force cosine baseline lives in
    ``sim_cosine_topk``; capped-LSH near-dup in ``sim_ann_lsh_pairs``).
    """
    # fan_out BEFORE the per-vector work: the single-file embeddings
    # scan plans a handful of splits, serializing both the assignment
    # batches and the within-cluster pair dots (round-6 sf10 fuzz).
    from stakehouse_etl_spark.caches import persist_tracked

    emb = persist_tracked(
        fan_out(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", quantize(F.col("embedding")).alias("q")
        )
    )
    # emb feeds count(), the centroid collect, and the main plan —
    # persist_tracked materializes the quantize scan once (ADVICE r6:
    # it was re-run ~3×) and bench.py's release_tracked frees it.
    n = emb.count()
    k = max(8, n // SEMDEDUP_TARGET_CLUSTER)
    asg = _scaled_assign(emb, n, k)
    nrm = asg.select(
        "vec_id", "centroid_id", "q", sq_norm(F.col("q")).alias("n2")
    )
    x = nrm.select(
        F.col("vec_id").alias("id_a"),
        F.col("centroid_id").alias("cid"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    )
    y = nrm.select(
        F.col("vec_id").alias("id_b"),
        F.col("centroid_id").alias("cid"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    dot = int_dot(F.col("qa"), F.col("qb"))
    pairs = (
        x.join(y, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (dot > 0)
            & (
                F.lit(SEMDEDUP_COS_DEN) * dot * dot
                >= F.lit(SEMDEDUP_COS_NUM) * F.col("na") * F.col("nb")
            )
        )
        .select("id_b")
        .distinct()
    )
    return nrm.join(
        pairs, nrm["vec_id"] == pairs["id_b"], "left"
    ).select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("id_b").isNull().alias("kept"),
    )


# ---------------------------------------------------------------------------
# BM25-style ranked retrieval (log-free idf ratio for exact parity)
# ---------------------------------------------------------------------------
BM25_QUERY_TERMS = ["table", "query", "join"]


@register(
    "text_bm25_topk",
    bench=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), t2 AS (SELECT * FROM tok WHERE term <> ''),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
         CAST(count(*) FILTER (WHERE term = 'table') AS BIGINT) AS tf_table,
         CAST(count(*) FILTER (WHERE term = 'query') AS BIGINT) AS tf_query,
         CAST(count(*) FILTER (WHERE term = 'join') AS BIGINT) AS tf_join
  FROM t2 GROUP BY 1
),
stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         CAST(count(*) FILTER (WHERE tf_table > 0) AS BIGINT) AS df_table,
         CAST(count(*) FILTER (WHERE tf_query > 0) AS BIGINT) AS df_query,
         CAST(count(*) FILTER (WHERE tf_join > 0) AS BIGINT) AS df_join
  FROM pd
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
tot AS (
  -- literals pinned ::DOUBLE - DuckDB parses bare 2.2 as DECIMAL and
  -- the decimal-domain intermediate rounds differently from IEEE754
  SELECT doc_id,
    CASE WHEN tf_table > 0 THEN
        ((tf_table * 2.2::DOUBLE)
         / (tf_table + 1.2::DOUBLE
            * (0.25::DOUBLE + 0.75::DOUBLE * (dl / avgdl))))
        * ((n_docs - df_table + 0.5::DOUBLE) / (df_table + 0.5::DOUBLE))
      ELSE 0.0::DOUBLE END
    + CASE WHEN tf_query > 0 THEN
        ((tf_query * 2.2::DOUBLE)
         / (tf_query + 1.2::DOUBLE
            * (0.25::DOUBLE + 0.75::DOUBLE * (dl / avgdl))))
        * ((n_docs - df_query + 0.5::DOUBLE) / (df_query + 0.5::DOUBLE))
      ELSE 0.0::DOUBLE END
    + CASE WHEN tf_join > 0 THEN
        ((tf_join * 2.2::DOUBLE)
         / (tf_join + 1.2::DOUBLE
            * (0.25::DOUBLE + 0.75::DOUBLE * (dl / avgdl))))
        * ((n_docs - df_join + 0.5::DOUBLE) / (df_join + 0.5::DOUBLE))
      ELSE 0.0::DOUBLE END AS score
  FROM pd CROSS JOIN stats CROSS JOIN nd
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
FROM tot ORDER BY score DESC, doc_id LIMIT 10
""",
)
def text_bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for a fixed 3-term query, with the
    log dropped from the idf so every factor is rational (idf_ratio =
    (N-df+0.5)/(df+0.5) — same ordering as the log form since ln is
    monotone) and both engines agree bit-for-bit: tf saturation
    (k1=1.2, b=0.75) and the idf ratio are each ONE fixed
    parenthesization of exact-integer inputs, and the per-term partial
    scores are summed in FIXED column order (CASE-guarded term
    expressions added left-to-right), never through a float SUM whose
    partial-aggregation order could differ. Plan: ONE per-doc shuffle
    — doc length and every query term's tf are conditional counts in
    the same aggregate — plus two broadcast scalar rows (avgdl+df,
    n_docs); the top-10 is a TakeOrderedAndProject, not a global
    sort. Re-planned this round from a 12-shuffle tf/dl/df join chain
    down to 2 exchanges (PLANS.md)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        fan_out(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
    )
    # ONE per-doc shuffle: doc length and every query term's tf as
    # conditional counts in the same aggregate (the 12-shuffle
    # tf/dl/df join chain this replaces is recorded in PLANS.md).
    pd = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count_if(F.col("term") == t).alias(f"tf_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )
    stats = pd.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.count_if(F.col(f"tf_{t}") > 0).alias(f"df_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    def term_score(t: str):
        tf = F.col(f"tf_{t}")
        df = F.col(f"df_{t}")
        s = (
            (tf * F.lit(2.2))
            / (
                tf
                + F.lit(1.2)
                * (
                    F.lit(0.25)
                    + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
                )
            )
        ) * (
            (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    score = term_score(BM25_QUERY_TERMS[0])
    for t in BM25_QUERY_TERMS[1:]:
        score = score + term_score(t)
    tot = (
        pd.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(nd))
        .select("doc_id", score.alias("score"))
    )
    top = tot.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# PIVOT: segment × order-status matrix
# ---------------------------------------------------------------------------
@register(
    "a_pivot_status_matrix",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_n,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT)
         AS f_cents,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_n,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT)
         AS o_cents,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_n,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT)
         AS p_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def a_pivot_status_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide PIVOT: per market segment, one column pair (count,
    exact cent sum) per order status. The pivot values are declared
    explicitly — ``pivot(col, values)`` — which matters at scale: the
    two-pass value-discovery scan Spark otherwise runs over the fact
    table disappears, and the plan is a single hash aggregate whose
    grouped row count is |segments|, with the status dimension folded
    into the aggregate buffer, not the grouping key. Missing cells
    coalesce to 0 so the wide row is total."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    wide = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"),
        )
    )
    return wide.select(
        "c_mktsegment",
        F.col("F_n").alias("f_n"),
        F.col("F_cents").alias("f_cents"),
        F.col("O_n").alias("o_n"),
        F.col("O_cents").alias("o_cents"),
        F.col("P_n").alias("p_n"),
        F.col("P_cents").alias("p_cents"),
    )


# ---------------------------------------------------------------------------
# UNPIVOT: wide metrics row → long (measure, value) form
# ---------------------------------------------------------------------------
@register(
    "u6_unpivot_long",
    oracle="""
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_cents,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty_cents' AS measure, sum_qty_cents AS value
  FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM wide
UNION ALL
SELECT l_returnflag, 'n_rows', n_rows FROM wide
""",
)
def u6_unpivot_long_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt): the per-flag pricing summary unpivots
    into (measure, value) rows — the shape metric stores and
    entity-attribute-value feeds want. Uses the native
    ``DataFrame.unpivot`` (Expand node: one pass over the aggregated
    rows, no join, no union re-scan — the UNION ALL in the oracle
    re-reads a CTE; Spark's Expand emits all measure rows per input
    row in one operator). Values are exact int64 cents/counts so the
    melted column is homogeneous without a float cast."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias(
            "sum_qty_cents"
        ),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty_cents", "sum_price_cents", "n_rows"],
        "measure",
        "value",
    )


# ---------------------------------------------------------------------------
# HLL sketch mergeability contract (Spark 3.5+ datasketches surface)
# ---------------------------------------------------------------------------
@register(
    "inc_distinct_sketch_merge",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       true AS merge_close_to_whole,
       true AS merged_within_10pct
FROM events GROUP BY event_type
""",
)
def inc_distinct_sketch_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count maintenance via mergeable HLL
    sketches (``hll_sketch_agg`` / ``hll_union_agg``): per event type,
    build one sketch per DAY partition, union-merge the day sketches,
    and verify the CONTRACT that (a) the merged estimate lands within
    5% of the single whole-corpus sketch's estimate (exact equality is
    NOT guaranteed by DataSketches: the union gadget can finish in a
    different HLL storage mode than direct sketching — observed at
    sf0.1) — mergeability is the property that lets a 100 TB pipeline
    keep per-partition sketches as small state and fold new days in
    without ever re-scanning history — and (b) the merged estimate
    lands within 10% of exact. Sketch bytes can't hash-match across engines, so the
    oracle checks the exact count plus the two contract verdicts
    (same pattern as ``a_approx_distinct_bounded``)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.to_date("ts").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_merged")
    )
    whole = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n_whole"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    return (
        whole.join(merged, "event_type")
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_merged") - F.col("n_whole"))
                <= F.greatest(F.lit(1.0), F.col("n_whole") * 0.05)
            ).alias("merge_close_to_whole"),
            (
                F.abs(F.col("n_merged") - F.col("n_exact"))
                <= F.col("n_exact") * 0.10
            ).alias("merged_within_10pct"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training prep)
# ---------------------------------------------------------------------------
NEG_POOL = 16
NEG_K = 4


@register(
    "ml_negative_sampling",
    oracle=f"""
WITH pool AS (
  SELECT lang, doc_id AS neg_id
  FROM (
    SELECT lang, doc_id,
           row_number() OVER (
             PARTITION BY lang
             ORDER BY {_HASH64.format(x="CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rn
    FROM documents
  ) WHERE rn <= {NEG_POOL}
),
cand AS (
  SELECT d.doc_id, p.neg_id,
         {_HASH64.format(
             x="CAST(d.doc_id AS VARCHAR) || '|' || CAST(p.neg_id AS VARCHAR)"
         )} AS h
  FROM documents d JOIN pool p ON d.lang = p.lang
  WHERE p.neg_id <> d.doc_id
)
SELECT doc_id, neg_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY h, neg_id)
            AS BIGINT) AS rnk
FROM cand
QUALIFY rnk <= {NEG_K}
""",
)
def ml_negative_sampling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-language negative sampling for contrastive
    training: each document draws {NEG_K} negatives from a bounded
    per-language candidate POOL ({NEG_POOL} docs chosen by portable
    hash order), ranked per anchor by a pair hash — so the same anchor
    gets the same negatives on every engine, every run (seeded-RNG
    samplers are not reproducible across engines; hash order is).
    The pool is what makes it scale: the anchor×candidate join is
    |docs|×{NEG_POOL} with a broadcast pool — never anchor×corpus —
    and the per-anchor window is {NEG_POOL} rows. Tie-break on
    (hash, neg_id) makes ranks total."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    wp = Window.partitionBy("lang").orderBy(
        hash64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    pool = (
        docs.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NEG_POOL)
        .select("lang", F.col("doc_id").alias("neg_id"))
    )
    pair_h = hash64(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.col("neg_id").cast("string"),
        )
    )
    cand = (
        docs.join(F.broadcast(pool), "lang")
        .filter(F.col("neg_id") != F.col("doc_id"))
        .select("doc_id", "neg_id", pair_h.alias("h"))
    )
    wa = Window.partitionBy("doc_id").orderBy("h", "neg_id")
    return (
        cand.withColumn("rnk", F.row_number().over(wa).cast("long"))
        .filter(F.col("rnk") <= NEG_K)
        .select("doc_id", "neg_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Dyadic EWMA (integer-exact exponential smoothing)
# ---------------------------------------------------------------------------
EWMA_TAPS = 8


@register(
    "ts_ewma_dyadic",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
l AS (
  SELECT *,
         lag(cents, 1) OVER win AS c1, lag(cents, 2) OVER win AS c2,
         lag(cents, 3) OVER win AS c3, lag(cents, 4) OVER win AS c4,
         lag(cents, 5) OVER win AS c5, lag(cents, 6) OVER win AS c6,
         lag(cents, 7) OVER win AS c7
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT user_id, event_id, ts_us, cents,
       CAST(cents * 128
            + coalesce(c1, 0) * 64 + coalesce(c2, 0) * 32
            + coalesce(c3, 0) * 16 + coalesce(c4, 0) * 8
            + coalesce(c5, 0) * 4 + coalesce(c6, 0) * 2
            + coalesce(c7, 0) AS BIGINT) AS ewma_num,
       CAST(128
            + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
            + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
            + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
            + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
            + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
            + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
            + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS ewma_den
FROM l
""",
)
def ts_ewma_dyadic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing with α=1/2 truncated to 8 taps — the
    weights are powers of two, so the smoothed value is the exact
    rational ewma_num/ewma_den with BOTH sides int64: no float ever
    enters, unlike the textbook recursive EWMA (whose running float
    state can't be window-expressed and whose rounding drifts by
    evaluation order). The ramp-up rows carry a smaller denominator
    (weights renormalized over available history) instead of a NULL
    gap. One shuffle: the per-user ordered window; 8 lags all share
    the single window frame."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    lags = [F.lag("cents", k).over(win) for k in range(1, EWMA_TAPS)]
    num = F.col("cents") * F.lit(1 << (EWMA_TAPS - 1))
    den = F.lit(1 << (EWMA_TAPS - 1))
    for k, lg in enumerate(lags, start=1):
        wgt = 1 << (EWMA_TAPS - 1 - k)
        num = num + F.coalesce(lg, F.lit(0)) * F.lit(wgt)
        den = den + F.when(lg.isNull(), F.lit(0)).otherwise(F.lit(wgt))
    return e.select(
        "user_id",
        "event_id",
        "ts_us",
        "cents",
        num.cast("long").alias("ewma_num"),
        den.cast("long").alias("ewma_den"),
    )
