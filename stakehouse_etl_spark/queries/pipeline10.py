"""Data-pipeline queries, wave 10: experimentation stats (Welch's t),
graph motif counting (triangles), and contribution analysis.

Float discipline: every double is derived from exact integer moments
with an identical operation tree in both engines (IEEE division,
multiplication and sqrt are correctly rounded, so identical inputs +
identical shape = identical bits — the same contract the stats kernel
established).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.datapipe import _SHINGLES_CTE, _lsh_jaccard_cte
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Welch's t statistic (A/B comparison from exact moments)
# ---------------------------------------------------------------------------


@register(
    "ml_ab_welch_t",
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(round("value" * 100) AS BIGINT)
                  * CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS q
  FROM events
  WHERE event_type IN ('click', 'view')
  GROUP BY event_type
),
a AS (SELECT * FROM g WHERE event_type = 'click'),
b AS (SELECT * FROM g WHERE event_type = 'view')
SELECT a.n AS n_click, b.n AS n_view,
       (CAST(a.s AS DOUBLE) / a.n) - (CAST(b.s AS DOUBLE) / b.n) AS mean_diff,
       ((CAST(a.s AS DOUBLE) / a.n) - (CAST(b.s AS DOUBLE) / b.n))
         / sqrt(
             ((CAST(a.n * a.q - a.s * a.s AS DOUBLE)) / (CAST(a.n AS DOUBLE) * (a.n - 1))) / a.n
             + ((CAST(b.n * b.q - b.s * b.s AS DOUBLE)) / (CAST(b.n AS DOUBLE) * (b.n - 1))) / b.n
           ) AS t_stat
FROM a CROSS JOIN b
""",
)
def ml_ab_welch_t_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic comparing click vs view
    event values — the A/B-experiment decision primitive. Sample
    means and variances come from one grouped pass of exact integer
    moments (n, Σx, Σx² in cents); the t composition is a fixed
    IEEE-double expression tree shared with the oracle. One scan, one
    tiny aggregate — experiment readouts at 100 TB cost the same as a
    count.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    g = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents * cents).alias("q"),
        )
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    j = a.crossJoin(b)
    mean_diff = (F.col("s1").cast("double") / F.col("n1")) - (
        F.col("s2").cast("double") / F.col("n2")
    )
    var_term1 = (
        (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n1").cast("double") * (F.col("n1") - 1))
    ) / F.col("n1")
    var_term2 = (
        (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast("double")
        / (F.col("n2").cast("double") * (F.col("n2") - 1))
    ) / F.col("n2")
    return j.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        mean_diff.alias("mean_diff"),
        (mean_diff / F.sqrt(var_term1 + var_term2)).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Triangle counting on the near-duplicate graph
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_lsh_jaccard_cte()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM j WHERE inter * 100 >= union_sz * 20
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges
FROM edges e1
JOIN edges e2 ON e2.a = e1.b
JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
""",
)
def graph_triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-duplicate graph (3-gram Jaccard
    >= 0.2 edges): the density diagnostic that distinguishes chain-
    shaped near-dup clusters (transitive drift — risky to collapse)
    from clique-shaped ones (true duplicate groups). Orientation trick
    (a<b on every edge) means each triangle matches exactly one
    (e1,e2,e3) pattern — two equi-joins on an edge list, no motif
    explosion, the standard distributed triangle algorithm.
    """
    from stakehouse_etl_spark.caches import checkpoint_tracked
    from stakehouse_etl_spark.operators.dedup import minhash_lsh_pairs

    edges = (
        minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold_pct=20)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    # r11 (guide §5): edges feed three join legs plus the eager
    # count — four LSH-pipeline evaluations without a cut. The edge
    # list is graph-scale (~1 MB at sf0.1), the pipeline is the
    # expensive part; same checkpoint discipline as the other graph
    # consumers.
    edges = checkpoint_tracked(edges)
    e1 = edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = edges.select(F.col("a").alias("t_b"), F.col("b").alias("t_c"))
    e3 = edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = e1.join(e2, "t_b").join(e3, ["t_a", "t_c"])
    n_edges = edges.count()
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.lit(n_edges).cast("long").alias("n_edges"),
    )


# ---------------------------------------------------------------------------
# Percent-of-total contribution (windowed share-of-group)
# ---------------------------------------------------------------------------


@register(
    "w9_percent_of_total",
    oracle="""
WITH rev AS (
  SELECT r_name, n_name,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, cents,
       CAST(cents AS DOUBLE)
         / CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
         AS region_share
FROM rev
""",
)
def w9_percent_of_total_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: each nation's share of its region's
    account-balance total — the grouped-sum-over-window-total shape
    every BI rollup needs. The detail aggregate and the window total
    share one shuffle (the window partitions by the aggregation's
    leading key, so the exchange is reused); exact cents inside, one
    float division at the edge.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("cents"))
    )
    total = F.sum("cents").over(Window.partitionBy("r_name"))
    return rev.select(
        "r_name",
        "n_name",
        "cents",
        (F.col("cents").cast("double") / total).alias("region_share"),
    )
