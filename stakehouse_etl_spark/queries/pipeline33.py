"""Data-pipeline queries, wave 33: bounded graph traversal and
data-driven slicing.

- 2-hop reachability over the co-purchase graph (frontier expansion)
- per-group top-k with DATA-DRIVEN k (limits come from a table)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

SEED_MOD = 50  # parts with partkey % 50 == 0 are the seed set


# ---------------------------------------------------------------------------
# 2-hop reachability (bounded BFS frontier expansion)
# ---------------------------------------------------------------------------
@register(
    "graph_2hop_reach",
    oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
seeds AS (SELECT DISTINCT u AS s FROM e WHERE u % {SEED_MOD} = 0),
h1 AS (
  SELECT DISTINCT seeds.s, e.v AS n FROM seeds JOIN e ON e.u = seeds.s
),
h2 AS (
  SELECT DISTINCT h1.s, e.v AS n FROM h1 JOIN e ON e.u = h1.n
),
n1 AS (SELECT s, CAST(count(*) AS BIGINT) AS n_1hop FROM h1 GROUP BY 1),
reach AS (SELECT s, n FROM h1 UNION SELECT s, n FROM h2),
r2 AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n_2hop_reach
  FROM reach WHERE n <> s GROUP BY 1
)
SELECT r2.s AS seed_part, n1.n_1hop, r2.n_2hop_reach
FROM r2 JOIN n1 ON r2.s = n1.s
""",
)
def graph_2hop_reach_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS: the 2-hop neighborhood of a seed set over the
    co-purchase graph — "customers who bought X also bought things
    bought with Y" — computed by FRONTIER EXPANSION: two equi-joins
    against the edge list with a distinct between hops. This is the
    k-hop primitive behind recommendation candidates and blast-radius
    queries; the DEPTH BOUND is what keeps it tractable at 100 TB
    (unbounded transitive closure is the CC operator's job — a
    log-round pointer-jumping algorithm, not repeated joins). The
    frontier dedup between hops is load-bearing: without it the
    second join's input multiplies by path count, not node count."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    seeds = (
        e.filter(F.col("u") % SEED_MOD == 0)
        .select(F.col("u").alias("s"))
        .distinct()
    )
    h1 = (
        seeds.join(e, seeds["s"] == e["u"])
        .select("s", F.col("v").alias("n"))
        .distinct()
    )
    h2 = (
        h1.select("s", F.col("n").alias("u2"))
        .join(e, F.col("u2") == e["u"])
        .select("s", F.col("v").alias("n"))
        .distinct()
    )
    reach = h1.unionByName(h2).distinct().filter(F.col("n") != F.col("s"))
    n1 = h1.groupBy("s").agg(F.count(F.lit(1)).alias("n_1hop"))
    return (
        reach.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_2hop_reach"))
        .join(n1, "s")
        .select(
            F.col("s").alias("seed_part"), "n_1hop", "n_2hop_reach"
        )
    )


# ---------------------------------------------------------------------------
# Per-group top-k with data-driven k
# ---------------------------------------------------------------------------
@register(
    "w12_dynamic_topk",
    oracle="""
WITH lim AS (
  SELECT DISTINCT c_mktsegment AS seg,
         CAST(1 + length(c_mktsegment) % 3 AS BIGINT) AS k
  FROM customer
),
r AS (
  SELECT c_mktsegment AS seg, c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey
         ) AS BIGINT) AS rn
  FROM customer
)
SELECT r.seg, r.c_custkey, r.cents, r.rn, lim.k
FROM r JOIN lim ON r.seg = lim.seg
WHERE r.rn <= lim.k
""",
)
def w12_dynamic_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k where K COMES FROM A TABLE, not a constant —
    the parameterized-leaderboard shape (different retention per tier,
    different sample size per source, SLA-dependent alert counts).
    The static-k form (W4) lets Spark push a WindowGroupLimit below
    the shuffle; with dynamic k that optimization is off the table, so
    the plan is rank-then-broadcast-join-then-filter — the limits dim
    broadcasts (it is |groups| rows by construction) and the window
    still shuffles once. k here derives deterministically from the
    segment name so the oracle reproduces it."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    lim = c.select(
        "seg", (1 + F.length("seg") % 3).cast("long").alias("k")
    ).distinct()
    w = Window.partitionBy("seg").orderBy(F.desc("cents"), F.asc("c_custkey"))
    r = c.withColumn("rn", F.row_number().over(w).cast("long"))
    return (
        r.join(F.broadcast(lim), "seg")
        .filter(F.col("rn") <= F.col("k"))
        .select("seg", "c_custkey", "cents", "rn", "k")
    )
