"""Data-pipeline queries, wave 43: network science metrics and
experimentation statistics.

- degree assortativity (Pearson over edge endpoints, int64 moments)
- EXACT modularity of the LPA community partition (Q·4m² is an
  integer — no float sum over communities)
- CUPED variance-reduced A/B readout (covariate adjustment from
  integer moments, pinned double combination)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.pipeline36 import _LPA_EDGES, graph_lpa_round_q
from stakehouse_etl_spark.queries.registry import register


def _copurchase_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pr = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    return pr.unionAll(pr.select(F.col("v").alias("u"), F.col("u").alias("v")))


# ---------------------------------------------------------------------------
# Degree assortativity
# ---------------------------------------------------------------------------
@register(
    "graph_assortativity",
    oracle=f"""
WITH {_LPA_EDGES},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
ep AS (
  SELECT du.d AS x, dv.d AS y
  FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM ep
)
SELECT n, sx, sxy, sxx,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS assortativity
FROM m
""",
)
def graph_assortativity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree ASSORTATIVITY of the co-purchase graph: the Pearson
    correlation of endpoint degrees over the directed edge list —
    positive means hubs buy with hubs (social-network-like), negative
    means hubs bridge the periphery (web/biology-like); it predicts
    how the graph fragments under dedup pruning. Five int64 moments
    over the degree-joined edge list, final Pearson combination in a
    pinned double sequence (same contract as ``ml_spearman_rho``).

    Scale: degree table re-joined on each endpoint key (the edge
    list's own shuffle keys); one map-side-combinable moment pass."""
    e = _copurchase_directed(spark, sf_dir)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ep = (
        e.join(deg.select(F.col("u"), F.col("d").alias("x")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("y")),
            "v",
        )
        .select("x", "y")
    )
    m = ep.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        "n",
        "sx",
        "sxy",
        "sxx",
        (
            (n_d * F.col("sxy").cast("double") - sx_d * sy_d)
            / (
                F.sqrt(n_d * F.col("sxx").cast("double") - sx_d * sx_d)
                * F.sqrt(n_d * F.col("syy").cast("double") - sy_d * sy_d)
            )
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Exact modularity of the LPA partition
# ---------------------------------------------------------------------------
@register(
    "graph_modularity",
    oracle=f"""
WITH {_LPA_EDGES},
s1 AS (
  SELECT e.u, e.v AS lbl, CAST(sum(e.w) AS BIGINT) AS wsum
  FROM e GROUP BY e.u, e.v
),
l1 AS (
  SELECT u AS node, lbl AS label1 FROM (
    SELECT u, lbl,
           row_number() OVER (PARTITION BY u ORDER BY wsum DESC, lbl) AS rn
    FROM s1
  ) WHERE rn = 1
),
s2 AS (
  SELECT e.u, l1.label1 AS lbl, CAST(sum(e.w) AS BIGINT) AS wsum
  FROM e JOIN l1 ON e.v = l1.node
  GROUP BY e.u, l1.label1
),
l2 AS (
  SELECT u AS node, lbl AS label2 FROM (
    SELECT u, lbl,
           row_number() OVER (PARTITION BY u ORDER BY wsum DESC, lbl) AS rn
    FROM s2
  ) WHERE rn = 1
),
mm AS (SELECT CAST(count(*) AS BIGINT) // 2 AS m FROM e),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
within AS (
  SELECT la.label2 AS c, CAST(count(*) AS BIGINT) AS dir_in
  FROM e
  JOIN l2 la ON e.u = la.node
  JOIN l2 lb ON e.v = lb.node AND la.label2 = lb.label2
  GROUP BY la.label2
),
dsum AS (
  SELECT l2.label2 AS c, CAST(sum(deg.d) AS BIGINT) AS d_c
  FROM deg JOIN l2 ON deg.u = l2.node
  GROUP BY l2.label2
),
terms AS (
  SELECT dsum.c,
         2 * mm.m * coalesce(within.dir_in, 0) - dsum.d_c * dsum.d_c
           AS t
  FROM dsum LEFT JOIN within ON dsum.c = within.c CROSS JOIN mm
)
SELECT mm.m,
       CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(t) AS BIGINT) AS q_num,
       CAST(sum(t) AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE) AS q
FROM terms CROSS JOIN mm
GROUP BY mm.m
""",
)
def graph_modularity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT modularity Q of the 2-round LPA community partition
    (``graph_lpa_round``) — the number that says whether those
    communities are real structure or noise (Q>0.3 is conventionally
    'strong'). Uses the integer identity Q·4m² = Σ_c (2m·e→_c − d_c²)
    where e→_c counts DIRECTED within-community edges (= 2·undirected)
    and d_c is the community degree sum — the per-community terms and
    their total are exact int64, so the only float is the final
    division by 4m². This is how to evaluate a partition WITHOUT
    float-summing fractions across thousands of communities.

    Scale: two label joins on the edge endpoint keys (same shuffle as
    LPA itself), then community-keyed aggregates; the 1-row m
    broadcasts."""
    labels = graph_lpa_round_q(spark, sf_dir).select(
        "node", F.col("label2").alias("c")
    )
    edges = _copurchase_directed(spark, sf_dir)
    mm = edges.agg(F.expr("count(1) div 2").cast("long").alias("m"))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    within = (
        edges.join(labels.withColumnRenamed("node", "u"), "u")
        .join(
            labels.select(F.col("node").alias("v"), F.col("c").alias("cv")),
            "v",
        )
        .filter(F.col("c") == F.col("cv"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("dir_in"))
    )
    dsum = (
        deg.join(labels.withColumnRenamed("node", "u"), "u")
        .groupBy("c")
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    terms = (
        dsum.join(within, "c", "left")
        .join(F.broadcast(mm))
        .select(
            "m",
            (
                2 * F.col("m") * F.coalesce(F.col("dir_in"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("t"),
        )
    )
    return terms.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("t").cast("long").alias("q_num"),
        (
            F.sum("t").cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double")
        ).alias("q"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------
@register(
    "ml_cuped_adjustment",
    oracle="""
WITH span AS (
  SELECT (CAST(min(epoch_us(o_orderdate)) AS BIGINT)
          + CAST(max(epoch_us(o_orderdate)) AS BIGINT)) // 2 AS mid_us
  FROM orders
),
per_cust AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN epoch_us(o_orderdate) < mid_us
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) // 1000 AS x,
         CAST(sum(CASE WHEN epoch_us(o_orderdate) >= mid_us
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) // 1000 AS y
  FROM orders CROSS JOIN span
  GROUP BY o_custkey
),
v AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t, x, y
  FROM per_cust JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(t) AS BIGINT) AS nt,
         CAST(sum(t * x) AS BIGINT) AS sxt,
         CAST(sum(t * y) AS BIGINT) AS syt
  FROM v
)
SELECT n, nt,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
       (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
          - CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE)) AS raw_diff,
       (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
          - CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE))
       - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
            - CAST(sx - sxt AS DOUBLE) / CAST(n - nt AS DOUBLE))
         AS adj_diff
FROM m
""",
)
def ml_cuped_adjustment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariate adjustment for an A/B readout: the
    treatment-control difference in post-period spend, variance-
    reduced by each customer's PRE-period spend (θ = cov(x,y)/var(x),
    adj = raw − θ·(x̄_t − x̄_c)) — the standard experimentation trick
    that removes between-customer variance the randomization already
    balances in expectation. Every moment is an exact int64 sum
    (kilocent units keep Σx·y inside int64); θ and both diffs are
    pinned double combinations of those sums — bit-identical on both
    engines, no per-row float adjustment is ever materialized.

    Scale: one per-customer rollup on the fact table's own key, one
    conditional-moment pass; the 1-row period midpoint broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.expr(
            "(cast(min(unix_micros(o_orderdate)) as long)"
            " + cast(max(unix_micros(o_orderdate)) as long)) div 2"
        ).alias("mid_us")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = (
        orders.join(F.broadcast(span))
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "cast(sum(case when unix_micros(o_orderdate) < mid_us "
                "then cast(round(o_totalprice * 100) as long) else 0 end) as long)"
                " div 1000"
            ).alias("x"),
            F.expr(
                "cast(sum(case when unix_micros(o_orderdate) >= mid_us "
                "then cast(round(o_totalprice * 100) as long) else 0 end) as long)"
                " div 1000"
            ).alias("y"),
        )
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            "c_custkey",
            (F.col("c_mktsegment") == "BUILDING").cast("long").alias("t"),
        )
    )
    v = per_cust.join(
        F.broadcast(cust), per_cust.o_custkey == cust.c_custkey
    ).select("t", "x", "y")
    m = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.col("t") * F.col("x")).cast("long").alias("sxt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("syt"),
    )
    n_d, nt_d = F.col("n").cast("double"), F.col("nt").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d, sxx_d = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    sxt_d, syt_d = F.col("sxt").cast("double"), F.col("syt").cast("double")
    nc_d = (F.col("n") - F.col("nt")).cast("double")
    syc_d = (F.col("sy") - F.col("syt")).cast("double")
    sxc_d = (F.col("sx") - F.col("sxt")).cast("double")
    theta = (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d)
    raw_diff = syt_d / nt_d - syc_d / nc_d
    x_diff = sxt_d / nt_d - sxc_d / nc_d
    return m.select(
        "n",
        "nt",
        theta.alias("theta"),
        raw_diff.alias("raw_diff"),
        (raw_diff - theta * x_diff).alias("adj_diff"),
    )
