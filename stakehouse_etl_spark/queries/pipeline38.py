"""Data-pipeline queries, wave 38: rule mining and aggregate audits.

- association rules (support / confidence / lift) from co-purchases
- referential-integrity orphan audit across the FK chain
- Simpson's-paradox detector (aggregate-vs-stratified reversal)

All ratios are int64 numerator/denominator pairs with one division at
the edge; direction comparisons are cross-multiplied in int64 so no
float ever decides a flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Association rules with support / confidence / lift
# ---------------------------------------------------------------------------
@register(
    "ml_lift_confidence_rules",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM li),
item AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
  FROM li GROUP BY l_partkey
),
pair AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons,
         CAST(count(*) AS BIGINT) AS n_both
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT ante, cons, n_both, ia.n_item AS n_ante, ic.n_item AS n_cons,
       CAST(n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
       CAST(n_both * n_baskets AS DOUBLE)
         / CAST(ia.n_item * ic.n_item AS DOUBLE) AS lift
FROM pair
JOIN item ia ON pair.ante = ia.l_partkey
JOIN item ic ON pair.cons = ic.l_partkey
CROSS JOIN nb
ORDER BY CAST(n_both * n_baskets AS DOUBLE)
           / CAST(ia.n_item * ic.n_item AS DOUBLE) DESC,
         ante, cons
LIMIT 25
""",
)
def ml_lift_confidence_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: directed rules
    ante→cons ranked by LIFT = P(both)/(P(ante)·P(cons)) with
    CONFIDENCE = P(cons|ante) — the step beyond raw co-occurrence
    counts (``graph_copurchase_pairs``) that recommenders act on.
    Rules are directed, so the basket self-join keeps both
    orientations (<> not <); the support floor (≥3 baskets) prunes
    the noise tail before the dimension joins. Confidence and lift
    are single divisions of exact int64 counts (lift's numerator
    cross-multiplied by the basket total), so ranking is
    bit-deterministic on both engines.

    Scale: pair generation is bounded by Σ basket² (baskets ≤ 13
    lines); item counts and the 1-row basket total broadcast; top-25
    is a TakeOrderedAndProject."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    nb = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ante"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("cons"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("ante"), F.col("n_item").alias("n_ante"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_cons"))
    r = (
        pair.join(ia, "ante")
        .join(ic, "cons")
        .join(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "n_both",
            "n_ante",
            "n_cons",
            (F.col("n_both").cast("double") / F.col("n_ante").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_both") * F.col("n_baskets")).cast("double")
                / (F.col("n_ante") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
    )
    return r.orderBy(F.desc("lift"), "ante", "cons").limit(25)


# ---------------------------------------------------------------------------
# Referential-integrity orphan audit
# ---------------------------------------------------------------------------
@register(
    "dq_referential_orphans",
    oracle="""
SELECT 'lineitem->orders' AS fk,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
              )) AS BIGINT) AS n_orphan
UNION ALL
SELECT 'orders->customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
              WHERE NOT EXISTS (
                SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
              )) AS BIGINT)
UNION ALL
SELECT 'customer->nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
              WHERE NOT EXISTS (
                SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey
              )) AS BIGINT)
ORDER BY fk
""",
)
def dq_referential_orphans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit down the fact chain — child rows
    whose parent key does not exist (lineitem→orders,
    orders→customer, customer→nation). This is the referential twin
    of the column-level ``dq_constraint_report``: upsert sinks and
    late-arriving-dimension handling (``j23_late_dim_inferred``) both
    assume these counts are zero, and this query is the gate that
    proves it per batch. Each row is an ANTI-JOIN count (left-anti =
    NOT EXISTS), no row data moved.

    Scale: anti joins against key-only projections; the
    nation/customer parents broadcast, the orders parent shuffles on
    the same orderkey the fact table is already keyed by."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def audit(name: str, child: DataFrame, key, parent: DataFrame, pkey) -> DataFrame:
        n_child = child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        n_orphan = (
            child.join(parent, child[key] == parent[pkey], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphan"))
        )
        return (
            n_child.join(n_orphan)
            .select(F.lit(name).alias("fk"), "n_child", "n_orphan")
        )

    out = (
        audit("lineitem->orders", li, "l_orderkey", orders.select("o_orderkey"), "o_orderkey")
        .unionAll(audit("orders->customer", orders, "o_custkey", cust.select("c_custkey"), "c_custkey"))
        .unionAll(audit("customer->nation", cust, "c_nationkey", nation, "n_nationkey"))
    )
    return out.orderBy("fk")


# ---------------------------------------------------------------------------
# Simpson's-paradox detector
# ---------------------------------------------------------------------------
@register(
    "ml_simpsons_audit",
    oracle="""
WITH base AS (
  SELECT n_name,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 'a' ELSE 'b' END AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
strat AS (
  SELECT n_name,
         CAST(sum(CASE WHEN grp = 'a' THEN cents END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN grp = 'b' THEN cents END) AS BIGINT) AS sb,
         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM base GROUP BY n_name
),
tot AS (
  SELECT CAST(sum(sa) AS BIGINT) AS tsa, CAST(sum(na) AS BIGINT) AS tna,
         CAST(sum(sb) AS BIGINT) AS tsb, CAST(sum(nb) AS BIGINT) AS tnb
  FROM strat
)
SELECT n_name, na, nb,
       CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS avg_a,
       CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS avg_b,
       CASE WHEN sa * nb > sb * na THEN 1
            WHEN sa * nb < sb * na THEN -1 ELSE 0 END AS stratum_sign,
       CASE WHEN tsa * tnb > tsb * tna THEN 1
            WHEN tsa * tnb < tsb * tna THEN -1 ELSE 0 END AS overall_sign,
       (CASE WHEN sa * nb > sb * na THEN 1
             WHEN sa * nb < sb * na THEN -1 ELSE 0 END)
         * (CASE WHEN tsa * tnb > tsb * tna THEN 1
                 WHEN tsa * tnb < tsb * tna THEN -1 ELSE 0 END) = -1
         AS reversed
FROM strat CROSS JOIN tot
WHERE na > 0 AND nb > 0
ORDER BY n_name
""",
)
def ml_simpsons_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector: does "segment A out-spends segment
    B" hold overall but FLIP inside individual nations (or vice
    versa)? The classic aggregation trap in experiment readouts and
    cohort dashboards. Mean comparisons are decided by int64
    CROSS-MULTIPLICATION (sa·nb vs sb·na) — no float ever picks a
    sign, so the reversal flag is exact; the displayed averages are
    single divisions for humans only.

    Scale: one grouped pass for the strata, a 1-row overall total
    broadcast back — the same two-level rollup shape as
    ``a_rollup_region_nation``."""
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer")
                .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
                .select("c_custkey", "c_mktsegment", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.when(F.col("c_mktsegment") == "BUILDING", "a").otherwise("b").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    strat = base.groupBy("n_name").agg(
        F.sum(F.when(F.col("grp") == "a", F.col("cents"))).cast("long").alias("sa"),
        F.sum((F.col("grp") == "a").cast("long")).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == "b", F.col("cents"))).cast("long").alias("sb"),
        F.sum((F.col("grp") == "b").cast("long")).cast("long").alias("nb"),
    )
    tot = strat.agg(
        F.sum("sa").cast("long").alias("tsa"),
        F.sum("na").cast("long").alias("tna"),
        F.sum("sb").cast("long").alias("tsb"),
        F.sum("nb").cast("long").alias("tnb"),
    )
    sgn = lambda l, r: F.when(l > r, 1).when(l < r, -1).otherwise(0)  # noqa: E731
    m = strat.join(F.broadcast(tot)).filter((F.col("na") > 0) & (F.col("nb") > 0))
    stratum_sign = sgn(F.col("sa") * F.col("nb"), F.col("sb") * F.col("na"))
    overall_sign = sgn(F.col("tsa") * F.col("tnb"), F.col("tsb") * F.col("tna"))
    return m.select(
        "n_name",
        "na",
        "nb",
        (F.col("sa").cast("double") / F.col("na").cast("double")).alias("avg_a"),
        (F.col("sb").cast("double") / F.col("nb").cast("double")).alias("avg_b"),
        stratum_sign.cast("int").alias("stratum_sign"),
        overall_sign.cast("int").alias("overall_sign"),
        ((stratum_sign * overall_sign) == -1).alias("reversed"),
    ).orderBy("n_name")
