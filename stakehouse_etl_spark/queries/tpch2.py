"""TPC-H shapes Q2/Q9/Q11/Q12/Q15/Q20/Q21 — completing the 22-query
set (Q1 ≡ ``a1_pricing_summary``; the rest live in ``extra.py``).

The driver's tables have no ``partsupp`` and no
``l_shipmode/l_commitdate/l_receiptdate``, so the shapes that need
them emulate: part–supplier cost pairs come from grouped lineitem
(partkey, suppkey), ship modes from ``l_linestatus``, and Q21's
"kept waiting" from ``l_returnflag = 'R'``. The *plan shapes* —
correlated-min decorrelation, scalar-subquery thresholds, grouped
conditional counts, semi/anti self-joins — are the real coverage.

All money goes through integer cents/ten-thousandths so the DuckDB
oracle hashes bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


def _ps_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emulated partsupp: per (partkey, suppkey), min line price as the
    supply cost in exact cents."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cost_c"))


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier per part (correlated MIN, decorrelated)
# ---------------------------------------------------------------------------
@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
  FROM lineitem GROUP BY 1, 2
), eligible AS (
  SELECT ps_partkey, ps_suppkey, cost_c, s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), mincost AS (
  SELECT ps_partkey, min(cost_c) AS min_cost_c FROM eligible GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       cost_c / 100.0 AS supplycost
FROM eligible e
JOIN mincost m ON e.ps_partkey = m.ps_partkey AND e.cost_c = m.min_cost_c
JOIN part ON p_partkey = e.ps_partkey
WHERE p_size <= 10
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated scalar-MIN subquery ("supplier
    with the minimum cost for this part in this region") decorrelated
    into a grouped-min + equi-join-back — the same J1
    greatest-n-per-group pattern at plan level (the reference's
    max-epoch self-join, src/validator_income_handler.py:31-34, is the
    MAX twin). Exact integer cents make the min-equality join safe."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    eligible = (
        _ps_cost(spark, sf_dir)
        .join(F.broadcast(s), F.col("ps_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_suppkey", "cost_c", "s_acctbal", "s_name", "n_name")
    )
    mincost = eligible.groupBy("ps_partkey").agg(F.min("cost_c").alias("min_cost_c"))
    return (
        eligible.join(
            mincost,
            (eligible.ps_partkey == mincost.ps_partkey)
            & (eligible.cost_c == mincost.min_cost_c),
        )
        .drop(mincost.ps_partkey)
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            (F.col("cost_c") / 100.0).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit by nation and year
# ---------------------------------------------------------------------------
@register(
    "tpch_q9_product_profit",
    oracle="""
SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       sum(CAST(round((l_extendedprice * (1 - l_discount)
                       - p_retailprice * l_quantity * 0.1) * 100) AS BIGINT))
         / 100.0 AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY supp_nation, o_year
""",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus emulated supply cost —
    10% of retail price per unit, standing in for ps_supplycost) per
    supplier nation per order year, with a LIKE filter on part name
    (F7 string predicate pushed as a Contains to the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit_c = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity") * 0.1
        )
        * 100
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit_c) / 100.0).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q11 — important stock (global scalar-fraction threshold)
# ---------------------------------------------------------------------------
@register(
    "tpch_q11_important_stock",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS p_key,
         sum(CAST(round(l_extendedprice * l_quantity * 100) AS BIGINT)) AS value_c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2')
  GROUP BY 1
), total AS (SELECT sum(value_c) AS tot_c FROM ps)
SELECT p_key, value_c / 100.0 AS value
FROM ps, total
WHERE value_c * 1000 > tot_c
ORDER BY value DESC, p_key
""",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value filtered against a
    fraction (1/1000) of the GLOBAL total — a scalar subquery
    broadcast as a 1-row cross join. The comparison stays in exact
    integers (value*1000 > total) so no float boundary can flip."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    ps = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_quantity") * 100).cast(
                    "long"
                )
            ).alias("value_c")
        )
    )
    total = ps.agg(F.sum("value_c").alias("tot_c"))
    return (
        ps.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 1000 > F.col("tot_c"))
        .select("p_key", (F.col("value_c") / 100.0).alias("value"))
        .orderBy(F.desc("value"), "p_key")
    )


# ---------------------------------------------------------------------------
# Q12 — shipmode priority counts (conditional aggregation)
# ---------------------------------------------------------------------------
@register(
    "tpch_q12_shipmode_priority",
    oracle="""
SELECT l_linestatus AS shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY shipmode
ORDER BY shipmode
""",
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⋈fact join then per-group conditional
    counts (the high/low priority split) — the same F5 CASE-WHEN
    banding the reference uses for health scores
    (src/api_handler.py:470-475), at fact-table scale.
    l_linestatus stands in for the absent l_shipmode."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar MAX subquery, exact integer equality)
# ---------------------------------------------------------------------------
@register(
    "tpch_q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
           AS total_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_c / 10000.0 AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_c = (SELECT max(total_c) FROM revenue)
ORDER BY s_suppkey
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue view + the supplier(s)
    hitting the global MAX — a 1-row broadcast threshold join. The
    max-equality predicate works on exact integer ten-thousandths, so
    ties are handled identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast(
                "long"
            )
        ).alias("total_c")
    )
    top = revenue.agg(F.max("total_c").alias("max_c"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_c") == F.col("max_c"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", (F.col("total_c") / 10000.0).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested semi-join chain)
# ---------------------------------------------------------------------------
@register(
    "tpch_q20_part_promotion",
    oracle="""
WITH shipped AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                  THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END)
           AS recent_qty_c
  FROM lineitem GROUP BY 1, 2
), picked AS (
  SELECT DISTINCT l_suppkey
  FROM shipped
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%' AND recent_qty_c * 2 > qty_c
)
SELECT s_name, s_nationkey
FROM supplier
JOIN picked ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
ORDER BY s_name
""",
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: a nested IN-subquery chain (suppliers → parts
    with over-half-recent shipments → prefix-LIKE part names) executed
    as grouped conditional sums + semi-joins. The availqty > ½·shipped
    predicate is emulated as recent-quantity > ½·total-quantity in
    exact integer hundredths."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    recent = F.when(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"), qty_c
    ).otherwise(F.lit(0))
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty_c).alias("qty_c"), F.sum(recent).alias("recent_qty_c")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    picked = (
        shipped.join(F.broadcast(p), shipped.l_partkey == p.p_partkey, "left_semi")
        .filter(F.col("recent_qty_c") * 2 > F.col("qty_c"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    return (
        s.join(picked, s.s_suppkey == picked.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (semi + anti self-join)
# ---------------------------------------------------------------------------
@register(
    "tpch_q21_waiting_supplier",
    oracle="""
WITH l AS (
  SELECT l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN l l1 ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS / NOT-EXISTS pair over the same
    fact table — "the only supplier at fault in a multi-supplier
    finalized order" — planned as a semi-join plus an anti-join on
    (orderkey, suppkey≠) conditions. 'At fault' is emulated with
    l_returnflag = 'R' (no receipt/commit dates in the test tables)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l = li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi")
    l1 = l.filter(F.col("l_returnflag") == "R")
    l2 = l.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    )
    l3 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_key"), F.col("l_suppkey").alias("s3_key")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    )
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("o2_key")) & (l1.l_suppkey != F.col("s2_key")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3_key"))
            & (F.col("l_suppkey") != F.col("s3_key")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
