"""Wave 18: the portable-SQL surface — ONE SQL text, TWO engines.

Every query here is a single ANSI-SQL string that Spark executes
verbatim via ``spark.sql`` over the registered table views AND the
DuckDB oracle executes verbatim over the same parquet — the oracle
field *is* the query text. This is the strongest form of the
compatibility claim: a reference user's SQL runs unchanged on this
engine (SURVEY §3.3's serving path is SQL-shaped; the reference's
pandas relational ops all reduce to these constructs).

Portability rules (what keeps one text valid + value-identical in
both dialects): ANSI joins/CTEs/set-ops/window functions, ``CAST(..
AS BIGINT)`` on every count/rank (Spark's INT vs DuckDB's BIGINT
would hash-mismatch), integer cents via ``round(x * 100)``, ``||``
for string concat, no dialect-specific functions (no ``div``/``//``,
no ``epoch_us``/``unix_micros``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stakehouse_etl_spark.io.sources import register_views
from stakehouse_etl_spark.queries.registry import register

_PORTABLE: dict[str, str] = {
    # join + rollup: the nation x priority revenue cube every serving
    # endpoint variant reduces to
    "sql_portable_join_agg": """
SELECT n_name, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_orderpriority
""",
    # window: top-3 orders per priority through a ranked subquery
    "sql_portable_window_topn": """
SELECT o_orderpriority, o_orderkey, cents, rn
FROM (
  SELECT o_orderpriority, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders
) t
WHERE rn <= 3
""",
    # set ops: segments' customers with vs without open orders
    "sql_portable_setops": """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
    # CTE + CASE + string ops over the union of two derived tables
    "sql_portable_cte_case": """
WITH big AS (
  SELECT o_custkey AS k, 'big' AS tier
  FROM orders WHERE o_totalprice > 200000
),
small AS (
  SELECT o_custkey AS k, 'small' AS tier
  FROM orders WHERE o_totalprice < 2000
),
u AS (SELECT * FROM big UNION ALL SELECT * FROM small)
SELECT upper(tier) || ':' || CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END
         AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM u GROUP BY 1
""",
    # correlated EXISTS — the reference's "has activity" predicates
    "sql_portable_exists": """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_active_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
)
GROUP BY c_mktsegment
""",
    # ROLLUP with grouping() disambiguation of the NULL subtotal rows
    "sql_portable_rollup": """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       CAST(grouping(r_name) AS BIGINT) AS g_region,
       CAST(grouping(n_name) AS BIGINT) AS g_nation,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    # HAVING against a scalar subquery (global average)
    "sql_portable_having_scalar": """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer
GROUP BY c_nationkey
HAVING sum(CAST(round(c_acctbal * 100) AS BIGINT))
       > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 50
          FROM customer)
""",
    # LEFT JOIN + COALESCE default fill (J10 in pure portable SQL)
    "sql_portable_left_coalesce": """
SELECT c.c_custkey,
       CAST(coalesce(t.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(t.cents, 0) AS BIGINT) AS total_cents
FROM customer c
LEFT JOIN (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
) t ON t.o_custkey = c.c_custkey
""",
    # window VALUE functions with explicit frames (first/last/nth/lag)
    "sql_portable_window_values": """
SELECT o_custkey, o_orderkey,
       CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_ok,
       CAST(last_value(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS BIGINT) AS last_ok,
       CAST(nth_value(o_orderkey, 2) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS BIGINT) AS second_ok,
       CAST(lag(o_orderkey, 1, -1) OVER w AS BIGINT) AS prev_ok
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    # bitwise aggregates over integer keys
    "sql_portable_bitwise_agg": """
SELECT o_orderpriority,
       CAST(bit_and(o_custkey) AS BIGINT) AS key_and,
       CAST(bit_or(o_custkey) AS BIGINT) AS key_or,
       CAST(bit_xor(o_custkey) AS BIGINT) AS key_xor
FROM orders
GROUP BY o_orderpriority
""",
    # FILTER-clause conditional aggregation (pivot-free pivoting)
    "sql_portable_filter_agg": """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
         AS open_cents
FROM orders
GROUP BY o_orderpriority
""",
    # null-safe anti membership: NOT EXISTS instead of NOT IN (which
    # both engines NULL-poison identically, but NOT EXISTS states the
    # intent without the trap)
    "sql_portable_not_exists": """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_without_big_order
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 250000
)
GROUP BY n_name
""",
}


def _mk(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


for _name, _sql in _PORTABLE.items():
    register(_name, oracle=_sql)(_mk(_sql))


# ---------------------------------------------------------------------------
# Decontamination APPLY: per-source keep/drop ledger
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F  # noqa: E402

from stakehouse_etl_spark.io.sources import load_table  # noqa: E402

_DECON_PCT = 10  # drop training docs with >10% eval-shingle overlap


def _decon_sql() -> str:
    from stakehouse_etl_spark.queries.pipeline2 import _BENCH_IN

    return f"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ))) AS shingle
  FROM t
),
s2 AS (SELECT * FROM s WHERE shingle <> ''),
b AS (SELECT DISTINCT shingle FROM s2 WHERE source IN ({_BENCH_IN})),
e AS (SELECT doc_id, source, shingle FROM s2
      WHERE source NOT IN ({_BENCH_IN})),
c AS (SELECT doc_id, source, count(*) AS n_sh FROM e GROUP BY 1, 2),
m AS (
  SELECT doc_id, count(*) AS n_matched
  FROM e JOIN b USING (shingle) GROUP BY 1
),
d AS (
  SELECT c.source,
         coalesce(m.n_matched, 0) * 100 > c.n_sh * {_DECON_PCT}
           AS dropped
  FROM c LEFT JOIN m USING (doc_id)
)
SELECT source,
       CAST(sum(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM d GROUP BY source
"""


@register(
    "corpus_decontaminate_counts",
    oracle=_decon_sql(),
)
def corpus_decontaminate_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination APPLY step (``text_contamination_overlap``
    is the measure; this is the decision): training docs whose
    eval-set shingle overlap exceeds the cross-multiplied threshold
    are dropped, and the per-source kept/dropped counts — the number
    a corpus release publishes — come back. The eval set is the
    {src0,src1} sources, matching the screen query's convention.

    Scale shape: shingle semi-join against the (comparatively tiny,
    broadcastable) eval shingle set; no all-pairs comparison.
    """
    from stakehouse_etl_spark.operators.text import (
        fan_out,
        shingles_from_toks,
        tokens,
    )
    from stakehouse_etl_spark.queries.pipeline2 import _BENCH_SOURCES

    docs = load_table(spark, sf_dir, "documents")
    # Token array bound before the explode (r11): inline
    # shingles(text) re-splits the text ~7x per doc (see doc_shingles).
    sh = (
        fan_out(docs)
        .withColumn("__toks", tokens(F.col("text")))
        .select(
            "doc_id",
            "source",
            F.explode(shingles_from_toks(F.col("__toks"))).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )
    bench = (
        sh.filter(F.col("source").isin(*_BENCH_SOURCES))
        .select("shingle")
        .distinct()
    )
    train = sh.filter(~F.col("source").isin(*_BENCH_SOURCES))
    counts = train.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    matched = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    d = counts.join(matched, "doc_id", "left").select(
        "source",
        (
            F.coalesce(F.col("n_matched"), F.lit(0)) * 100
            > F.col("n_sh") * _DECON_PCT
        ).alias("dropped"),
    )
    return d.groupBy("source").agg(
        F.sum(F.when(F.col("dropped"), 0).otherwise(1)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0)).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile (portable integer weekday arithmetic)
# ---------------------------------------------------------------------------
@register(
    "ts_weekday_profile",
    oracle="""
WITH e AS (
  SELECT (CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) + 4) % 7
           AS weekday,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
)
SELECT weekday,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS cents_sum
FROM e GROUP BY weekday
""",
)
def ts_weekday_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality profile of the event stream — the
    day-of-week effect a capacity plan or anomaly baseline subtracts
    first. The weekday is computed with pure integer unix-day
    arithmetic ((days since epoch + 4) mod 7, Thursday-anchored)
    because the engines DISAGREE on day-of-week numbering (Spark
    ``dayofweek`` is 1=Sunday, DuckDB ``dow`` is 0=Sunday) — the
    integer form is the portable one, and stays exact.
    """
    e = load_table(spark, sf_dir, "events").select(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("long")
        .alias("weekday"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return e.groupBy("weekday").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("cents_sum"),
    )


# ---------------------------------------------------------------------------
# Exact global median without a single-partition window
# ---------------------------------------------------------------------------
@register(
    "a_median_exact_global",
    oracle="""
WITH s AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk
  FROM orders
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM s)
SELECT n.n_rows,
       CAST((SELECT cents FROM s WHERE rnk = (n.n_rows + 1) // 2) AS BIGINT)
         AS lo_cents,
       CAST((SELECT cents FROM s WHERE rnk = n.n_rows // 2 + 1) AS BIGINT)
         AS hi_cents,
       CAST((SELECT cents FROM s WHERE rnk = (n.n_rows + 1) // 2)
            + (SELECT cents FROM s WHERE rnk = n.n_rows // 2 + 1)
            AS BIGINT) AS median_x2
FROM n
""",
)
def a_median_exact_global_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median at scale — the textbook "you can't sort
    100 TB on one task" question, answered with the two-phase
    ``skew_resistant_rank``: rank every row without a
    single-partition window, then fetch the two middle ranks (odd n:
    same row twice). The median is returned ×2 as an integer
    (``median_x2``) so even-n interpolation never touches floats.
    """
    from stakehouse_etl_spark.operators.windows import skew_resistant_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = skew_resistant_rank(
        o, value="o_totalprice", id_col="o_orderkey", out="rnk",
        descending=False,
    )
    n = o.count()
    lo_rank, hi_rank = (n + 1) // 2, n // 2 + 1
    mids = (
        ranked.filter(F.col("rnk").isin(lo_rank, hi_rank))
        .select("rnk", "cents")
        .collect()
    )
    by_rank = {r.rnk: r.cents for r in mids}
    lo, hi = by_rank[lo_rank], by_rank[hi_rank]
    return spark.createDataFrame(
        [(n, lo, hi, lo + hi)],
        "n_rows long, lo_cents long, hi_cents long, median_x2 long",
    )


# ---------------------------------------------------------------------------
# Symmetric difference of two key sets (U-family completeness)
# ---------------------------------------------------------------------------
@register(
    "u5_symmetric_diff",
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_orderstatus = 'O'),
b AS (SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderstatus = 'F'),
sym AS (
  (SELECT k FROM a EXCEPT SELECT k FROM b)
  UNION ALL
  (SELECT k FROM b EXCEPT SELECT k FROM a)
)
SELECT k AS custkey,
       CAST(CASE WHEN k IN (SELECT k FROM a) THEN 1 ELSE 2 END AS BIGINT)
         AS only_in
FROM sym
""",
)
def u5_symmetric_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference of two derived key sets (customers with
    ONLY open vs ONLY finished orders) with a provenance tag — the
    set-op family's last member (U1 union, U2 except, U3 dedup, U4
    intersect-all already covered). Two EXCEPTs + union; each leg is
    a hash anti-join on the key.
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter("o_orderstatus = 'O'").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    b = o.filter("o_orderstatus = 'F'").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    only_a = a.join(b, "custkey", "left_anti").withColumn(
        "only_in", F.lit(1).cast("long")
    )
    only_b = b.join(a, "custkey", "left_anti").withColumn(
        "only_in", F.lit(2).cast("long")
    )
    return only_a.unionByName(only_b)
