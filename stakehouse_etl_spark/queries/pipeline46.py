"""Data-pipeline queries, wave 46: risk metrics and recursive
hierarchy closure.

- maximum drawdown per user (running-peak window composition, exact
  integer cents)
- recursive ancestor closure + subtree rollup — VERBATIM-portable
  WITH RECURSIVE text (enumeration in the recursion, aggregation
  outside — the legal recursive-aggregate decomposition)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table, register_views
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Maximum drawdown
# ---------------------------------------------------------------------------
@register(
    "ts_max_drawdown",
    oracle="""
WITH v AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
c1 AS (
  SELECT user_id, ts_us, event_id,
         CAST(sum(cents) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
         ) AS BIGINT) AS cum
  FROM v
),
c AS (
  SELECT user_id, cum,
         CAST(max(cum) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
         ) AS BIGINT) AS peak
  FROM c1
),
d AS (
  SELECT user_id,
         CAST(max(peak - cum) AS BIGINT) AS max_drawdown_cents,
         CAST(max(peak) AS BIGINT) AS peak_cents,
         CAST(count(*) AS BIGINT) AS n_events
  FROM c GROUP BY user_id
)
SELECT user_id, n_events, peak_cents, max_drawdown_cents
FROM d
ORDER BY max_drawdown_cents DESC, user_id
LIMIT 100
""",
)
def ts_max_drawdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN per user over the cumulative value series —
    the worst peak-to-trough fall, the risk metric that pairs with
    the W1 cumulative-income kernel (same reference loop,
    ``reference/src/validator_income_handler.py:103-133``, different
    reduction). Composed windows: running sum → running max of that
    sum (the historical peak) → max(peak − cum) per user; all exact
    integer cents, top-100 worst drawdowns via TakeOrderedAndProject.

    Scale: ONE hash shuffle on user_id serves both window passes
    (same partitioning, same ordering — Spark plans a single
    Exchange + Sort feeding both WindowExecs); the final rollup
    reuses the same keys map-side."""
    v = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.withColumn("cum", F.sum("cents").over(w).cast("long")).withColumn(
        "peak", F.max("cum").over(w).cast("long")
    )
    d = c.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("cum")).cast("long").alias("max_drawdown_cents"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return d.select(
        "user_id", "n_events", "peak_cents", "max_drawdown_cents"
    ).orderBy(F.desc("max_drawdown_cents"), "user_id").limit(100)


# ---------------------------------------------------------------------------
# Portable recursive ancestor closure + rollup
# ---------------------------------------------------------------------------
_CLOSURE_SQL = """
WITH RECURSIVE spend AS (
  SELECT o_custkey AS node,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
closure AS (
  SELECT node, node AS anc, cents FROM spend
  UNION ALL
  SELECT node, CAST(floor(anc / 10.0) AS BIGINT) AS anc, cents
  FROM closure WHERE anc > 0
)
SELECT anc,
       CAST(count(*) AS BIGINT) AS n_desc,
       CAST(sum(cents) AS BIGINT) AS subtree_cents
FROM closure
GROUP BY anc
HAVING count(*) > 1
ORDER BY anc
"""


def _closure_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_CLOSURE_SQL)


register(
    "sql_portable_recursive_closure",
    oracle=_CLOSURE_SQL,
)(_closure_run)
_closure_run.__doc__ = """Recursive ANCESTOR CLOSURE over the custkey
radix tree (parent = key div 10, ~5 levels) with the subtree spend
rollup applied OUTSIDE the recursion — the legal decomposition for
"aggregate over a recursive hierarchy" (aggregates are not allowed in
the recursive term in either engine). The WITH RECURSIVE text runs
VERBATIM on Spark 4 and DuckDB, and its result is the recursive twin
of the unrolled-join ``graph_tree_rollup`` — two formulations, one
answer. Note the parent step is `CAST(floor(anc / 10.0) AS BIGINT)`,
not `anc / 10`: plain `/` is float division in DuckDB but the
truncation direction of a double→int CAST differs between engines,
so the portable integer division is floor-then-cast (exact for keys
far below 2^53).

Scale: closure size = nodes × depth (≈5× the node count), generated
breadth-first by the engine; the rollup is one grouped pass over
that linear-size closure — never quadratic."""
