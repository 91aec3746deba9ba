"""Data-pipeline queries, wave 31: sequence mining, robust location,
optimizer observability, and portable-SQL surface growth.

- per-session event-path trigrams (top-20 navigation paths)
- two-sided trimmed mean (exact rank-bounded)
- histogram join-cardinality estimator vs ground truth
- portable SQL: GROUP BY ALL, LATERAL subquery, VALUES constructor
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table, register_views
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.registry import register

TRIM_PCT = 5
HIST_BUCKETS = 16


# ---------------------------------------------------------------------------
# Event-path trigrams (sequence mining)
# ---------------------------------------------------------------------------
@register(
    "ts_path_trigrams",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
l AS (
  SELECT event_type AS c,
         lag(event_type, 1) OVER win AS b,
         lag(event_type, 2) OVER win AS a
  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
p AS (
  SELECT a || '>' || b || '>' || c AS path, CAST(count(*) AS BIGINT) AS n
  FROM l WHERE a IS NOT NULL GROUP BY 1
)
SELECT path, n,
       CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk
FROM p ORDER BY n DESC, path LIMIT 20
""",
)
def ts_path_trigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 navigation paths: the trigrams of each user's
    time-ordered event-type sequence — product analytics' "what do
    users actually do" query (funnel discovery without pre-declaring
    the funnel). Both lags ride ONE per-user window; the path counts
    shrink to ≤|types|³ rows before the TakeOrdered top-20, so the
    global ordering is metadata-sized. Total tie order (count DESC,
    path) keeps ranks engine-exact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    l = e.select(
        F.col("event_type").alias("c"),
        F.lag("event_type", 1).over(win).alias("b"),
        F.lag("event_type", 2).over(win).alias("a"),
    ).filter(F.col("a").isNotNull())
    p = (
        l.select(
            F.concat_ws(">", F.col("a"), F.col("b"), F.col("c")).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = p.orderBy(F.desc("n"), F.asc("path")).limit(20)
    # bounded input: the window runs AFTER .limit(20) — ≤20 rows flow
    # through it at any data scale; the path-cardinality work above is
    # the partial top-k (TakeOrderedAndProject), not this window
    w = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Two-sided trimmed mean
# ---------------------------------------------------------------------------
@register(
    "a_trimmed_mean",
    oracle=f"""
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS rnk,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(cents) AS BIGINT) AS kept_sum,
       CAST(sum(cents) AS DOUBLE) / count(*) AS trimmed_mean_cents
FROM r
WHERE rnk > n * {TRIM_PCT} / 100 AND rnk <= n - n * {TRIM_PCT} / 100
""",
)
def a_trimmed_mean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided {TRIM_PCT}% trimmed mean — DROP the tails entirely
    (the robust-location complement of ``ml_winsorize_clip``, which
    CLAMPS them): rank every value, keep the middle 90%, average
    exactly (int64 sum, one division). Rank bounds are integer
    arithmetic on (rank, n) so the kept set is identical in both
    engines; the rank itself is the engine's two-phase chunked
    decomposition — no single-partition window."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = skew_resistant_rank(
        o, "cents", "o_orderkey", out="rnk", descending=False
    )
    n = o.agg(F.count(F.lit(1)).alias("n"))
    kept = ranked.crossJoin(F.broadcast(n)).filter(
        (F.col("rnk") > F.col("n") * TRIM_PCT / 100)
        & (F.col("rnk") <= F.col("n") - F.col("n") * TRIM_PCT / 100)
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("cents").alias("kept_sum"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias(
            "trimmed_mean_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Histogram join-cardinality estimator vs ground truth
# ---------------------------------------------------------------------------
@register(
    "dq_join_cardinality_estimate",
    oracle=f"""
WITH bounds AS (
  SELECT min(c_custkey) AS lo,
         (max(c_custkey) - min(c_custkey)) / {HIST_BUCKETS} + 1 AS width
  FROM customer
),
ck AS (
  SELECT CAST(floor((c_custkey - lo) / width) AS BIGINT) AS bucket,
         c_custkey AS k
  FROM customer CROSS JOIN bounds
),
ok AS (
  SELECT CAST(floor((o_custkey - lo) / width) AS BIGINT) AS bucket,
         o_custkey AS k
  FROM orders CROSS JOIN bounds
),
ha AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS na,
         CAST(count(DISTINCT k) AS BIGINT) AS da
  FROM ok GROUP BY 1
),
hb AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS nb,
         CAST(count(DISTINCT k) AS BIGINT) AS db
  FROM ck GROUP BY 1
),
actual AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS actual_rows FROM (
    SELECT CAST(floor((o_custkey - lo) / width) AS BIGINT) AS bucket
    FROM orders JOIN customer ON o_custkey = c_custkey CROSS JOIN bounds
  ) GROUP BY 1
)
SELECT ha.bucket, na, da, nb, db,
       CAST(na AS DOUBLE) * nb
         / CASE WHEN da > db THEN da ELSE db END AS est_rows,
       coalesce(actual_rows, 0) AS actual_rows
FROM ha JOIN hb ON ha.bucket = hb.bucket
LEFT JOIN actual ON ha.bucket = actual.bucket
""",
)
def dq_join_cardinality_estimate_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The System-R join-size estimator made observable: bucket both
    join inputs into {HIST_BUCKETS} equi-width key ranges, estimate
    each bucket's join output as na·nb/max(da,db) (containment
    assumption), and put the EXACT per-bucket join count next to it.
    This is the number a cost-based optimizer bets shuffle strategy
    on — materializing estimate-vs-actual per range is how a data
    platform audits whether its stats are lying (skewed buckets show
    est ≪ actual). Histograms are two grouped counts; ground truth is
    the real join aggregated by bucket."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    bounds = c.agg(
        F.min("k").alias("lo"),
        ((F.max("k") - F.min("k")) / HIST_BUCKETS + 1)
        .cast("double")
        .alias("width"),
    )
    def bucketed(df: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(bounds)).select(
            F.floor((F.col("k") - F.col("lo")) / F.col("width"))
            .cast("long")
            .alias("bucket"),
            "k",
        )

    ha = bucketed(o).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("na"), F.countDistinct("k").alias("da")
    )
    hb = bucketed(c).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("nb"), F.countDistinct("k").alias("db")
    )
    actual = (
        bucketed(o.join(c, "k").select("k"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    est = F.col("na").cast("double") * F.col("nb") / F.greatest(
        F.col("da"), F.col("db")
    )
    return (
        ha.join(hb, "bucket")
        .join(actual, "bucket", "left")
        .select(
            "bucket",
            "na",
            "da",
            "nb",
            "db",
            est.alias("est_rows"),
            F.coalesce(F.col("actual_rows"), F.lit(0)).alias("actual_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Portable-SQL surface growth (same one-text-two-engines contract)
# ---------------------------------------------------------------------------
_PORTABLE31: dict[str, str] = {
    # GROUP BY ALL — the analyst-ergonomics form both engines support
    "sql_portable_group_by_all": """
SELECT n_name, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ALL
""",
    # LATERAL correlated subquery — per-row derived table
    "sql_portable_lateral": """
SELECT n_name, t.n_cust, t.max_bal_cents
FROM nation,
LATERAL (
  SELECT CAST(count(*) AS BIGINT) AS n_cust,
         CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS max_bal_cents
  FROM customer WHERE c_nationkey = n_nationkey
) AS t
""",
    # VALUES constructor joined against real data
    "sql_portable_values_join": """
SELECT v.tier, CAST(count(*) AS BIGINT) AS n
FROM (VALUES ('BUILDING', 'core'), ('MACHINERY', 'core'),
             ('FURNITURE', 'other')) AS v(seg, tier)
JOIN customer ON c_mktsegment = v.seg
GROUP BY v.tier
""",
}


def _mk31(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


for _name, _sql in _PORTABLE31.items():
    register(_name, oracle=_sql)(_mk31(_sql))
