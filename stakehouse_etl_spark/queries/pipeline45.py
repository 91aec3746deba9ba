"""Data-pipeline queries, wave 45: preference queries, supervised
label generation, cross-system key reconciliation.

- 2-D Pareto skyline (non-dominated front via distinct-value collapse
  + exclusive prefix max — no O(n²) dominance join)
- leakage-safe label windows (features strictly before the cutoff,
  labels strictly after)
- key-overlap profile between two systems (containment/Jaccard)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import global_prefix_extrema
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Pareto skyline
# ---------------------------------------------------------------------------
@register(
    "w15_pareto_skyline",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM orders GROUP BY o_custkey
),
pts AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS a, s
  FROM customer JOIN spend ON c_custkey = o_custkey
),
byx AS (
  SELECT a, CAST(max(s) AS BIGINT) AS s_max,
         CAST(count(*) AS BIGINT) AS n_points
  FROM pts GROUP BY a
),
pref AS (
  SELECT a, s_max, n_points,
         max(s_max) OVER (
           ORDER BY a DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_above
  FROM byx
)
SELECT a AS acctbal_cents, s_max AS spend_cents, n_points
FROM pref
WHERE best_above IS NULL OR s_max > best_above
ORDER BY a DESC
""",
)
def w15_pareto_skyline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PARETO SKYLINE (the preference/"skyline operator" query):
    customers not dominated on (account balance, lifetime spend) —
    no other point is ≥ on both axes and > on one. Computed WITHOUT
    the O(n²) dominance join: collapse to one row per distinct
    balance (keeping max spend + multiplicity), then a single
    exclusive prefix-max sweep in descending balance order — a point
    survives iff it beats every better-balance point's spend. Exact
    integer cents; ties (equal balance) resolve to the max-spend
    representative, which is the only non-dominated one.

    Scale: the distinct-value collapse bounds the window input to
    |distinct balances| (value-domain-sized); the same two-phase
    chunked prefix as ``global_prefix_sum`` applies verbatim when
    that table outgrows one partition (max is as decomposable as
    sum)."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s")
        )
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("a")
    )
    pts = cust.join(spend, cust.c_custkey == spend.o_custkey).select("a", "s")
    byx = pts.groupBy("a").agg(
        F.max("s").cast("long").alias("s_max"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
    )
    # exclusive prefix-max in descending balance order — two-phase
    # (chunked) via the negated-key trick: strictly-before by -a asc
    # == strictly-above by a desc; distinct balances are unique so no
    # tie order exists to preserve
    pref = global_prefix_extrema(
        byx.withColumn("__na", -F.col("a")),
        id_col="__na",
        value="s_max",
        out_prev="best_above",
    ).drop("__na", "next_min")
    return (
        pref.filter(
            F.col("best_above").isNull() | (F.col("s_max") > F.col("best_above"))
        )
        .select(
            F.col("a").alias("acctbal_cents"),
            F.col("s_max").alias("spend_cents"),
            "n_points",
        )
        .orderBy(F.desc("acctbal_cents"))
    )


# ---------------------------------------------------------------------------
# Leakage-safe label windows
# ---------------------------------------------------------------------------
@register(
    "ml_label_window_split",
    oracle="""
WITH span AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS t0,
         CAST(max(epoch_us(ts)) AS BIGINT) AS t1
  FROM events
),
cuts AS (
  SELECT t0 + (t1 - t0) * k // 4 AS cutoff_us, CAST(k AS BIGINT) AS k
  FROM span, unnest([1, 2, 3]) AS g(k)
),
e AS (SELECT user_id, epoch_us(ts) AS ts_us, "value" FROM events),
lab AS (
  SELECT cuts.k, cuts.cutoff_us, e.user_id,
         CAST(sum(CASE WHEN e.ts_us < cuts.cutoff_us THEN 1 ELSE 0 END)
              AS BIGINT) AS n_before,
         CAST(sum(CASE WHEN e.ts_us < cuts.cutoff_us
                       THEN CAST(round("value" * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents_before,
         max(CASE WHEN e.ts_us >= cuts.cutoff_us
                  AND e.ts_us < cuts.cutoff_us + 604800000000
                  THEN 1 ELSE 0 END) = 1 AS label_active_7d
  FROM e CROSS JOIN cuts
  GROUP BY cuts.k, cuts.cutoff_us, e.user_id
)
SELECT k, user_id, n_before, cents_before, label_active_7d
FROM lab WHERE n_before > 0
ORDER BY k, user_id
""",
)
def ml_label_window_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE supervised-label generation: at three time
    cutoffs, build per-user features from events STRICTLY BEFORE the
    cutoff (count, exact cents volume) and the churn/activity label
    from the 7 days STRICTLY AFTER — the temporal-split discipline
    that keeps the label out of the features (the most common silent
    ML-pipeline bug). Users with no pre-cutoff history are dropped
    (nothing to featurize). One row per (cutoff, user): the training
    table, reproducible on any engine because the cutoffs derive
    from the data span in exact integer microseconds.

    Scale: the 3-row cutoff grid broadcasts; one grouped pass builds
    all three training snapshots simultaneously — no per-cutoff
    re-scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    span = ev.agg(
        F.min("ts_us").cast("long").alias("t0"),
        F.max("ts_us").cast("long").alias("t1"),
    )
    ks = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    cuts = span.join(F.broadcast(ks)).select(
        "k", F.expr("t0 + (t1 - t0) * k div 4").alias("cutoff_us")
    )
    week_us = 604800000000
    lab = (
        ev.crossJoin(F.broadcast(cuts))
        .groupBy("k", "cutoff_us", "user_id")
        .agg(
            F.sum((F.col("ts_us") < F.col("cutoff_us")).cast("long"))
            .cast("long")
            .alias("n_before"),
            F.sum(
                F.when(F.col("ts_us") < F.col("cutoff_us"), F.col("cents")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("cents_before"),
            (
                F.max(
                    (
                        (F.col("ts_us") >= F.col("cutoff_us"))
                        & (F.col("ts_us") < F.col("cutoff_us") + week_us)
                    ).cast("long")
                )
                == 1
            ).alias("label_active_7d"),
        )
    )
    return (
        lab.filter(F.col("n_before") > 0)
        .select("k", "user_id", "n_before", "cents_before", "label_active_7d")
        .orderBy("k", "user_id")
    )


# ---------------------------------------------------------------------------
# Cross-system key-overlap profile
# ---------------------------------------------------------------------------
@register(
    "dq_overlap_profile",
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
b AS (SELECT DISTINCT user_id AS k FROM events),
i AS (SELECT CAST(count(*) AS BIGINT) AS n_both
      FROM a JOIN b ON a.k = b.k),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b)
SELECT n_a, n_b, n_both,
       n_a - n_both AS only_a,
       n_b - n_both AS only_b,
       CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE) AS jaccard,
       CAST(n_both AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b_in_a
FROM i, na, nb
""",
)
def dq_overlap_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system KEY OVERLAP profile: how the order system's
    customer keys and the event system's user ids overlap —
    intersection, exclusive counts, Jaccard, and containment — the
    first question of any entity-resolution or migration
    reconciliation ("are these even the same population?"). Pure
    distinct-collapse + one equi-join on key-only projections; both
    ratios are single int64 divisions.

    Scale: each side collapses to its key set before the join (the
    join carries keys, never rows); counts broadcast into the 1-row
    profile."""
    a = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")
    ).distinct()
    i = a.join(b, "k").agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    na = a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    return (
        i.join(F.broadcast(na))
        .join(F.broadcast(nb))
        .select(
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") - F.col("n_both")).alias("only_a"),
            (F.col("n_b") - F.col("n_both")).alias("only_b"),
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
            (F.col("n_both").cast("double") / F.col("n_b").cast("double")).alias(
                "containment_b_in_a"
            ),
        )
    )
