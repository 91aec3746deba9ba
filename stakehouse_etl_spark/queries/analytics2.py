"""Event-analytics wave: funnel conversion, cohort retention, SCD
type-2 history, a bucketed range self-join, and largest-remainder
source mixing.

Beyond-reference operators (SURVEY §7 step 8): the reference
(`stakehouse-dev/stakehouse-etl`) computes per-validator income
windows; a production analytics stack on the same event streams also
runs funnel / cohort / dimension-history queries, and a pretraining
corpus needs a deterministic source-mixing allocator. All values stay
integral (epoch-micros, cents, token counts) until presentation, so
every query has a full DuckDB value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import token_count
from stakehouse_etl_spark.queries.datapipe import _TOKS
from stakehouse_etl_spark.queries.registry import register

HOUR_US = 3_600_000_000
WEEK_US = 604_800_000_000


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Funnel conversion (view -> click -> purchase)
# ---------------------------------------------------------------------------
@register(
    "ts_funnel_conversion",
    bench=True,
    oracle="""
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
v AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
              OVER (PARTITION BY user_id) AS fv
  FROM s
),
c AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > fv
                     THEN ts_us END)
              OVER (PARTITION BY user_id) AS fc
  FROM v
),
p AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > fc
                     THEN ts_us END)
              OVER (PARTITION BY user_id) AS fp
  FROM c
),
g AS (
  SELECT user_id, max(fv) AS first_view_us, max(fc) AS first_click_us,
         max(fp) AS first_purchase_us
  FROM p GROUP BY user_id
)
SELECT user_id, first_view_us, first_click_us, first_purchase_us,
       CAST(CASE WHEN first_purchase_us IS NOT NULL THEN 3
                 WHEN first_click_us IS NOT NULL THEN 2
                 WHEN first_view_us IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_stage
FROM g
""",
)
def ts_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: first ``view``, first ``click`` strictly
    after it, first ``purchase`` strictly after that — the
    sequence-sensitive definition (a click before any view doesn't
    count), which a naive per-type MIN pivot gets wrong.

    Three chained whole-partition MIN windows, all partitioned on
    ``user_id`` with no ordering — Catalyst reuses ONE exchange and
    each pass is a streaming O(n) scan (no sort: unbounded frames
    only). Timestamps stay epoch-micros BIGINTs end-to-end."""
    s = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id")
    p = (
        s.withColumn(
            "fv",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts_us") > F.col("fv")),
                    F.col("ts_us"),
                )
            ).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("fc")),
                    F.col("ts_us"),
                )
            ).over(w),
        )
    )
    g = p.groupBy("user_id").agg(
        F.max("fv").alias("first_view_us"),
        F.max("fc").alias("first_click_us"),
        F.max("fp").alias("first_purchase_us"),
    )
    stage = (
        F.when(F.col("first_purchase_us").isNotNull(), 3)
        .when(F.col("first_click_us").isNotNull(), 2)
        .when(F.col("first_view_us").isNotNull(), 1)
        .otherwise(0)
    )
    return g.select(
        "user_id",
        "first_view_us",
        "first_click_us",
        "first_purchase_us",
        stage.cast("long").alias("funnel_stage"),
    )


# ---------------------------------------------------------------------------
# Cohort retention (weekly)
# ---------------------------------------------------------------------------
@register(
    "ts_cohort_retention",
    oracle=f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) // {WEEK_US} AS week FROM events
),
c AS (
  SELECT *, min(week) OVER (PARTITION BY user_id) AS cohort_week FROM s
),
d AS (
  SELECT DISTINCT user_id, cohort_week, week - cohort_week AS week_offset
  FROM c
)
SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
FROM d GROUP BY 1, 2
""",
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users bucketed by the epoch
    week of their first event; ``n_users`` = how many of each cohort
    were active again ``week_offset`` weeks later. Week ids are exact
    integer floor-divisions of epoch-micros, so cohort boundaries are
    engine-independent.

    The cohort lookup is a whole-partition MIN window (not a groupBy +
    self-join back): the events shuffle on ``user_id`` happens once,
    then the (user, offset) dedup and the final (cohort, offset) count
    run on the already-clustered stream. The output is bounded by
    #cohorts × #weeks, tiny at any scale."""
    s = _events_us(spark, sf_dir).select(
        "user_id", F.expr(f"ts_us div {WEEK_US}").alias("week")
    )
    c = s.withColumn("cohort_week", F.min("week").over(Window.partitionBy("user_id")))
    d = c.select(
        "user_id",
        "cohort_week",
        (F.col("week") - F.col("cohort_week")).alias("week_offset"),
    ).distinct()
    return d.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# SCD type-2 history (change-tracked dimension build)
# ---------------------------------------------------------------------------
@register(
    "ts_scd2_history",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
l AS (
  SELECT *, lag(cents) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS prev
  FROM s
),
chg AS (SELECT * FROM l WHERE prev IS NULL OR cents <> prev),
v AS (
  SELECT user_id, cents, ts_us AS valid_from_us,
         lead(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS valid_to_us,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS BIGINT)
           AS version
  FROM chg
)
SELECT user_id, cents, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current
FROM v
""",
)
def ts_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an event stream:
    collapse consecutive identical readings per user, then stamp each
    surviving version with a ``[valid_from, valid_to)`` interval and an
    ``is_current`` flag — the standard change-tracked dimension a
    warehouse maintains from CDC feeds.

    Both windows (the change-detect ``lag`` and the validity ``lead`` /
    ``row_number``) partition and sort on the same ``(user_id; ts_us,
    event_id)`` key, and the filter between them preserves the
    clustering — one shuffle, one sort, exchange and sort both reused
    (asserted pattern in tests/test_plan_shapes.py for the income
    kernels). Values are compared as exact cents."""
    s = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = s.withColumn("prev", F.lag("cents").over(w)).filter(
        F.col("prev").isNull() | (F.col("cents") != F.col("prev"))
    )
    v = (
        chg.withColumn("valid_to_us", F.lead("ts_us").over(w))
        .withColumn("version", F.row_number().over(w).cast("long"))
        .select(
            "user_id",
            "cents",
            F.col("ts_us").alias("valid_from_us"),
            "valid_to_us",
            F.col("valid_to_us").isNull().alias("is_current"),
        )
    )
    return v


# ---------------------------------------------------------------------------
# Bucketed range self-join (band join without BNLJ)
# ---------------------------------------------------------------------------
@register(
    "j11_range_join_bucketed",
    bench=True,
    oracle=f"""
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
c AS (SELECT user_id, event_id, ts_us FROM s WHERE event_type = 'click'),
p AS (SELECT user_id, ts_us FROM s WHERE event_type = 'purchase'),
m AS (
  SELECT c.event_id, CAST(count(*) AS BIGINT) AS n
  FROM c JOIN p ON p.user_id = c.user_id
              AND p.ts_us > c.ts_us
              AND p.ts_us <= c.ts_us + {HOUR_US}
  GROUP BY 1
)
SELECT c.event_id, c.user_id, c.ts_us,
       CAST(coalesce(m.n, 0) AS BIGINT) AS n_purchases_1h
FROM c LEFT JOIN m USING (event_id)
""",
)
def j11_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) self-join: for every click, how many purchases the
    same user made within the following hour. The naive formulation is
    an inequality join — on Spark that's a broadcast-nested-loop (or a
    full cartesian per user), which dies at scale.

    The scale-safe shape: quantize time into 1-hour buckets, explode
    each click to its two candidate buckets (a 1-hour band spans at
    most two), and equi-join on ``(user_id, bucket)`` — a plain
    SortMergeJoin with the band predicate applied as a cheap residual
    filter. Each purchase has exactly one bucket, so no dedup is
    needed. This is the standard point-in-interval bucketing trick
    (e.g. Databricks' range-join bin optimization), expressed with
    stock operators."""
    s = _events_us(spark, sf_dir)
    clicks = s.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_us"
    )
    purchases = s.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
        F.expr(f"ts_us div {HOUR_US}").alias("bucket"),
    )
    cand = clicks.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"ts_us div {HOUR_US}"), F.expr(f"ts_us div {HOUR_US} + 1")
            )
        ),
    )
    hits = (
        cand.join(purchases, ["user_id", "bucket"])
        .filter(
            (F.col("p_ts_us") > F.col("ts_us"))
            & (F.col("p_ts_us") <= F.col("ts_us") + HOUR_US)
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return clicks.join(hits, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts_us",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_purchases_1h"),
    )


# ---------------------------------------------------------------------------
# Largest-remainder source mixing (token-budget apportionment)
# ---------------------------------------------------------------------------
MIX_BUDGET = 1_000_000  # target training tokens to apportion


@register(
    "corpus_mix_allocation",
    oracle=f"""
WITH t AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tok
  FROM documents GROUP BY 1
),
g AS (
  SELECT source, n_tok,
         CAST(sum(n_tok) OVER () AS BIGINT) AS total,
         CAST(({MIX_BUDGET} * n_tok) // sum(n_tok) OVER () AS BIGINT)
           AS base_alloc,
         CAST(({MIX_BUDGET} * n_tok) % sum(n_tok) OVER () AS BIGINT)
           AS rem
  FROM t
),
r AS (
  SELECT *, CAST({MIX_BUDGET} - sum(base_alloc) OVER () AS BIGINT)
              AS leftover,
         CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
           AS rnk
  FROM g
)
SELECT source, n_tok, base_alloc,
       CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS extra,
       CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS final_alloc
FROM r
""",
)
def corpus_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixing allocator: apportion a global
    training-token budget across corpus sources proportionally to their
    token mass, using largest-remainder (Hamilton) rounding so the
    integer allocations sum EXACTLY to the budget — the reproducible
    arithmetic a data-mixture config needs (no float weights that
    round to budget±1). Ties on remainder break by source name.

    One groupBy over the corpus does all the heavy lifting map-side;
    everything after operates on the #sources-row table, where global
    windows are free. Pure BIGINT arithmetic end-to-end."""
    from stakehouse_etl_spark.operators.alloc import largest_remainder_alloc

    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tok")
    )
    return largest_remainder_alloc(t, "source", "n_tok", MIX_BUDGET).select(
        F.col("key").alias("source"),
        F.col("weight").alias("n_tok"),
        "base_alloc",
        "extra",
        "final_alloc",
    )
