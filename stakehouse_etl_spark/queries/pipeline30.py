"""Data-pipeline queries, wave 30: entity resolution survivorship,
concurrency profiling, seasonality detection, independence testing.

- golden-record survivorship (per-field rules over match groups)
- max-concurrency sweep line (interval endpoint +1/-1 prefix sum)
- autocorrelation at fixed lags (exact integer moments)
- chi-square independence over a contingency table
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Golden-record survivorship (master-data merge)
# ---------------------------------------------------------------------------
@register(
    "dq_golden_record",
    oracle="""
WITH m AS (
  SELECT c_custkey // 3 AS match_key, c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
seg AS (
  SELECT match_key, c_mktsegment AS seg_mode FROM (
    SELECT match_key, c_mktsegment,
           row_number() OVER (
             PARTITION BY match_key
             ORDER BY count(*) DESC, c_mktsegment
           ) AS rn
    FROM m GROUP BY match_key, c_mktsegment
  ) WHERE rn = 1
)
SELECT g.match_key,
       CAST(min(c_custkey) AS BIGINT) AS survivor_id,
       CAST(max(cents) AS BIGINT) AS best_cents,
       CAST(count(*) AS BIGINT) AS n_members,
       max(s.seg_mode) AS segment
FROM m g JOIN seg s ON g.match_key = s.match_key
GROUP BY g.match_key
""",
)
def dq_golden_record_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data survivorship: collapse each MATCH GROUP of
    duplicate records into one golden record with PER-FIELD rules —
    id: lowest member (stable key); balance: max (best-information);
    segment: modal value with deterministic tie-break. This is the
    step AFTER dedup candidate matching (the engine's jaccard/LSH
    tiers find the groups; this merges them) and differs from
    canonical-doc selection by being field-wise, not row-wise — the
    golden record can mix fields from different members. Match groups
    here are synthesized (custkey div 3) for reproducibility. One
    grouped pass plus a bounded per-group mode argmax."""
    m = load_table(spark, sf_dir, "customer").select(
        F.expr("c_custkey div 3").alias("match_key"),
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    seg_counts = m.groupBy("match_key", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("match_key").orderBy(
        F.desc("n"), F.asc("c_mktsegment")
    )
    seg = (
        seg_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("match_key", F.col("c_mktsegment").alias("segment"))
    )
    agg = m.groupBy("match_key").agg(
        F.min("c_custkey").alias("survivor_id"),
        F.max("cents").alias("best_cents"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.join(seg, "match_key").select(
        "match_key", "survivor_id", "best_cents", "n_members", "segment"
    )


# ---------------------------------------------------------------------------
# Max-concurrency sweep line
# ---------------------------------------------------------------------------
SESSION_HALF_US = 900_000_000  # ±15 min activity interval per event


@register(
    "ts_max_concurrency",
    oracle=f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) - {SESSION_HALF_US} AS lo,
         epoch_us(ts) + {SESSION_HALF_US} AS hi,
         event_id
  FROM events
),
ep AS (
  SELECT user_id, lo AS t, 1 AS delta, 0 AS tie, event_id FROM iv
  UNION ALL
  SELECT user_id, hi, -1, 1, event_id FROM iv
),
sw AS (
  SELECT user_id, t,
         sum(delta) OVER (
           PARTITION BY user_id ORDER BY t, tie, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS live
  FROM ep
)
SELECT user_id, CAST(max(live) AS BIGINT) AS max_concurrent
FROM sw GROUP BY user_id
""",
)
def ts_max_concurrency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per user via the SWEEP LINE: every interval
    contributes a +1 at its start and a −1 at its end; the running sum
    over the time-ordered endpoints IS the live-interval count, and
    its max is the answer (capacity planning, rate-limit sizing,
    overlap auditing). Endpoint ties order starts BEFORE ends
    (closed-interval touch counts as overlap) with event_id as final
    tie-break, so the profile is total-ordered and engine-exact. One
    per-user window over 2× the events — the coalesced-span dual of
    ``ts_interval_coalesce`` (that query merges overlaps; this one
    counts them)."""
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") - SESSION_HALF_US).alias("lo"),
        (F.unix_micros("ts") + SESSION_HALF_US).alias("hi"),
        "event_id",
    )
    starts = iv.select(
        "user_id",
        F.col("lo").alias("t"),
        F.lit(1).alias("delta"),
        F.lit(0).alias("tie"),
        "event_id",
    )
    ends = iv.select(
        "user_id",
        F.col("hi").alias("t"),
        F.lit(-1).alias("delta"),
        F.lit(1).alias("tie"),
        "event_id",
    )
    ep = starts.unionByName(ends)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "tie", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sw = ep.withColumn("live", F.sum("delta").over(w))
    return sw.groupBy("user_id").agg(
        F.max("live").cast("long").alias("max_concurrent")
    )


# ---------------------------------------------------------------------------
# Autocorrelation at fixed lags (exact moments)
# ---------------------------------------------------------------------------
ACF_LAGS = (1, 2, 3)


@register(
    "ts_autocorr_lags",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
l AS (
  SELECT cents AS x,
         lag(cents, 1) OVER win AS x1,
         lag(cents, 2) OVER win AS x2,
         lag(cents, 3) OVER win AS x3
  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
p AS (
  SELECT lag, x, y FROM (
    SELECT 1 AS lag, x, x1 AS y FROM l WHERE x1 IS NOT NULL
    UNION ALL SELECT 2, x, x2 FROM l WHERE x2 IS NOT NULL
    UNION ALL SELECT 3, x, x3 FROM l WHERE x3 IS NOT NULL
  )
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM p GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
FROM m
""",
)
def ts_autocorr_lags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of per-user value series at lags 1-3 — the
    seasonality/persistence detector (a large ACF at lag k says the
    series repeats every k steps; near zero says the smoothing and
    anomaly thresholds can treat points as independent). Lagged pairs
    come from ONE per-user window (all three lags share the frame),
    then each lag's Pearson correlation is computed from exact int64
    moments with the engine's one-fixed-double-shape discipline
    (``ml_group_corr``'s kernel applied to (x_t, x_{t−k}) pairs)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagged = e.select(
        F.col("cents").alias("x"),
        *[
            F.lag("cents", k).over(win).alias(f"x{k}")
            for k in ACF_LAGS
        ],
    )
    pairs = None
    for k in ACF_LAGS:
        p = (
            lagged.filter(F.col(f"x{k}").isNotNull())
            .select(
                F.lit(k).cast("long").alias("lag"),
                F.col("x"),
                F.col(f"x{k}").alias("y"),
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    acf = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd)
        * F.sqrt(nd * F.col("syy").cast("double") - syd * syd)
    )
    return m.select("lag", "n", acf.alias("acf"))


# ---------------------------------------------------------------------------
# Chi-square independence over a contingency table
# ---------------------------------------------------------------------------
@register(
    "ml_chi2_independence",
    oracle="""
WITH o AS (
  SELECT c_mktsegment AS seg, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
r AS (SELECT seg, CAST(sum(obs) AS BIGINT) AS row_tot FROM o GROUP BY 1),
c AS (SELECT st, CAST(sum(obs) AS BIGINT) AS col_tot FROM o GROUP BY 1),
t AS (SELECT CAST(sum(obs) AS BIGINT) AS grand FROM o)
SELECT o.seg, o.st, o.obs, r.row_tot, c.col_tot,
       (CAST(o.obs AS DOUBLE) * t.grand - CAST(r.row_tot AS DOUBLE) * c.col_tot)
       * (CAST(o.obs AS DOUBLE) * t.grand - CAST(r.row_tot AS DOUBLE) * c.col_tot)
       / (CAST(r.row_tot AS DOUBLE) * c.col_tot * t.grand) AS chi2_term
FROM o JOIN r ON o.seg = r.seg JOIN c ON o.st = c.st CROSS JOIN t
""",
)
def ml_chi2_independence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of INDEPENDENCE between two categoricals
    (market segment × order status) — "does segment influence status?"
    — distinct from the engine's one-dimensional drift test
    (``ml_chi2_drift``, observed vs baseline). Per-cell term rendered
    as (O·T − R·C)²/(R·C·T): numerator and denominator built from
    exact integer marginals with one fixed double shape, so no
    E=R·C/T division ever happens before the comparison (the classic
    float-drift spot). The contingency table is |seg|×|status| rows —
    marginals broadcast; Σ chi2_term vs the χ² critical value is the
    caller's one-liner."""
    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    r = o.groupBy("seg").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("st").agg(F.sum("obs").alias("col_tot"))
    t = o.agg(F.sum("obs").alias("grand"))
    j = (
        o.join(F.broadcast(r), "seg")
        .join(F.broadcast(c), "st")
        .crossJoin(F.broadcast(t))
    )
    dev = F.col("obs").cast("double") * F.col("grand") - F.col(
        "row_tot"
    ).cast("double") * F.col("col_tot")
    term = (
        dev
        * dev
        / (
            F.col("row_tot").cast("double")
            * F.col("col_tot")
            * F.col("grand")
        )
    )
    return j.select(
        "seg", "st", "obs", "row_tot", "col_tot", term.alias("chi2_term")
    )
