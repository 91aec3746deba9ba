"""Data-pipeline queries, wave 24: robust statistics and interval
algebra.

- grouped z-score scaling (exact integer moments, fixed-shape edge)
- rank-based winsorization (clip at exact p5/p95 order statistics)
- interval coalescing (union of overlapping spans, one window)
- median/MAD robust scaling (two-level exact medians, bounded groups)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Grouped z-score scaling from exact moments
# ---------------------------------------------------------------------------
@register(
    "ml_zscore_scale",
    oracle="""
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(round("value" * 100) AS BIGINT)
                  * CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       CAST(round(e."value" * 100) AS BIGINT) AS cents,
       (CAST(m.n AS DOUBLE) * CAST(round(e."value" * 100) AS BIGINT)
        - CAST(m.s AS DOUBLE))
       / sqrt(CAST(m.n AS DOUBLE) * CAST(m.q AS DOUBLE)
              - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE)) AS z
FROM events e JOIN m ON e.event_type = m.event_type
""",
)
def ml_zscore_scale_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score feature scaling rendered population-exact:
    z = (n·x − S) / √(n·Q − S²) — the cross-multiplied form whose
    inputs (n, S=Σx, Q=Σx²) are exact int64 cents, with ONE fixed
    parenthesization of correctly-rounded double ops at the edge, so
    both engines agree bit-for-bit (built-in stddev is a streaming
    accumulator — order-dependent in the last ulps). Plan: one grouped
    moment pass (map-side combined), moments broadcast back onto the
    rows — two scans, no window, no second shuffle."""
    cents = F.round(F.col("value") * 100).cast("long")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents.alias("cents")
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("q"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    z = (nd * F.col("cents") - sd) / F.sqrt(
        nd * F.col("q").cast("double") - sd * sd
    )
    return ev.join(F.broadcast(m), "event_type").select(
        "event_id", "event_type", "cents", z.alias("z")
    )


# ---------------------------------------------------------------------------
# Rank-based winsorization
# ---------------------------------------------------------------------------
WINSOR_PCT = 5  # clip at p5 / p95


@register(
    "ml_winsorize_clip",
    oracle=f"""
WITH e AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
r AS (
  SELECT *, row_number() OVER (ORDER BY cents, o_orderkey) AS rnk,
         count(*) OVER () AS n
  FROM e
),
b AS (
  SELECT max(CASE WHEN (rnk - 1) * 100 < {WINSOR_PCT} * n THEN cents END)
           AS lo,
         min(CASE WHEN rnk * 100 > (100 - {WINSOR_PCT}) * n THEN cents END)
           AS hi
  FROM r
)
SELECT e.o_orderkey, e.cents,
       CAST(least(greatest(e.cents, b.lo), b.hi) AS BIGINT) AS clipped,
       (e.cents < b.lo OR e.cents > b.hi) AS was_clipped
FROM e CROSS JOIN b
""",
)
def ml_winsorize_clip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at exact rank-based p5/p95: the clip bounds are
    ORDER STATISTICS (the last value inside each tail), not
    interpolated quantiles, so they are integers the engines cannot
    disagree on; every row is then clamped into [lo, hi] with a
    was-clipped audit flag. The rank pass reuses the engine's
    two-phase chunked rank (no single-partition window); the 2-value
    bounds row broadcasts. This is the outlier-taming step run before
    scale-sensitive aggregates (means, OLS, z-scores) on 100 TB of
    raw telemetry."""
    from stakehouse_etl_spark.operators.windows import skew_resistant_rank

    e = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    r = skew_resistant_rank(
        e, "cents", "o_orderkey", out="rnk", descending=False
    )
    n = e.agg(F.count(F.lit(1)).alias("n"))
    b = (
        r.crossJoin(F.broadcast(n))
        .agg(
            F.max(
                F.when(
                    (F.col("rnk") - 1) * 100 < WINSOR_PCT * F.col("n"),
                    F.col("cents"),
                )
            ).alias("lo"),
            F.min(
                F.when(
                    F.col("rnk") * 100 > (100 - WINSOR_PCT) * F.col("n"),
                    F.col("cents"),
                )
            ).alias("hi"),
        )
    )
    return e.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        "cents",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
        .cast("long")
        .alias("clipped"),
        ((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi"))).alias(
            "was_clipped"
        ),
    )


# ---------------------------------------------------------------------------
# Interval coalescing (union of overlapping spans)
# ---------------------------------------------------------------------------
SESSION_PAD_US = 1_800_000_000  # ±30 min around each event


@register(
    "ts_interval_coalesce",
    oracle=f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) - {SESSION_PAD_US} AS lo,
         epoch_us(ts) + {SESSION_PAD_US} AS hi
  FROM events
),
o AS (
  SELECT *,
         max(hi) OVER (
           PARTITION BY user_id ORDER BY lo, hi
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max_hi
  FROM iv
),
grp AS (
  SELECT *,
         sum(CASE WHEN prev_max_hi IS NULL OR lo > prev_max_hi
                  THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY lo, hi
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS gid
  FROM o
)
SELECT user_id, CAST(gid AS BIGINT) AS gid,
       CAST(min(lo) AS BIGINT) AS span_lo,
       CAST(max(hi) AS BIGINT) AS span_hi,
       CAST(count(*) AS BIGINT) AS n_merged
FROM grp GROUP BY 1, 2
""",
)
def ts_interval_coalesce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping intervals (coalesce): each event carries a
    ±30 min validity pad; overlapping pads per user merge into maximal
    disjoint spans. The classic one-window algorithm: a new span
    starts exactly where ``lo`` exceeds the running max of all
    previous ``hi`` (the prefix-max window), and a running sum of
    those starts numbers the spans. This is the availability/coverage
    primitive (uptime stitching, sensor-coverage gaps, on-call
    overlap) — same single per-user shuffle as sessionize, but
    overlap-based (an interval can swallow several successors),
    which the gap-based sessionizer cannot express."""
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") - SESSION_PAD_US).alias("lo"),
        (F.unix_micros("ts") + SESSION_PAD_US).alias("hi"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    o = iv.withColumn("prev_max_hi", F.max("hi").over(w_prev))
    grp = o.withColumn(
        "gid",
        F.sum(
            F.when(
                F.col("prev_max_hi").isNull()
                | (F.col("lo") > F.col("prev_max_hi")),
                1,
            ).otherwise(0)
        )
        .over(w_run)
        .cast("long"),
    )
    return grp.groupBy("user_id", "gid").agg(
        F.min("lo").alias("span_lo"),
        F.max("hi").alias("span_hi"),
        F.count(F.lit(1)).alias("n_merged"),
    )


# ---------------------------------------------------------------------------
# Median/MAD robust scaling (two-level exact medians)
# ---------------------------------------------------------------------------
@register(
    "ml_robust_scale_mad",
    oracle="""
WITH e AS (
  SELECT event_type, event_id,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rnk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
med AS (
  SELECT event_type,
         CAST(sum(CASE WHEN rnk * 2 = n OR rnk * 2 = n + 2
                       OR (n % 2 = 1 AND rnk * 2 = n + 1)
                  THEN cents END) AS BIGINT)
         * CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END AS med2x
  FROM r GROUP BY event_type, n
),
d AS (
  SELECT e.event_type, e.event_id,
         abs(2 * e.cents - m.med2x) AS dev2x
  FROM e JOIN med m ON e.event_type = m.event_type
),
rd AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY dev2x, event_id) AS rnk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
)
SELECT event_type,
       CAST(max(m.med2x) AS BIGINT) AS median_2x_cents,
       CAST(sum(CASE WHEN rnk * 2 = n OR rnk * 2 = n + 2
                     OR (n % 2 = 1 AND rnk * 2 = n + 1)
                THEN dev2x END) AS BIGINT)
       * CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END AS mad_4x_cents
FROM rd JOIN med m USING (event_type)
GROUP BY event_type, n
""",
)
def ml_robust_scale_mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per group — median and MAD (median of
    absolute deviations) — kept EXACT by scaling instead of averaging:
    the median is carried as 2×median (sum of the two middle order
    statistics when n is even, twice the middle one when odd) and the
    MAD as 4×MAD on the 2×-deviations, so every value is an integer
    and no midpoint division ever happens. Two rank passes (values,
    then deviations) over per-type partitions; the per-group medians
    broadcast between them. The robust twin of ``ml_zscore_scale`` —
    what you scale by when 100 TB of telemetry has heavy tails that
    make mean/stddev meaningless.

    NOTE the partition key is low-cardinality (5 event types); the
    exact-median rank passes funnel each type through one task at
    100 TB — the scale path is the bucketed two-phase rank
    (``corpus_epoch_shuffle``'s round-7 rework) or the sketch tier
    (``a_approx_quantile_bounded``) when exactness can relax."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def group_median_2x(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(val, "event_id")
        wn = Window.partitionBy("event_type")
        r = df.withColumn("rnk", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wn)
        )
        is_mid = (
            (F.col("rnk") * 2 == F.col("n"))
            | (F.col("rnk") * 2 == F.col("n") + 2)
            | ((F.col("n") % 2 == 1) & (F.col("rnk") * 2 == F.col("n") + 1))
        )
        return (
            r.groupBy("event_type", "n")
            .agg(F.sum(F.when(is_mid, F.col(val))).alias("mid_sum"))
            .select(
                "event_type",
                (
                    F.col("mid_sum")
                    * F.when(F.col("n") % 2 == 1, 2).otherwise(1)
                )
                .cast("long")
                .alias(out),
            )
        )

    med = group_median_2x(e, "cents", "median_2x_cents")
    d = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(2 * F.col("cents") - F.col("median_2x_cents")).alias("dev2x"),
    )
    mad = group_median_2x(d, "dev2x", "mad_4x_cents")
    return med.join(mad, "event_type").select(
        "event_type", "median_2x_cents", "mad_4x_cents"
    )
