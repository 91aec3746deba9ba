"""Data-pipeline queries, wave 21: feature engineering, eval
plumbing, and table-reconciliation shapes.

- exact-moment grouped correlation
- deterministic k-fold assignment
- LOCF (last-observation-carried-forward) daily resample
- equi-depth quantile-bin assignment (two-phase rank, no global window)
- leave-one-out target encoding
- top-k with ties (rank vs row_number semantics)
- exact cumulative distribution (cume_dist surface)
- snapshot row-level diff (added/removed/changed)
- merkle-style bucket-digest table diff

Float discipline as everywhere: int64 moments, one fixed-shape double
op at the edge, portable md5-derived hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import hash64
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.registry import register

_HASH64 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# Grouped Pearson correlation from exact integer moments
# ---------------------------------------------------------------------------
@register(
    "ml_group_corr",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sy,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sxy,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)
                  * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy, sxy, sxx, syy,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
FROM m
""",
)
def ml_group_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation from EXACT integer moments (n,
    Σx, Σy, Σxy, Σx², Σy² all int64 — quantity in whole units, price
    in cents, keeping every product < 2^62), with one fixed-shape
    double rendering at the edge: int64→double conversions and
    sqrt/mul/div are all correctly-rounded IEEE, so both engines agree
    bit-for-bit — unlike ``corr()`` built-ins, whose streaming
    co-moment updates are accumulation-order-dependent. One partial-
    aggregated scan; the six moments travel as one 48-byte buffer per
    group, so this is the shape that survives 100 TB (and the same
    moments serve variance/covariance/OLS for free)."""
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd) * F.sqrt(
        nd * F.col("syy").cast("double") - syd * syd
    )
    return m.select(
        "l_returnflag", "n", "sx", "sy", "sxy", "sxx", "syy",
        (num / den).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified k-fold assignment
# ---------------------------------------------------------------------------
KFOLDS = 5


@register(
    "ml_kfold_assign",
    oracle=f"""
SELECT doc_id, lang,
       CAST((row_number() OVER (
               PARTITION BY lang
               ORDER BY {_HASH64.format(x="CAST(doc_id AS VARCHAR)")}, doc_id
             ) - 1) % {KFOLDS} AS BIGINT) AS fold
FROM documents
""",
)
def ml_kfold_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold cross-validation assignment: within each
    language stratum, documents are ordered by portable hash and dealt
    round-robin into {KFOLDS} folds — fold sizes differ by at most one
    per stratum BY CONSTRUCTION (a random-uniform assignment only
    balances in expectation), and the deal is reproducible across
    engines and runs. The stratum window is per-language; at 100 TB
    with few langs you'd sub-stratify (lang × hash-bucket) to bound
    window partitions — same pattern as the engine's chunked rank."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        hash64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        "lang",
        ((F.row_number().over(w) - 1) % KFOLDS).cast("long").alias("fold"),
    )


# ---------------------------------------------------------------------------
# LOCF daily resample (forward-fill onto a regular grid)
# ---------------------------------------------------------------------------
@register(
    "ts_locf_resample",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(round("value" * 100) AS BIGINT) AS cents,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
lastday AS (
  SELECT user_id, day, cents AS day_cents FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, day ORDER BY ts_us DESC, event_id DESC
    ) AS rn FROM e
  ) WHERE rn = 1
),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span
)
SELECT g.user_id, g.day,
       last_value(l.day_cents IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf_cents
FROM grid g LEFT JOIN lastday l
  ON g.user_id = l.user_id AND g.day = l.day
""",
)
def ts_locf_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular event stream onto a regular
    daily grid with last-observation-carried-forward: per (user, day)
    take the LAST observation (max_by over the total (ts, event_id)
    order), expand the user's [first, last] day span with
    ``sequence``+``explode``, and forward-fill gaps with
    ``last(..., ignorenulls=True)`` over the per-user ordered window.
    This is the feature-store "daily snapshot" primitive. Scale: the
    window runs over the DAILY grid (|users|×|days|), never the raw
    events, and the grid explode is bounded by each user's own span —
    the per-day compaction is the only full-data shuffle."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).withColumn("day", F.expr("ts_us div 86400000000"))
    lastday = e.groupBy("user_id", "day").agg(
        F.max_by("cents", F.struct("ts_us", "event_id")).alias("day_cents")
    )
    span = e.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(lastday, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("day_cents", ignorenulls=True).over(w).alias("locf_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth quantile-bin assignment (feature discretization)
# ---------------------------------------------------------------------------
N_BINS = 10


@register(
    "ml_quantile_bin_assign",
    oracle=f"""
WITH r AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS rnk,
         count(*) OVER () AS n
  FROM orders
)
SELECT o_orderkey, cents,
       CAST(((rnk - 1) * {N_BINS}) // n AS BIGINT) AS bin
FROM r
""",
)
def ml_quantile_bin_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth discretization: assign each order to its exact
    {N_BINS}-quantile bin — bin = floor((rank-1)·{N_BINS}/n) over the
    total (value, key) order, so bins differ in size by at most one
    row and the cut is reproducible (approxQuantile-based binning is
    neither exact nor stable). The global rank uses the engine's
    two-phase chunked decomposition (``skew_resistant_rank``) — no
    single-partition window ever materializes, unlike the oracle's
    textbook ``row_number() OVER (ORDER BY ...)``; the count is a
    broadcast scalar."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = skew_resistant_rank(
        o, "cents", "o_orderkey", out="rnk", descending=False
    )
    n = o.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "o_orderkey",
            "cents",
            F.expr(f"((rnk - 1) * {N_BINS}) div n").cast("long").alias("bin"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------
@register(
    "ml_target_encode_loo",
    oracle="""
WITH g AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s
  FROM customer GROUP BY 1
)
SELECT c_custkey, c.c_mktsegment,
       CASE WHEN g.n > 1
            THEN CAST(g.s - CAST(round(c.c_acctbal * 100) AS BIGINT)
                      AS DOUBLE) / (g.n - 1)
       END AS loo_mean_cents
FROM customer c JOIN g ON c.c_mktsegment = g.c_mktsegment
""",
)
def ml_target_encode_loo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category feature is
    the mean target of the OTHER rows in its category —
    (Σ_cat − own)/(n_cat − 1) — the standard leakage guard (plain
    target encoding lets each row see its own label; LOO removes it
    without a per-row regroup). One grouped aggregate (exact int64
    cents) broadcast back onto the rows: two scans, zero windows,
    NULL for singleton categories instead of a 0/0."""
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents.alias("cents")
    )
    g = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    return c.join(F.broadcast(g), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1),
        ).alias("loo_mean_cents"),
    )


# ---------------------------------------------------------------------------
# Top-k with ties (rank() semantics — completes W4's row_number form)
# ---------------------------------------------------------------------------
@register(
    "w10_topk_with_ties",
    oracle="""
SELECT n_name, c_custkey, cents, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT n.n_name, c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents,
         rank() OVER (PARTITION BY n.n_name
                      ORDER BY CAST(round(c.c_acctbal * 100) AS BIGINT) DESC)
           AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
WHERE rnk <= 3
""",
)
def w10_topk_with_ties_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 account balances per nation WITH TIES — ``rank()`` keeps
    every row tied at the boundary (SQL's ``FETCH FIRST 3 ROWS WITH
    TIES``), where the engine's W4 leaderboards use ``row_number`` and
    an explicit tie-break. Both semantics exist for a reason: WITH
    TIES is the audit-safe form (no arbitrary winner at the cut), and
    because rank() admits no tie-break column the output is
    deterministic as a SET without one. Same single per-key window
    shuffle as W4."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "n_name",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("cents"))
    return (
        j.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Exact empirical CDF (cume_dist surface)
# ---------------------------------------------------------------------------
@register(
    "w11_cume_dist",
    oracle="""
SELECT event_id, event_type, cents,
       cume_dist() OVER (PARTITION BY event_type ORDER BY cents) AS cdf
FROM (
  SELECT event_id, event_type,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
)
""",
)
def w11_cume_dist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type empirical CDF position via ``cume_dist()`` —
    the exact rational n_≤/n rendered as one int-ratio double, so both
    engines agree bit-for-bit (percent_rank-family functions are pure
    rank arithmetic, no accumulation). NOTE the partition key is
    low-cardinality: at 100 TB this exact shape funnels each type
    through one task — the engine's two-phase ``skew_resistant_rank``
    is the scale path (see ``ml_quantile_bin_assign``); this query
    covers the built-in's semantics on bounded groups."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    return e.select(
        "event_id", "event_type", "cents", F.cume_dist().over(w).alias("cdf")
    )


# ---------------------------------------------------------------------------
# Snapshot row-level diff (added / removed / changed)
# ---------------------------------------------------------------------------
@register(
    "dq_snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 11 <> 0
),
snap_b AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS cents
  FROM customer WHERE c_custkey % 13 <> 0
)
SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
       a.cents AS cents_a, b.cents AS cents_b,
       CASE WHEN a.c_custkey IS NULL THEN 'added'
            WHEN b.c_custkey IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM snap_a a FULL OUTER JOIN snap_b b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL OR a.cents <> b.cents
""",
)
def dq_snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two table snapshots (the audit behind
    every CDC/backfill: "what exactly changed between v1 and v2?"):
    full outer join on the key, classify added/removed/changed, emit
    ONLY the differing rows. The two snapshots are derived
    deterministically from `customer` (B adds a cent-bump to every
    7th key and drops every 13th; A drops every 11th) so the diff is
    reproducible. Scale: one co-partitioned full outer join — with
    both snapshots bucketed by key (``write_bucketed``) it's
    shuffle-free; the 'same' rows never leave the join."""
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    snap_a = base.filter(F.col("c_custkey") % 11 != 0).select(
        F.col("c_custkey").alias("key_a"), F.col("cents").alias("cents_a")
    )
    snap_b = base.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("key_b"),
        (
            F.col("cents")
            + F.when(F.col("c_custkey") % 7 == 0, 100).otherwise(0)
        ).alias("cents_b"),
    )
    j = snap_a.join(snap_b, snap_a["key_a"] == snap_b["key_b"], "full_outer")
    return j.filter(
        F.col("key_a").isNull()
        | F.col("key_b").isNull()
        | (F.col("cents_a") != F.col("cents_b"))
    ).select(
        F.coalesce(F.col("key_a"), F.col("key_b")).alias("c_custkey"),
        "cents_a",
        "cents_b",
        F.when(F.col("key_a").isNull(), "added")
        .when(F.col("key_b").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Merkle-style bucket-digest table diff (anti-entropy at scale)
# ---------------------------------------------------------------------------
_DIGEST_MOD = 1_000_000_007


@register(
    "dq_table_diff_digest",
    oracle=f"""
WITH rows_h AS (
  SELECT CAST(o_orderkey % 128 AS BIGINT) AS bucket,
         {_HASH64.format(
             x="CAST(o_orderkey AS VARCHAR) || '|' || "
             "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)"
         )} % {_DIGEST_MOD} AS h,
         o_orderkey
  FROM orders
),
da AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum(h) AS BIGINT) AS dig_a
  FROM rows_h GROUP BY 1
),
db AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(h) AS BIGINT) AS dig_b
  FROM rows_h WHERE o_orderkey % 97 <> 0 GROUP BY 1
)
SELECT da.bucket, n_a, dig_a, n_b, dig_b
FROM da JOIN db ON da.bucket = db.bucket
WHERE n_a <> n_b OR dig_a <> dig_b
""",
)
def dq_table_diff_digest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table comparison WITHOUT moving rows: both sides
    reduce each key-range bucket to (count, additive hash digest) and
    only buckets whose digests disagree are flagged — the merkle-tree
    first round used to reconcile replicated/warehouse copies. At
    100 TB this is the only workable diff: the network carries
    |buckets| digest rows, not the table, and the flagged buckets
    bound the follow-up row-level diff (``dq_snapshot_diff``) to the
    ranges that actually diverged. The digest is an order-independent
    SUM of per-row portable hashes reduced mod 1e9+7 (sum of ≤2^30
    terms of <2^30 stays far inside int64 — overflow-safe under ANSI
    mode); the B side deterministically drops every 97th key to give
    the diff something to find."""
    h = (
        hash64(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
            )
        )
        % _DIGEST_MOD
    )
    rows_h = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 128).cast("long").alias("bucket"),
        h.alias("h"),
        "o_orderkey",
    )
    da = rows_h.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_a"), F.sum("h").alias("dig_a")
    )
    db = (
        rows_h.filter(F.col("o_orderkey") % 97 != 0)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_b"), F.sum("h").alias("dig_b"))
    )
    return da.join(db, "bucket").filter(
        (F.col("n_a") != F.col("n_b")) | (F.col("dig_a") != F.col("dig_b"))
    )
