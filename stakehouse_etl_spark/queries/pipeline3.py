"""Data-pipeline queries, wave 3: set-similarity joins at high
threshold (prefix filtering), containment dedup, CDC log compaction,
integer-exact anomaly flags, and weighted systematic sampling.

All oracles are exact-value (integer thresholds / integer cents / the
cross-engine md5-prefix hash), per the registry float-determinism
rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.dedup import (
    containment_pairs,
    prefix_filter_jaccard_pairs,
)
from stakehouse_etl_spark.queries.datapipe import _JACCARD_CTE, _SHINGLES_CTE
from stakehouse_etl_spark.queries.registry import register


def _prefix_n_part(sf_dir: str) -> int:
    """Input-scaled partition count for the prefix-filter per-doc
    aggregation: ~10k docs/task from parquet FOOTER row counts (the
    catalog-stats lookup; zero data scan). At the fixed 32 shuffle
    partitions the collect_list agg's per-task array state grows
    linearly with corpus — executor OOM at sf30 (1.5M docs, r9
    ladder; the r8 k-core class)."""
    from stakehouse_etl_spark.io.sources import table_num_rows

    return max(32, table_num_rows(sf_dir, "documents") // 10_000)


def _doc_count_or_none(sf_dir: str) -> int | None:
    """Footer-metadata doc count for the operator's small-corpus gate;
    None (scale-safe behavior) when footers are unavailable."""
    from stakehouse_etl_spark.io.sources import table_num_rows

    n = table_num_rows(sf_dir, "documents")
    return n if n > 0 else None

# ---------------------------------------------------------------------------
# Set-similarity joins
# ---------------------------------------------------------------------------


@register(
    "dedup_prefix_filter_pairs",
    bench=True,
    oracle=f"""
WITH {_SHINGLES_CTE}, {_JACCARD_CTE}
SELECT id_a, id_b, CAST(inter AS DOUBLE) / union_sz AS jaccard
FROM j WHERE inter * 100 >= union_sz * 70
""",
)
def dedup_prefix_filter_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.70 pairs via prefix filtering (AllPairs /
    PPJoin): the candidate self-join touches only each doc's
    rarest-first prefix shingles, so high-frequency shingles — the
    quadratic blowup of the naive shingle self-join — never enter the
    join. The oracle is the brute-force all-pairs join; equality is
    the losslessness proof of the filter (no false negatives, unlike
    LSH). The scale path for high-threshold dedup at 100 TB is the
    df-capped twin below.

    GROUND-TRUTH CONTRACT: lossless prefix filtering is superlinear in
    shingle document frequency (263 s at sf3 adversarial, r5/r7
    ladders); above ``GROUND_TRUTH_MAX_DOCS`` this query refuses and
    points at ``dedup_prefix_filter_pairs_capped`` — the df-capped
    default path.
    """
    from stakehouse_etl_spark.operators.dedup import ground_truth_guard

    docs = load_table(spark, sf_dir, "documents")
    ground_truth_guard(
        docs,
        query="dedup_prefix_filter_pairs",
        twin="dedup_prefix_filter_pairs_capped",
    )
    return prefix_filter_jaccard_pairs(
        docs,
        threshold_pct=70,
        n_part=_prefix_n_part(sf_dir),
        approx_doc_count=_doc_count_or_none(sf_dir),
    )


# AllPairs df-cap for the bounded tier. Against the synthetic corpus:
# dfs top out near 7 at sf0.01 and ~12 at sf0.1, so the cap never
# binds at driver scales (output equals the lossless tier there), and
# at sf1 (max df 127) it binds without losing a pair. At sf3 it
# bounds the cost hard — 268 s -> 13 s measured — but returns zero
# pairs, because this generator draws from a FIXED ~30k-shingle
# vocabulary: by sf3 every df sits in a narrow ~300±30 band, so any
# binding cap drops the whole prefix index at once. That is a
# property of the saturated synthetic vocabulary, not of the
# operator — a natural Zipfian corpus grows its vocabulary with size
# and keeps a long rare tail, and the cap then trims only the
# boilerplate head. The oracle replays the cap, so the query stays
# value-exact (including the honest empty result) at every rung.
PREFIX_DF_CAP = 100


@register(
    "dedup_prefix_filter_pairs_capped",
    bench=True,
    oracle=f"""
WITH {_SHINGLES_CTE},
dfq AS (SELECT shingle, count(*) AS df FROM s2 GROUP BY shingle),
rp AS (
  SELECT s2.doc_id, s2.shingle, dfq.df, c.n_sh,
         row_number() OVER (PARTITION BY s2.doc_id
                            ORDER BY dfq.df, s2.shingle) AS pos
  FROM s2 JOIN dfq USING (shingle) JOIN c USING (doc_id)
),
pfx AS (
  SELECT doc_id, shingle, pos, n_sh FROM rp
  WHERE pos <= n_sh - (n_sh * 70 + 99) // 100 + 1
    AND df <= {PREFIX_DF_CAP}
),
cand AS (
  -- PPJoin positional bound, mirrored from the Spark arm: positions
  -- are from the FULL rarest-first order (pos assigned before the df
  -- cap drops postings), and a pair survives iff ANY surviving shared
  -- posting passes it.
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b USING (shingle)
  WHERE a.doc_id < b.doc_id
    AND (1 + least(a.n_sh - a.pos, b.n_sh - b.pos)) * 170
        >= (a.n_sh + b.n_sh) * 70
),
iv AS (
  SELECT cand.id_a, cand.id_b, count(*) AS inter
  FROM cand
  JOIN s2 sa ON sa.doc_id = cand.id_a
  JOIN s2 sb ON sb.doc_id = cand.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT iv.id_a, iv.id_b,
       CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
FROM iv
JOIN c ca ON ca.doc_id = iv.id_a
JOIN c cb ON cb.doc_id = iv.id_b
WHERE inter * 100 >= (ca.n_sh + cb.n_sh - inter) * 70
""",
)
def dedup_prefix_filter_pairs_capped_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BOUNDED tier of the prefix-filter similarity join: same
    AllPairs candidate generation, but prefix postings with document
    frequency above ``PREFIX_DF_CAP`` are dropped before the self-join
    (per-shingle candidate output bounded at cap² — the analog of the
    LSH bucket cap). A pair whose only prefix agreement is a hot
    shingle is missed; hot shingles are near-contentless boilerplate,
    so the loss mirrors LSH's in kind while keeping zero false
    positives. The oracle replays the cap exactly (same rarest-first
    prefix, same df filter), so this query is value-exact at every
    scale — unlike the lossless tier, its cost is bounded: the r4
    ladder measures its growth alongside the uncapped ground truth.

    r10 (SCALING_r09 watch item): the operator now dispatches on the
    under-cap POSTING MASS (one scalar over the vocab-scale dfreq
    table). Saturated corpora — where the cap drops nearly every
    posting and the old plan still shuffled + array-sorted the full
    posting table only to empty it — take a sparse path that
    aggregates only under-cap postings and short-circuits on an empty
    candidate set; dense corpora keep the measured-best single reused
    aggregation. A/B at the crossover rungs: zipf_sf3 14.6 s vs 16.0 s
    pre-change, sf1 18.0 vs 17.2 (noise), sf10 saturated 7.9 vs 10.2
    warm — no regression in the non-empty regime, and the sf30 cell no
    longer pays corpus-scale sorts for an empty result."""
    return prefix_filter_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold_pct=70,
        max_prefix_df=PREFIX_DF_CAP,
        n_part=_prefix_n_part(sf_dir),
        approx_doc_count=_doc_count_or_none(sf_dir),
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_JACCARD_CTE}
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / least(ca.n_sh, cb.n_sh) AS containment
FROM i
JOIN c ca ON ca.doc_id = id_a
JOIN c cb ON cb.doc_id = id_b
WHERE inter * 100 >= least(ca.n_sh, cb.n_sh) * 80
""",
)
def dedup_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-containment >= 0.80 pairs (|A∩B| / min set size): catches a
    short doc wholly embedded in a long one, which Jaccard's
    union-normalization hides — the standard complement to Jaccard in
    training-corpus dedup."""
    return containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold_pct=80
    )


# ---------------------------------------------------------------------------
# CDC log compaction (change stream -> snapshot)
# ---------------------------------------------------------------------------


@register(
    "inc_cdc_apply",
    oracle="""
WITH log AS (
  SELECT user_id,
         epoch_us(ts) AS seq_us,
         event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC
         ) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM log
)
SELECT user_id, cents AS last_cents, seq_us AS last_seq_us, n_changes
FROM ranked WHERE rn = 1 AND op = 'U'
""",
)
def inc_cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: apply an ordered change log (upserts +
    deletes) to produce the current snapshot — the Debezium-feed /
    Delta-MERGE pattern on plain DataFrames (K1 upsert semantics,
    SURVEY §2.1, generalized with tombstones). The events table plays
    the change stream: ``error`` rows are deletes, everything else an
    upsert of the row's value; (ts, event_id) is the total change
    order. One hash shuffle on the key; newest-wins via row_number —
    at 100 TB this is the same single-shuffle shape as
    ``io.sinks.write_upsert``'s merge, and deletes fall out as a
    filter rather than a second pass.
    """
    log = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("seq_us"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("seq_us"), F.desc("event_id")
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_changes", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("cents").alias("last_cents"),
            F.col("seq_us").alias("last_seq_us"),
            "n_changes",
        )
    )


# ---------------------------------------------------------------------------
# Integer-exact trailing z-score anomaly flags
# ---------------------------------------------------------------------------


@register(
    "ts_anomaly_zscore",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
w AS (
  SELECT *,
         count(*)      OVER win AS n_prev,
         sum(cents)    OVER win AS s_prev,
         sum(cents * cents) OVER win AS q_prev
  FROM e
  WINDOW win AS (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, event_id, ts_us, cents,
       CAST(n_prev AS BIGINT) AS n_prev,
       CASE WHEN n_prev >= 4
                 AND (n_prev * cents - s_prev) * (n_prev * cents - s_prev)
                     > 4 * n_prev * (n_prev * q_prev - s_prev * s_prev)
            THEN TRUE ELSE FALSE END AS is_anomaly
FROM w
""",
)
def ts_anomaly_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flag, INTEGER-EXACT: flag a point when
    it sits more than 2 trailing standard deviations from the trailing
    mean of the user's previous <= 8 values. The test
    ``(x - mu)^2 > 4*sigma^2`` is cross-multiplied into pure int64
    arithmetic — ``(n*x - S)^2 > 4*n*(n*Q - S^2)`` with S = sum of
    cents, Q = sum of squared cents — so no float boundary can ever
    disagree between engines (same discipline as the exact-moments
    stats kernel). One shuffle (the per-user window); the monitoring
    primitive for balance-feed quality (SURVEY W2's guard,
    generalized from gaps to level shifts).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-8, -1)
    )
    n = F.count(F.lit(1)).over(win)
    s = F.sum("cents").over(win)
    q = F.sum(F.col("cents") * F.col("cents")).over(win)
    dev = n * F.col("cents") - s
    flag = (n >= 4) & (dev * dev > 4 * n * (n * q - s * s))
    return e.select(
        "user_id",
        "event_id",
        "ts_us",
        "cents",
        n.cast("long").alias("n_prev"),
        F.coalesce(flag, F.lit(False)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Weighted systematic sampling (deterministic, no floats)
# ---------------------------------------------------------------------------

_SAMPLE_K = 100


@register(
    "corpus_sample_weighted",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum,
         CAST(sum(n_chars) OVER () AS BIGINT) AS total
  FROM documents
)
SELECT doc_id, source, n_chars, cum
FROM w
WHERE (cum * {_SAMPLE_K}) // total > ((cum - n_chars) * {_SAMPLE_K}) // total
""",
)
def corpus_sample_weighted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted systematic sampling of ~K docs with probability
    proportional to size (n_chars), fully deterministic and
    float-free: lay docs on the cumulative-weight axis in doc_id
    order, take one doc per 1/K stride — a doc is selected iff its
    weight interval crosses a stride boundary, tested with pure
    integer floor-division (``cum*K // total``). The classic
    PPS-sampling primitive for building eval slices / mixing audits.
    The cumulative sum runs through the two-phase parallel-prefix
    decomposition (``operators.windows.global_prefix_sum``) — no
    single-partition window touches row data; the corpus total is a
    plain aggregate broadcast back via a 1-row cross join.
    """
    from stakehouse_etl_spark.operators.windows import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cum = global_prefix_sum(docs, id_col="doc_id", value="n_chars", out="cum")
    total = docs.agg(F.sum("n_chars").cast("long").alias("total"))
    w = cum.crossJoin(F.broadcast(total)).select(
        "doc_id", "source", "n_chars", "cum", "total"
    )
    # Integer division in BOTH engines (Spark `div`, DuckDB `//`) —
    # float division + floor could disagree at exact-multiple
    # boundaries.
    lhs = F.expr(f"(cum * {_SAMPLE_K}) div total")
    rhs = F.expr(f"((cum - n_chars) * {_SAMPLE_K}) div total")
    return w.filter(lhs > rhs).select("doc_id", "source", "n_chars", "cum")
