"""Data-pipeline queries, wave 22: behavioral analytics and bounded-
state streaming.

- market-basket co-occurrence (bounded self-join within order)
- Markov event-transition matrix (lag + exact rational probabilities)
- last-touch attribution (carry-forward as-of within a 24 h horizon)
- 30-day activity bitmask (bit_or/bit_count integer calendar)
- inverse-frequency class weights (rebalancing contract)
- dropDuplicatesWithinWatermark streaming dedup (TTL'd state)
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import collect_stream, land_batch

MICROS_PER_DAY = 86_400_000_000


def _events_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence
# ---------------------------------------------------------------------------
@register(
    "graph_copurchase_pairs",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders,
       CAST(row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)
            AS BIGINT) AS rnk
FROM pr ORDER BY n_orders DESC, part_a, part_b LIMIT 20
""",
)
def graph_copurchase_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs: the market-basket/co-occurrence
    primitive behind recommenders and association mining. The pair
    join is a SELF-JOIN WITHIN THE ORDER — its output is bounded by
    Σ basket·(basket−1)/2, never |parts|², because baskets are small
    (≤13 here); the distinct-first collapse removes same-part repeat
    lines before pairing. At 100 TB the orderkey equi-join shuffles
    once and AQE splits any degenerate mega-basket; the top-20 is a
    TakeOrderedAndProject over the grouped counts. Deterministic ties:
    (count DESC, part_a, part_b) is a total order."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    top = pairs.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)
    w = Window.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------
@register(
    "ts_markov_transitions",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
s AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
         ) AS from_type
  FROM e
),
t AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, t.n, tot.n_from,
       CAST(t.n AS DOUBLE) / tot.n_from AS p
FROM t JOIN tot ON t.from_type = tot.from_type
""",
)
def ts_markov_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: count
    (previous event → next event) pairs over each user's time-ordered
    stream, then row-normalize to transition probabilities (exact
    count ratio, one double division). One per-user window shuffle
    produces the lag; the transition table is |types|² rows, so the
    normalizing join broadcasts. This is the sequence-model feature
    extractor (session-intent prediction, anomaly scoring against
    expected transitions) over the same single-shuffle shape as the
    engine's W1 window kernel."""
    e = _events_cents(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = e.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    t = s.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        "n_from",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------
ATTRIB_HORIZON_US = 24 * 3_600_000_000


@register(
    "ts_attribution_last_touch",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
c AS (
  SELECT *,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN ts_us END IGNORE NULLS) OVER win AS touch_ts,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS) OVER win
           AS touch_type
  FROM e
  WINDOW win AS (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, event_id, ts_us,
       CASE WHEN touch_ts IS NOT NULL
                 AND ts_us - touch_ts <= {ATTRIB_HORIZON_US}
            THEN touch_type END AS attributed_to,
       CASE WHEN touch_ts IS NOT NULL
                 AND ts_us - touch_ts <= {ATTRIB_HORIZON_US}
            THEN ts_us - touch_ts END AS touch_age_us
FROM c WHERE event_type = 'purchase'
""",
)
def ts_attribution_last_touch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent PRECEDING view/click within a 24 h horizon
    (NULL = organic). Implemented as a carry-forward window —
    ``last(..., ignorenulls=True)`` over rows-preceding — which is the
    single-pass form of the per-purchase as-of join (J9's pattern):
    one per-user shuffle attributes EVERY purchase, instead of one
    range join per conversion table. The two carried columns (touch
    time and type) come from the same frame boundary, so they are
    mutually consistent; the horizon test happens after the carry so
    stale touches fall back to organic rather than to an older touch."""
    e = _events_cents(spark, sf_dir)
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    c = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_us",
        F.last(F.when(is_touch, F.col("ts_us")), ignorenulls=True)
        .over(win)
        .alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(win)
        .alias("touch_type"),
    ).filter(F.col("event_type") == "purchase")
    fresh = F.col("touch_ts").isNotNull() & (
        F.col("ts_us") - F.col("touch_ts") <= ATTRIB_HORIZON_US
    )
    return c.select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(fresh, F.col("touch_type")).alias("attributed_to"),
        F.when(fresh, F.col("ts_us") - F.col("touch_ts")).alias(
            "touch_age_us"
        ),
    )


# ---------------------------------------------------------------------------
# 30-day activity bitmask
# ---------------------------------------------------------------------------
@register(
    "ts_activity_bitmask",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {MICROS_PER_DAY} AS day FROM events
),
d0 AS (SELECT min(day) AS day0 FROM e),
m AS (
  SELECT user_id,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(day - day0 AS INTEGER))
              AS BIGINT) AS mask
  FROM e CROSS JOIN d0
  WHERE day - day0 < 30 GROUP BY 1
)
SELECT user_id, mask, CAST(bit_count(mask) AS BIGINT) AS n_active_days
FROM m
""",
)
def ts_activity_bitmask_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-day activity calendar as ONE int64 bitmask — bit k
    set ⇔ active on day k of the window — built with ``bit_or(1 <<
    offset)`` and summarized with ``bit_count``. The bitmask is the
    retention-analytics workhorse: any streak/recency/frequency
    question becomes integer bit arithmetic on an 8-byte value
    (compare: a collect_set of dates is unbounded and unhashable),
    and masks OR together across partitions/batches, so incremental
    maintenance is free. One grouped aggregate; day-0 is a broadcast
    scalar."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) div {MICROS_PER_DAY}").alias("day"),
    )
    d0 = e.agg(F.min("day").alias("day0"))
    m = (
        e.crossJoin(F.broadcast(d0))
        .filter(F.col("day") - F.col("day0") < 30)
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(day - day0 as int))")
            ).alias("mask")
        )
    )
    return m.select(
        "user_id", "mask", F.bit_count("mask").cast("long").alias("n_active_days")
    )


# ---------------------------------------------------------------------------
# Inverse-frequency class weights
# ---------------------------------------------------------------------------
@register(
    "ml_class_weights",
    oracle="""
WITH g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS k FROM g)
SELECT lang, n, n_total,
       CAST(n_total AS DOUBLE) / (k * n) AS class_weight,
       true AS weight_balanced
FROM g CROSS JOIN t
""",
)
def ml_class_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class rebalancing weights — w_c = N/(K·n_c),
    the sklearn "balanced" convention: every class contributes equal
    total weight, Σ_c n_c·w_c = N. Emitted per class with the
    conservation CONTRACT verified in-query (the invariant a weighted
    loss actually relies on), so a drifting implementation fails the
    gate rather than silently skewing training. One grouped count and
    a broadcast scalar; the per-row application is a broadcast map-side
    join of this |K|-row table."""
    g = load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = g.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    out = g.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        "n_total",
        "k",
        (F.col("n_total").cast("double") / (F.col("k") * F.col("n"))).alias(
            "class_weight"
        ),
    )
    # balance contract, verified in-query: n_c·K·w_c must reproduce N
    # (each class contributes equal total weight N/K) — a drifting
    # weight implementation fails the gate instead of skewing training
    return out.withColumn(
        "weight_balanced",
        F.abs(
            F.col("class_weight") * F.col("k") * F.col("n")
            - F.col("n_total")
        )
        <= F.lit(1e-9) * F.col("n_total"),
    ).drop("k")


# ---------------------------------------------------------------------------
# Streaming dedup with TTL'd state (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------
@register(
    "stream_dedup_within_watermark",
    oracle="""
SELECT DISTINCT CAST(event_id % 1000 AS BIGINT) AS dedup_key,
       CAST(1 AS BIGINT) AS n_emitted
FROM events
""",
)
def stream_dedup_within_watermark_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """At-least-once ingest dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until
    the watermark passes it, unlike plain ``dropDuplicates`` whose
    state grows forever — the difference between a streaming job that
    survives months and one that OOMs. Events stream in two
    micro-batches keyed by ``event_id % 1000`` (so cross-batch
    duplicates exist by construction); a 10-day watermark spans the
    whole 30-day test window, so every duplicate is suppressed and the
    emitted key set equals batch DISTINCT — the bounded-source
    equivalence contract (with real unbounded data, keys recurring
    after the TTL would re-emit; that is the documented trade)."""
    ev = load_table(spark, sf_dir, "events")

    with tempfile.TemporaryDirectory(
        prefix="stream_ddw_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev.filter(F.col("event_id") % 2 == 0), src, 0)
        land_batch(ev.filter(F.col("event_id") % 2 == 1), src, 1)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = (
            stream.select(
                (F.col("event_id") % 1000).alias("dedup_key"), F.col("ts")
            )
            .withWatermark("ts", "10 days")
            .dropDuplicatesWithinWatermark(["dedup_key"])
        )
        emitted = collect_stream(deduped, workdir, "append")
    # the stream must emit each key EXACTLY once — a re-emission
    # means the watermark TTL evicted live state
    return emitted.groupBy("dedup_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_emitted")
    )
