"""Data-pipeline queries, wave 4: data-quality auditing, rolling
distinct cardinality, collocation mining, embedding quantization, and
tolerance-bounded as-of enrichment.

All oracles are exact-value per the registry float-determinism rules
(integer counts, rational ratios with one fixed-shape float division,
round-half-away parity for quantization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Deequ-style data-quality constraint report (single pass)
# ---------------------------------------------------------------------------


@register(
    "dq_constraint_report",
    oracle="""
WITH m AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(*) - count(o_custkey) AS BIGINT) AS null_custkey,
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS nonpositive_price,
    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
      AS BIGINT) AS invalid_status,
    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_orderdate
  FROM orders
)
SELECT metric, value FROM m
UNPIVOT (value FOR metric IN (n_rows, null_custkey, dup_orderkey,
                              nonpositive_price, invalid_status,
                              null_orderdate))
""",
)
def dq_constraint_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ pattern): completeness,
    key uniqueness, value-range and domain constraints — ALL computed
    in one aggregate pass over the table (one scan, one reduce; no
    per-constraint jobs), then unpivoted to (metric, value) rows. At
    100 TB this is the cheapest possible audit shape: constraint count
    adds columns, not passes.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_orderkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("invalid_status"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
            "null_orderdate"
        ),
    )
    return m.unpivot([], m.columns, "metric", "value")


# ---------------------------------------------------------------------------
# Rolling distinct cardinality (Spark lacks DISTINCT window aggs —
# compose it from collect_set)
# ---------------------------------------------------------------------------


@register(
    "ts_rolling_distinct_users",
    oracle="""
WITH e AS (
  SELECT event_id, event_type, user_id, epoch_us(ts) AS ts_us FROM events
)
SELECT event_id, event_type, ts_us,
       CAST(count(DISTINCT user_id) OVER (
         PARTITION BY event_type ORDER BY ts_us
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS distinct_users_1h
FROM e
""",
)
def ts_rolling_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT cardinality: distinct users per event_type in
    the trailing hour of each event. Spark has no DISTINCT window
    aggregates; the idiomatic composition is ``collect_set`` over the
    RANGE frame + ``size`` — still one shuffle, JVM-side. Scale note:
    collect_set holds the window's distinct keys per row; for
    high-cardinality windows switch to the sketch tier
    (``approx_count_distinct`` windowed, or the HLL query family).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        "ts_us",
        F.size(F.collect_set("user_id").over(win)).cast("long").alias(
            "distinct_users_1h"
        ),
    )


# ---------------------------------------------------------------------------
# Bigram collocation mining (rational PMI — no logarithms)
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


@register(
    "text_collocations_pmi",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM t, unnest(range(1, len(toks))) AS r(i)
  WHERE toks[i] <> '' AND toks[i+1] <> ''
),
n AS (SELECT count(*) AS n_big FROM bg),
uni AS (
  SELECT w, count(*) AS c FROM (
    SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg
  ) GROUP BY w
),
pair AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY w1, w2)
SELECT pair.w1, pair.w2, CAST(c_xy AS BIGINT) AS c_xy,
       (CAST(c_xy AS DOUBLE) * (2 * n_big)) / (u1.c * u2.c) AS pmi_ratio
FROM pair
CROSS JOIN n
JOIN uni u1 ON u1.w = pair.w1
JOIN uni u2 ON u2.w = pair.w2
WHERE c_xy >= 5
ORDER BY pmi_ratio DESC, pair.w1, pair.w2 LIMIT 50
""",
)
def text_collocations_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by pointwise mutual information,
    LOG-FREE: PMI's exp form ``P(xy)/(P(x)P(y))`` is the rational
    ``c_xy * total / (c_x * c_y)`` — same ranking as log-PMI (log is
    monotone), but exactly reproducible (one float division of exact
    integers, identical shape in both engines). Corpus-wide bigram +
    unigram counts are two hash aggregations on the exploded token
    stream; the unigram side joins back broadcast (vocabulary ≪
    corpus at any scale).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = docs.select(toks.alias("toks"))
    bg = t.select(
        F.explode(
            # sequence(1, 0) would DESCEND in Spark — guard 1-token docs.
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "filter(transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2)), "
                "p -> p.w1 <> '' AND p.w2 <> '') "
                "ELSE array() END"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    n_big = bg.count()
    uni = (
        bg.select(F.col("w1").alias("w"))
        .unionAll(bg.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        pair.filter(F.col("c_xy") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            (
                (F.col("c_xy").cast("double") * F.lit(2 * n_big))
                / (F.col("c_x") * F.col("c_y"))
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.desc("pmi_ratio"), "w1", "w2").limit(50)


# ---------------------------------------------------------------------------
# Embedding int8 quantization (vector-index prep)
# ---------------------------------------------------------------------------


@register(
    "sim_quantize_int8",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, label, v,
         list_max(list_transform(v, x -> abs(x))) AS scale
  FROM e
)
SELECT vec_id, label, scale,
       array_to_string(
         CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(round((x * 127) / scale) AS BIGINT))
         END, ',') AS q8_csv
FROM s
""",
)
def sim_quantize_int8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    max-abs scale, round-half-away — the standard vector-index /
    model-serving compression step). Pure array expressions, no UDF,
    no shuffle: a scan-shaped map that at 100 TB quarters the ANN
    index footprint. Parity: both engines round half-away-from-zero
    and share the identical ``(x*127)/scale`` op shape.

    Output is the LOSSLESS comma-joined string of the 64 int8 codes
    (``q8_csv``) rather than ``array<bigint>`` — the driver's pandas
    canonicalizer cannot hash list values (the r8 red-row class; see
    tests/test_catalog_contract.py). Integer→string formatting is
    identical in Spark and DuckDB, so parity is byte-exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = e.select("vec_id", "label", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform(F.col("v"), F.abs))
    )
    q = F.when(
        F.col("scale") == 0,
        F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.round((x * 127) / F.col("scale")).cast("long"),
        )
    )
    q_csv = F.array_join(F.transform(q, lambda x: x.cast("string")), ",")
    return df.select("vec_id", "label", "scale", q_csv.alias("q8_csv"))


# ---------------------------------------------------------------------------
# As-of join with staleness tolerance (feature-store enrichment)
# ---------------------------------------------------------------------------

_TOL_US = 7 * 24 * 3_600_000_000  # 7 days


@register(
    "j12_asof_tolerance",
    oracle=f"""
WITH o AS (
  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS ts_us,
         o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
u AS (
  SELECT user_id, ts_us, 0 AS is_event, o_orderkey, price_cents,
         CAST(NULL AS BIGINT) AS event_id
  FROM o
  UNION ALL
  SELECT user_id, ts_us, 1 AS is_event, NULL, NULL, event_id FROM e
),
w AS (
  SELECT *,
         last_value(CASE WHEN is_event = 0 THEN o_orderkey END IGNORE NULLS)
           OVER win AS asof_orderkey,
         last_value(CASE WHEN is_event = 0 THEN price_cents END IGNORE NULLS)
           OVER win AS asof_price_cents,
         last_value(CASE WHEN is_event = 0 THEN ts_us END IGNORE NULLS)
           OVER win AS asof_ts_us
  FROM u
  WINDOW win AS (
    PARTITION BY user_id
    ORDER BY ts_us, is_event, coalesce(event_id, -1), coalesce(o_orderkey, -1)
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  )
)
SELECT user_id, event_id, ts_us,
       CASE WHEN ts_us - asof_ts_us <= {_TOL_US} THEN asof_orderkey END
         AS asof_orderkey,
       CASE WHEN ts_us - asof_ts_us <= {_TOL_US} THEN asof_price_cents END
         AS asof_price_cents
FROM w WHERE is_event = 1
""",
)
def j12_asof_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND (the feature-store pattern:
    each event takes the user's latest order, but only if it is at
    most 7 days old — older features must read as NULL, not silently
    stale). Union-timeline algorithm: tag both streams, one window
    pass with ``last_value(... ignore nulls)`` per user, then apply
    the tolerance as a filter on the carried timestamp. ONE shuffle
    total (the per-user window) vs. a range join's quadratic
    candidate space; at 100 TB this is the difference between a sort
    within partitions and an explosion (same plan shape as J9,
    SURVEY §2.3, plus the tolerance gate).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros("o_orderdate").alias("ts_us"),
        F.lit(0).alias("is_event"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.lit(None).cast("long").alias("event_id"),
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("long").alias("price_cents"),
        "event_id",
    )
    u = o.unionByName(e)
    # NULL ordering differs between engines (Spark nulls-first, DuckDB
    # nulls-last) — coalesce the nullable tiebreak keys in BOTH.
    win = (
        Window.partitionBy("user_id")
        .orderBy(
            "ts_us",
            "is_event",
            F.coalesce(F.col("event_id"), F.lit(-1)),
            F.coalesce(F.col("o_orderkey"), F.lit(-1)),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    order_key = F.when(F.col("is_event") == 0, F.col("o_orderkey"))
    order_price = F.when(F.col("is_event") == 0, F.col("price_cents"))
    order_ts = F.when(F.col("is_event") == 0, F.col("ts_us"))
    w = u.select(
        "user_id",
        "event_id",
        "ts_us",
        "is_event",
        F.last(order_key, ignorenulls=True).over(win).alias("asof_orderkey"),
        F.last(order_price, ignorenulls=True).over(win).alias("asof_price_cents"),
        F.last(order_ts, ignorenulls=True).over(win).alias("asof_ts_us"),
    )
    fresh = F.col("ts_us") - F.col("asof_ts_us") <= F.lit(_TOL_US)
    return w.filter(F.col("is_event") == 1).select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(fresh, F.col("asof_orderkey")).alias("asof_orderkey"),
        F.when(fresh, F.col("asof_price_cents")).alias("asof_price_cents"),
    )
