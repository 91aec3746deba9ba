"""Second approximate-algorithms wave: frequent-items (heavy hitters)
with the Misra–Gries no-false-negative contract, and an exact
equi-depth histogram.

Like ``a_approx_distinct_bounded`` / ``a_approx_quantile_bounded``
(queries/corpus.py, queries/pipeline2.py), the sketch query does not
hash engine-specific sketch internals — it emits the exact ground
truth plus a CONTRACT boolean the sketch must satisfy, which is what
a 100 TB pipeline actually relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out, tokens
from stakehouse_etl_spark.queries.datapipe import _TOKS
from stakehouse_etl_spark.queries.registry import register

FREQ_SUPPORT = 0.01  # heavy hitter = frequency > 1% of the stream


@register(
    "a_freq_items_contract",
    oracle=f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
e AS (SELECT unnest(toks) AS tok FROM t),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM e),
g AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1)
SELECT tok, cnt, TRUE AS in_sketch
FROM g, n WHERE cnt > {FREQ_SUPPORT} * total
""",
)
def a_freq_items_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters screen over the token stream via Spark's
    ``DataFrame.stat.freqItems`` (Karp/Misra–Gries counter sketch:
    one pass, ≤1/support counters per partition, mergeable — THE
    bounded-memory way to find hot keys in a 100 TB stream before
    deciding to salt them). The sketch may over-report but never
    misses a true heavy hitter; this query emits every token whose
    exact count exceeds ``support × N`` with an ``in_sketch``
    membership boolean, and the oracle pins the exact counts with
    ``TRUE`` — so the value-hash verifies the no-false-negative
    guarantee, not engine-specific sketch internals.

    The sketch result is bounded (≤1/support items), so collecting it
    to build the membership set is a constant-size driver op, not a
    data-dependent one."""
    docs = load_table(spark, sf_dir, "documents")
    e = fan_out(docs).select(F.explode(tokens(F.col("text"))).alias("tok"))
    sketch_items = set(
        e.stat.freqItems(["tok"], FREQ_SUPPORT).collect()[0][0]
    )
    total = e.count()
    g = e.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    hot = g.filter(F.col("cnt") > F.lit(FREQ_SUPPORT) * F.lit(total))
    return hot.select(
        "tok", "cnt", F.col("tok").isin(sketch_items).alias("in_sketch")
    )


N_DEPTH_BUCKETS = 8


@register(
    "a_histogram_equi_depth",
    oracle=f"""
WITH s AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey,
         ntile({N_DEPTH_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
           AS bucket
  FROM orders
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents
FROM s GROUP BY 1
""",
)
def a_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of order totals: ntile
    assigns each row to one of 8 rank buckets (deterministic total
    order: price then orderkey), and the per-bucket min/max are the
    bucket boundaries — the optimizer-statistics histogram, where
    equi-WIDTH (a_histogram_fixed_width) answers distribution shape
    instead. Boundaries stay integer cents.

    The global rank runs through the two-phase
    ``skew_resistant_rank`` decomposition (no single-partition window
    over row data) and ntile's first-buckets-get-the-remainder split
    is reproduced in closed form from the rank — bit-identical to the
    oracle's native ntile. The production path at 100 TB can still
    trade this exact version for approx_percentile boundaries (see
    a_approx_quantile_bounded for the sketch's error contract); this
    is the ground truth that contract is checked against."""
    from stakehouse_etl_spark.operators.windows import skew_resistant_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = skew_resistant_rank(
        o, value="o_totalprice", id_col="o_orderkey", out="rnk",
        descending=False,
        # double-valued rank: /64 is a power-of-two scale (exact in
        # IEEE, hence strictly monotone), floor makes it an integral
        # 64-currency-unit bucket for step (A)'s chunked prefix
        value_chunk_col=F.expr(
            "cast(floor(o_totalprice / 64.0) as bigint)"
        ),
    )
    total = o.agg(F.count(F.lit(1)).alias("n_total"))
    r = ranked.crossJoin(F.broadcast(total))
    # ntile(K): first n%K buckets hold ceil(n/K) rows, the rest floor.
    q = F.expr("n_total div " + str(N_DEPTH_BUCKETS))
    rem = F.col("n_total") % N_DEPTH_BUCKETS
    big = rem * (q + 1)  # rows covered by the ceil-sized buckets
    K = N_DEPTH_BUCKETS
    bucket = F.when(
        F.col("rnk") <= big,
        F.expr(f"(rnk - 1) div (n_total div {K} + 1) + 1"),
    ).otherwise(
        rem
        + F.expr(
            f"(rnk - (n_total % {K}) * (n_total div {K} + 1) - 1)"
            f" div (n_total div {K})"
        )
        + 1
    )
    s = r.select("cents", bucket.cast("long").alias("bucket"))
    return s.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("cents").cast("long").alias("lo_cents"),
        F.max("cents").cast("long").alias("hi_cents"),
    )
