"""Data-pipeline queries, wave 41: graph peeling, mixture entropy,
calendar-edge semantics.

- k-core peeling (3 synchronized rounds, unrolled in both dialects)
- per-source language-mix Shannon entropy (fixed-order additions over
  the known 5-language domain)
- month-end clamp audit for add-month arithmetic
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# k-core peeling, 3 unrolled rounds
# ---------------------------------------------------------------------------
_KCORE_EDGES = """
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e0 AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr)
"""


def _peel_cte(i: int, k: int) -> str:
    return f"""
d{i} AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e{i} GROUP BY u
),
keep{i} AS (SELECT u FROM d{i} WHERE deg >= {k}),
e{i + 1} AS (
  SELECT e.u, e.v FROM e{i} e
  JOIN keep{i} ka ON e.u = ka.u
  JOIN keep{i} kb ON e.v = kb.u
)"""


@register(
    "graph_kcore_peel",
    oracle=f"""
WITH {_KCORE_EDGES},
{",".join(_peel_cte(i, 2) for i in range(3))},
d3 AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e3 GROUP BY u)
SELECT u AS node, deg FROM d3 ORDER BY node
""",
)
def graph_kcore_peel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE PEELING (k=2) on the co-purchase graph, three
    SYNCHRONIZED rounds: each round computes degrees, drops every
    node below k, and restricts the edge list to survivors — the
    dense-subgraph extractor used to find tightly-bound product
    communities (and, in corpus work, boilerplate cliques that
    survive pairwise dedup). The round count is FIXED and unrolled
    identically in both dialects, so the result is well-defined
    whether or not peeling has converged (the fixed-point k-core is
    reached when a round removes nothing; the iterative driver for
    unbounded peeling is the same loop the connected-components
    operator runs).

    Scale: each round is one groupBy(node) degree count + two
    semi-join restrictions over a CHECKPOINTED edge generation (the
    connected-components discipline): round i's plan references e_i
    twice (deg→keep and the restriction itself), so without a
    per-round lineage cut the expensive pair-building subtree is
    re-executed ~2^rounds times — exchange reuse papered over this
    through sf10 but broke at sf30 (r8 ladder: step ratio 3.43 on a
    3x data step). With the cuts each round does bounded new work on
    a materialized, only-ever-shrinking edge list."""
    from stakehouse_etl_spark.caches import checkpoint_tracked, release_now

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # The raw co-occurrence pair stream is ~2x the lineitem row count
    # and its (u, v) keys are near-unique, so map-side combine does
    # nothing and each of the groupBy's tasks hash-aggregates
    # rows/partitions pairs. At the session's fixed 32 shuffle
    # partitions that per-task slice grows linearly with data —
    # ~11M pairs/task at sf30 spilled the hash agg and pushed the
    # sf10→sf30 step ratio to 3.45 on a 3x data step (r8 ladder).
    # Scale the aggregation's partition count with the input instead
    # (footer-metadata row count, zero scan; ~3M pairs per task at
    # any sf) — what a 100 TB deployment does with
    # spark.sql.shuffle.partitions sized from catalog stats.
    from stakehouse_etl_spark.io.sources import table_num_rows

    # A footerless/missing lineitem layout sizes to 0, so the count
    # degrades to the 32-partition floor instead of crashing the
    # sizing step before the scan even runs.
    n_pairs_est = 2 * table_num_rows(sf_dir, "lineitem")
    n_part = max(32, min(4096, n_pairs_est // 3_000_000))
    # The self-join's sort-merge also works per-partition slices that
    # grow with data at a fixed partition count — co-partition both
    # sides at the scaled count so per-task sort size is bounded too.
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    ).repartition(int(n_part), "ok")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    ).repartition(int(n_part), "ok")
    pr = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .repartition(int(n_part), "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    e = checkpoint_tracked(
        pr.unionAll(pr.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    k = 2
    for _ in range(3):
        deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        prev = e
        e = checkpoint_tracked(
            e.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
        )
        release_now(prev)
    d3 = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return d3.select(F.col("u").alias("node"), "deg").orderBy("node")


# ---------------------------------------------------------------------------
# Per-source language-mix entropy
# ---------------------------------------------------------------------------
_LANGS = ("de", "en", "es", "fr", "zh")


def _lang_terms_sql() -> str:
    # c·ln(c) per language, NULL-safe (0·ln 0 := 0), added in a PINNED
    # left-to-right order so float association is identical on both
    # engines.
    terms = [
        f"(CASE WHEN c_{lang} > 0 THEN CAST(c_{lang} AS DOUBLE) * ln(CAST(c_{lang} AS DOUBLE)) ELSE 0.0 END)"
        for lang in _LANGS
    ]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


@register(
    "ml_lang_entropy_by_source",
    oracle=f"""
WITH g AS (
  SELECT source,
         CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
         CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
         CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
         CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh,
         CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source
)
SELECT source, n, c_de, c_en, c_es, c_fr, c_zh,
       CAST(floor((ln(CAST(n AS DOUBLE))
                   - {_lang_terms_sql()} / CAST(n AS DOUBLE)) * 1000000)
            AS BIGINT) AS entropy_unats
FROM g ORDER BY source
""",
)
def ml_lang_entropy_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per corpus source — the
    diversity/balance metric a multilingual training-mix planner
    watches (entropy 0 = monolingual source; ln 5 = perfectly
    balanced over the 5-language domain). Uses the identity H =
    ln n − (Σ c·ln c)/n with the five per-language terms PIVOTED to
    columns and added in a pinned left-to-right order — no
    aggregation-order float drift; counts are exact int64. ln is the
    one transcendental whose last ulp the two engines' libm may
    disagree on, so the entropy is emitted QUANTIZED to integer
    micro-nats (floor ×1e6) — the boundary-straddle probability at
    that grid is ~4e-10 per row.

    Scale: one conditional-aggregate pass over the corpus (map-side
    combinable); the language domain is a compile-time constant, the
    pattern for any bounded category mix."""
    terms_expr = F.expr(_lang_terms_sql())
    aggs = [
        F.sum((F.col("lang") == lang).cast("long")).cast("long").alias(f"c_{lang}")
        for lang in _LANGS
    ]
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(*aggs, F.count(F.lit(1)).cast("long").alias("n"))
    )
    return g.select(
        "source",
        "n",
        *[f"c_{lang}" for lang in _LANGS],
        F.floor(
            (
                F.log(F.col("n").cast("double"))
                - terms_expr / F.col("n").cast("double")
            )
            * 1000000
        )
        .cast("long")
        .alias("entropy_unats"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Month-end clamp audit
# ---------------------------------------------------------------------------
@register(
    "f15_month_end_clamp",
    oracle="""
WITH d AS (SELECT DISTINCT o_orderdate::DATE AS day FROM orders),
x AS (
  SELECT day,
         (day + INTERVAL 1 MONTH)::DATE AS plus1m,
         CAST(day(day) AS BIGINT) AS dom,
         CAST(day((day + INTERVAL 1 MONTH)::DATE) AS BIGINT) AS dom1m
  FROM d
)
SELECT CAST(count(*) AS BIGINT) AS n_dates,
       CAST(sum(CASE WHEN dom1m < dom THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       CAST(min(CASE WHEN dom1m < dom THEN epoch_us(day::TIMESTAMP) END)
            AS BIGINT) AS first_clamped_us,
       CAST(max(CASE WHEN dom1m < dom THEN epoch_us(day::TIMESTAMP) END)
            AS BIGINT) AS last_clamped_us
FROM x
""",
)
def f15_month_end_clamp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-edge semantics audit: adding one month to a
    month-end date CLAMPS (Jan 31 + 1M = Feb 28/29) in both Spark's
    ``add_months`` and DuckDB's ``+ INTERVAL 1 MONTH`` — the audit
    counts how many real order dates hit that clamp, i.e. how many
    rows a naive "same day next month" billing/retention cohort
    would silently shift. This is the kernel that documents WHY
    month arithmetic must go through the engine's clamping function
    and never through day+30 arithmetic (``ts_mom_growth`` depends
    on it).

    Scale: distinct-date collapse first (spine-sized), then a scan-
    free audit aggregate."""
    d = (
        load_table(spark, sf_dir, "orders")
        .select(F.to_date("o_orderdate").alias("day"))
        .distinct()
    )
    x = d.select(
        "day",
        F.add_months("day", 1).alias("plus1m"),
        F.dayofmonth("day").cast("long").alias("dom"),
        F.dayofmonth(F.add_months("day", 1)).cast("long").alias("dom1m"),
    )
    clamped = F.col("dom1m") < F.col("dom")
    return x.agg(
        F.count(F.lit(1)).cast("long").alias("n_dates"),
        F.sum(clamped.cast("long")).cast("long").alias("n_clamped"),
        F.min(F.when(clamped, F.unix_micros(F.col("day").cast("timestamp"))))
        .cast("long")
        .alias("first_clamped_us"),
        F.max(F.when(clamped, F.unix_micros(F.col("day").cast("timestamp"))))
        .cast("long")
        .alias("last_clamped_us"),
    )
