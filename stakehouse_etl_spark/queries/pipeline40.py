"""Data-pipeline queries, wave 40: blocking strategies and
concentration/threshold audits.

- sorted-neighborhood dedup blocking (the third blocking family next
  to LSH banding and prefix filtering): sort-key windows generate a
  LINEAR number of candidates, exact Jaccard verifies
- Herfindahl-Hirschman concentration index (exact rational shares)
- dedup threshold-sensitivity sweep (pair survival per cutoff)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup blocking
# ---------------------------------------------------------------------------
@register(
    "dedup_snm_pairs",
    oracle="""
WITH d AS (
  SELECT doc_id,
         substr(replace(lower(text), ' ', ''), 1, 16) AS snm_key,
         substr(replace(lower(text), ' ', ''), 1, 4) AS blk
  FROM documents
),
w AS (
  SELECT blk, doc_id, snm_key,
         lead(doc_id, 1) OVER (
           PARTITION BY blk ORDER BY snm_key, doc_id
         ) AS nxt1,
         lead(doc_id, 2) OVER (
           PARTITION BY blk ORDER BY snm_key, doc_id
         ) AS nxt2
  FROM d
),
cand AS (
  SELECT doc_id AS a, nxt1 AS b FROM w WHERE nxt1 IS NOT NULL
  UNION
  SELECT doc_id AS a, nxt2 AS b FROM w WHERE nxt2 IS NOT NULL
),
words AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM words GROUP BY doc_id
),
common AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN words wa ON wa.doc_id = c.a
  JOIN words wb ON wb.doc_id = c.b AND wb.word = wa.word
  GROUP BY c.a, c.b
)
SELECT a, b, n_common, sa.sz AS size_a, sb.sz AS size_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON common.a = sa.doc_id
JOIN sizes sb ON common.b = sb.doc_id
WHERE n_common * 2 >= (sa.sz + sb.sz - n_common)
ORDER BY CAST(n_common AS DOUBLE)
           / CAST(sa.sz + sb.sz - n_common AS DOUBLE) DESC, a, b
LIMIT 50
""",
)
def dedup_snm_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD dedup blocking — the third blocking family
    in the stack (LSH banding: ``dedup_minhash_lsh``; prefix
    filtering: ``dedup_prefix_filter_pairs``): docs sort by a
    normalized key (first 16 squashed chars), and each doc pairs only
    with its next-2 neighbors in sort order — a LINEAR candidate
    budget (≤ 2N pairs) regardless of cluster structure, which is
    exactly the guarantee LSH's hot buckets lack. Candidates are then
    verified with EXACT word-set Jaccard (explode + equi-join on the
    word, integer cross-multiplied ≥½ cutoff). The miss profile is
    complementary: SNM only sees near-neighbors in key space, so it
    pairs with the key-insensitive tiers rather than replacing them.

    Scale: the neighborhood window partitions by a 4-char key block
    (bounded partitions, sort confined within blocks — the
    SNM-with-blocking hybrid used at scale); word join is linear in
    candidate tokens; top-50 is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = F.substring(F.regexp_replace(F.lower("text"), " ", ""), 1, 16)
    d = docs.select(
        "doc_id",
        key.alias("snm_key"),
        F.substring(F.regexp_replace(F.lower("text"), " ", ""), 1, 4).alias("blk"),
    )
    win = Window.partitionBy("blk").orderBy("snm_key", "doc_id")
    w = d.select(
        "doc_id",
        F.lead("doc_id", 1).over(win).alias("nxt1"),
        F.lead("doc_id", 2).over(win).alias("nxt2"),
    )
    cand = (
        w.filter(F.col("nxt1").isNotNull())
        .select(F.col("doc_id").alias("a"), F.col("nxt1").alias("b"))
        .union(
            w.filter(F.col("nxt2").isNotNull()).select(
                F.col("doc_id").alias("a"), F.col("nxt2").alias("b")
            )
        )
        .distinct()
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "").distinct()
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    wa = words.select(F.col("doc_id").alias("a"), "word")
    wb = words.select(F.col("doc_id").alias("b"), "word")
    common = (
        cand.join(wa, "a").join(wb, ["b", "word"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("size_b"))
    out = (
        common.join(sa, "a")
        .join(sb, "b")
        .filter(
            F.col("n_common") * 2
            >= (F.col("size_a") + F.col("size_b") - F.col("n_common"))
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
    )
    return out.select(
        "a", "b", "n_common", "size_a", "size_b", "jaccard"
    ).orderBy(F.desc("jaccard"), "a", "b").limit(50)


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------
@register(
    "a_hhi_concentration",
    oracle="""
WITH c AS (
  SELECT n_name, o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 1000
           AS cust_kc
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
),
s AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(cust_kc) AS BIGINT) AS total_kc,
         CAST(sum(cust_kc * cust_kc) AS BIGINT) AS sumsq
  FROM c GROUP BY n_name
)
SELECT n_name, n_cust, total_kc, sumsq,
       CAST(sumsq AS DOUBLE)
         / (CAST(total_kc AS DOUBLE) * CAST(total_kc AS DOUBLE)) AS hhi
FROM s
ORDER BY n_name
""",
)
def a_hhi_concentration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of order revenue across
    customers, per nation: HHI = Σ share² = Σ x² / (Σ x)² — the
    antitrust/market-concentration dual of the Gini inequality audit
    (``a_gini_region``). Customer totals are exact integer cents
    floor-divided to KILOCENT units before squaring (identical
    integer `div`/`//` on both engines) so Σx² stays inside int64 at
    every bench scale; HHI itself is one division with the squared
    denominator formed in double. Scaling the unit scales every
    share identically, leaving HHI unchanged up to the documented
    kilocent truncation.

    Scale: two grouped passes (customer rollup on the join key the
    fact table already shuffles on, then the nation rollup); both
    map-side combinable."""
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    c = base.groupBy("n_name", "o_custkey").agg(
        F.expr(
            "cast(sum(cast(round(o_totalprice * 100) as long)) as long) div 1000"
        ).alias("cust_kc")
    )
    s = c.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cust_kc").cast("long").alias("total_kc"),
        F.sum(F.col("cust_kc") * F.col("cust_kc")).cast("long").alias("sumsq"),
    )
    return s.select(
        "n_name",
        "n_cust",
        "total_kc",
        "sumsq",
        (
            F.col("sumsq").cast("double")
            / (F.col("total_kc").cast("double") * F.col("total_kc").cast("double"))
        ).alias("hhi"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# Dedup threshold-sensitivity sweep
# ---------------------------------------------------------------------------
@register(
    "dedup_threshold_sweep",
    oracle="""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
                s -> ws[s] || '_' || ws[s + 1] || '_' || ws[s + 2])) AS shingle
  FROM w
  WHERE len(ws) >= 3
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT i, sa.n + sb.n - i AS u
  FROM inter
  JOIN sz sa ON inter.ida = sa.doc_id
  JOIN sz sb ON inter.idb = sb.doc_id
),
grid AS (SELECT unnest([50, 60, 70, 80, 90]) AS pct)
SELECT pct,
       CAST(sum(CASE WHEN i * 100 >= u * pct THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pairs
FROM j CROSS JOIN grid
GROUP BY pct ORDER BY pct
""",
)
def dedup_threshold_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for the dedup tier: how many doc
    pairs survive at Jaccard cutoffs 0.5–0.9 — the calibration curve
    an operator reads BEFORE picking the production threshold (a
    cliff between two cutoffs means the corpus has a near-dup band
    right there; a flat curve means the choice is safe). One pass
    over the exact 3-gram Jaccard pairs, five integer
    cross-multiplied comparisons (i·100 ≥ u·pct) — no float decides
    membership; the per-cutoff rollup shares the single pair
    computation via a tiny threshold-grid cross join.

    Scale: word TRIGRAMS keep the shingle domain sparse (per-shingle
    document frequency stays low, so the self-join is Σ df² — far
    from all-pairs); the sweep itself adds a 5-row broadcast and one
    grouped pass — the pattern is what matters: N candidate policies
    priced with ONE pair computation. At 100 TB you run the same
    sweep over the LSH candidate pairs instead of the exact tier."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("ws"),
    ).filter(F.size("ws") >= 3)
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3), "
                    "s -> concat(ws[s], '_', ws[s + 1], '_', ws[s + 2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.select(F.col("doc_id").alias("ida"), "shingle")
    b = sh.select(F.col("doc_id").alias("idb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    j = (
        inter.join(sa, "ida")
        .join(sb, "idb")
        .select("i", (F.col("na") + F.col("nb") - F.col("i")).alias("u"))
    )
    grid = spark.createDataFrame([(p,) for p in (50, 60, 70, 80, 90)], "pct int")
    return (
        j.crossJoin(F.broadcast(grid))
        .groupBy("pct")
        .agg(
            F.sum(
                (F.col("i") * 100 >= F.col("u") * F.col("pct")).cast("long")
            )
            .cast("long")
            .alias("n_pairs")
        )
        .orderBy("pct")
    )
