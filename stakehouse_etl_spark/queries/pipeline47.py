"""Data-pipeline queries, wave 47: model explainability, link
analysis, corpus comparison.

- EXACT two-feature Shapley decomposition (conditional-mean game,
  pinned double combination of integer moments)
- HITS hubs/authorities, two unnormalized integer iterations on the
  bipartite order-part graph
- Dunning log-likelihood keyness per language (4 pinned-order terms,
  micro-nat quantization)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Exact two-feature Shapley decomposition
# ---------------------------------------------------------------------------
@register(
    "ml_shapley_two_feature",
    oracle="""
WITH base AS (
  SELECT c_mktsegment AS seg, r_name AS reg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
g0 AS (SELECT CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       FROM base),
g1 AS (SELECT seg, CAST(sum(cents) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n FROM base GROUP BY seg),
g2 AS (SELECT reg, CAST(sum(cents) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n FROM base GROUP BY reg),
g12 AS (SELECT seg, reg, CAST(sum(cents) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n FROM base GROUP BY seg, reg)
SELECT g12.seg, g12.reg, g12.n,
       0.5 * ((CAST(g1.s AS DOUBLE) / CAST(g1.n AS DOUBLE)
                 - CAST(g0.s AS DOUBLE) / CAST(g0.n AS DOUBLE))
              + (CAST(g12.s AS DOUBLE) / CAST(g12.n AS DOUBLE)
                 - CAST(g2.s AS DOUBLE) / CAST(g2.n AS DOUBLE))) AS phi_seg,
       0.5 * ((CAST(g2.s AS DOUBLE) / CAST(g2.n AS DOUBLE)
                 - CAST(g0.s AS DOUBLE) / CAST(g0.n AS DOUBLE))
              + (CAST(g12.s AS DOUBLE) / CAST(g12.n AS DOUBLE)
                 - CAST(g1.s AS DOUBLE) / CAST(g1.n AS DOUBLE))) AS phi_reg
FROM g12
JOIN g1 ON g12.seg = g1.seg
JOIN g2 ON g12.reg = g2.reg
CROSS JOIN g0
ORDER BY g12.seg, g12.reg
""",
)
def ml_shapley_two_feature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley decomposition of mean order value over two
    features (market segment, region): with two players the Shapley
    value is the average of each feature's marginal contribution
    across both orderings — φ_seg = ½[(v({seg})−v(∅)) +
    (v({seg,reg})−v({reg}))] — and every coalition value v(S) is just
    a conditional mean, so the whole explanation comes from FOUR
    grouped integer-moment passes, no model, no sampling. Efficiency
    holds by construction: φ_seg + φ_reg = v(both) − v(∅) per cell
    (asserted in tests). Each φ is a pinned double combination of
    exact int64 sums.

    Scale: four conditional rollups over one scan lineage (5, 5, and
    25-group aggregates broadcast back onto the cell table)."""
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_mktsegment", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("r_name").alias("reg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    agg = [
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ]
    g0 = base.agg(*agg).select(
        F.col("s").alias("s0"), F.col("n").alias("n0")
    )
    g1 = base.groupBy("seg").agg(*agg).select(
        "seg", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    g2 = base.groupBy("reg").agg(*agg).select(
        "reg", F.col("s").alias("s2"), F.col("n").alias("n2")
    )
    g12 = base.groupBy("seg", "reg").agg(*agg).select(
        "seg", "reg", F.col("s").alias("s12"), F.col("n").alias("n12")
    )
    d = lambda s, n: F.col(s).cast("double") / F.col(n).cast("double")  # noqa: E731
    m = (
        g12.join(F.broadcast(g1), "seg")
        .join(F.broadcast(g2), "reg")
        .join(F.broadcast(g0))
    )
    v0, v1, v2, v12 = d("s0", "n0"), d("s1", "n1"), d("s2", "n2"), d("s12", "n12")
    return m.select(
        "seg",
        "reg",
        F.col("n12").alias("n"),
        (F.lit(0.5) * ((v1 - v0) + (v12 - v2))).alias("phi_seg"),
        (F.lit(0.5) * ((v2 - v0) + (v12 - v1))).alias("phi_reg"),
    ).orderBy("seg", "reg")


# ---------------------------------------------------------------------------
# HITS, two integer iterations on the bipartite basket graph
# ---------------------------------------------------------------------------
@register(
    "graph_hits_2iter",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
h1 AS (SELECT o, CAST(count(*) AS BIGINT) AS h FROM li GROUP BY o),
a1 AS (
  SELECT li.p, CAST(sum(h1.h) AS BIGINT) AS a
  FROM li JOIN h1 ON li.o = h1.o GROUP BY li.p
),
h2 AS (
  SELECT li.o, CAST(sum(a1.a) AS BIGINT) AS h
  FROM li JOIN a1 ON li.p = a1.p GROUP BY li.o
),
a2 AS (
  SELECT li.p, CAST(sum(h2.h) AS BIGINT) AS a
  FROM li JOIN h2 ON li.o = h2.o GROUP BY li.p
),
mx AS (SELECT CAST(max(a) AS BIGINT) AS amax FROM a2)
SELECT p AS part, a AS authority2,
       CAST(a AS DOUBLE) / CAST(amax AS DOUBLE) AS authority_norm
FROM a2 CROSS JOIN mx
ORDER BY a DESC, p LIMIT 20
""",
)
def graph_hits_2iter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the bipartite order↔part graph, TWO synchronized
    iterations kept UNNORMALIZED so every hub/authority score stays
    an exact int64 (normalizing each round is what forces floats into
    iterative link analysis; deferring the single normalization to
    the output edge loses nothing but the constant). authority₂
    weights parts by the basket-size-weighted reach of the orders
    carrying them — the 'importance beyond frequency' ranking that
    the integer-PageRank query does for the co-purchase projection.

    Scale: each half-iteration is one equi-join on the edge list's
    own key + a grouped sum (alternating o / p shuffle keys); scores
    grow ~(Σdeg)² per round, so int64 bounds the iteration count —
    document-and-check, exactly like the integer PageRank."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    h1 = li.groupBy("o").agg(F.count(F.lit(1)).cast("long").alias("h"))
    a1 = (
        li.join(h1, "o")
        .groupBy("p")
        .agg(F.sum("h").cast("long").alias("a"))
    )
    h2 = (
        li.join(a1, "p")
        .groupBy("o")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        li.join(h2, "o")
        .groupBy("p")
        .agg(F.sum("h").cast("long").alias("a"))
    )
    mx = a2.agg(F.max("a").cast("long").alias("amax"))
    return (
        a2.join(F.broadcast(mx))
        .select(
            F.col("p").alias("part"),
            F.col("a").alias("authority2"),
            (F.col("a").cast("double") / F.col("amax").cast("double")).alias(
                "authority_norm"
            ),
        )
        .orderBy(F.desc("authority2"), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dunning log-likelihood keyness
# ---------------------------------------------------------------------------
_LLR = """
(CASE WHEN a > 0 THEN 2.0 * CAST(a AS DOUBLE)
      * ln(CAST(a AS DOUBLE) / (CAST(cw AS DOUBLE) * CAST(cl AS DOUBLE)
                                / CAST(nn AS DOUBLE))) ELSE 0.0 END
 + CASE WHEN b > 0 THEN 2.0 * CAST(b AS DOUBLE)
      * ln(CAST(b AS DOUBLE) / (CAST(cw AS DOUBLE)
                                * CAST(nn - cl AS DOUBLE)
                                / CAST(nn AS DOUBLE))) ELSE 0.0 END)
+ (CASE WHEN c > 0 THEN 2.0 * CAST(c AS DOUBLE)
      * ln(CAST(c AS DOUBLE) / (CAST(nn - cw AS DOUBLE)
                                * CAST(cl AS DOUBLE)
                                / CAST(nn AS DOUBLE))) ELSE 0.0 END
   + CASE WHEN d > 0 THEN 2.0 * CAST(d AS DOUBLE)
      * ln(CAST(d AS DOUBLE) / (CAST(nn - cw AS DOUBLE)
                                * CAST(nn - cl AS DOUBLE)
                                / CAST(nn AS DOUBLE))) ELSE 0.0 END)
"""


@register(
    "text_keyness_llr",
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
),
t AS (SELECT lang, word FROM tok WHERE word <> ''),
nn_t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM t),
cl_t AS (SELECT CAST(count(*) AS BIGINT) AS cl FROM t WHERE lang = 'en'),
cw_t AS (SELECT word, CAST(count(*) AS BIGINT) AS cw FROM t GROUP BY word),
a_t AS (SELECT word, CAST(count(*) AS BIGINT) AS a
        FROM t WHERE lang = 'en' GROUP BY word),
cells AS (
  SELECT cw_t.word, coalesce(a_t.a, 0) AS a, cw_t.cw - coalesce(a_t.a, 0) AS b,
         cl_t.cl - coalesce(a_t.a, 0) AS c,
         nn_t.nn - cw_t.cw - cl_t.cl + coalesce(a_t.a, 0) AS d,
         cw_t.cw, cl_t.cl, nn_t.nn
  FROM cw_t LEFT JOIN a_t ON cw_t.word = a_t.word
  CROSS JOIN cl_t CROSS JOIN nn_t
)
SELECT word, a AS in_en, b AS in_rest, cw AS total,
       CAST(floor(({_LLR}) * 1000000) AS BIGINT) AS g2_micro
FROM cells
ORDER BY g2_micro DESC, word
LIMIT 25
""",
)
def text_keyness_llr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning LOG-LIKELIHOOD keyness: which words are most
    distinctive of the English sub-corpus vs the rest — the corpus-
    comparison statistic (G²) behind "characteristic vocabulary"
    reports, complementing PMI (within-corpus association) with
    between-corpus contrast. The 2×2 cell counts are exact int64;
    the four O·ln(O/E) terms are combined in a PINNED association
    order and the score quantized to micro-units (same libm-ulp
    armor as ``ml_lang_entropy_by_source``). Top-25 by keyness, ties
    broken by word.

    Scale: one token pass → word-keyed counts; the two scalar totals
    broadcast; the G² expression is per-word column math."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    nn_t = t.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    cl_t = t.filter(F.col("lang") == "en").agg(
        F.count(F.lit(1)).cast("long").alias("cl")
    )
    cw_t = t.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    a_t = (
        t.filter(F.col("lang") == "en")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("a0"))
    )
    cells = (
        cw_t.join(a_t, "word", "left")
        .join(F.broadcast(cl_t))
        .join(F.broadcast(nn_t))
        .select(
            "word",
            F.coalesce("a0", F.lit(0)).cast("long").alias("a"),
            (F.col("cw") - F.coalesce("a0", F.lit(0))).cast("long").alias("b"),
            (F.col("cl") - F.coalesce("a0", F.lit(0))).cast("long").alias("c"),
            (
                F.col("nn") - F.col("cw") - F.col("cl") + F.coalesce("a0", F.lit(0))
            )
            .cast("long")
            .alias("d"),
            "cw",
            "cl",
            "nn",
        )
    )
    g2 = F.expr(_LLR)
    return (
        cells.select(
            "word",
            F.col("a").alias("in_en"),
            F.col("b").alias("in_rest"),
            F.col("cw").alias("total"),
            F.floor(g2 * 1000000).cast("long").alias("g2_micro"),
        )
        .orderBy(F.desc("g2_micro"), "word")
        .limit(25)
    )
