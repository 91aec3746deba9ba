"""Fourth analytics wave: PageRank over the duplicate graph,
time-RANGE rolling windows, per-group OLS trend lines, and a source
vocabulary-overlap matrix.

Beyond-reference operators (SURVEY §7 step 8). Exactness contract as
everywhere: integer cents / token counts / scaled ranks until a final
correctly-rounded double op, so all four carry full DuckDB oracles —
including the iterative PageRank, whose per-iteration floor-division
keeps every intermediate a BIGINT (bit-identical across engines, where
a float PageRank would drift with summation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.dedup import minhash_lsh_pairs
from stakehouse_etl_spark.queries.datapipe import (
    _SHINGLES_CTE,
    _TOKS,
    _lsh_jaccard_cte,
)
from stakehouse_etl_spark.queries.analytics2 import HOUR_US, _events_us
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# PageRank (2 fixed iterations, integer-scaled) over the near-dup graph
# ---------------------------------------------------------------------------
PR_SCALE = 1_000_000_000  # rank fixed-point scale; floor-div keeps it integral
PR_BASE = (15 * PR_SCALE) // 100  # (1-d) * SCALE, precomputed (INT32-literal-safe)

# Edges come from the CAPPED LSH tier, not the exact shingle
# self-join: composed pipelines never ride the lossless quadratic arm
# (tier contract, operators/dedup.py:near_dup_pairs) — the round-6
# sf10 fuzz killed the exact-tier form in GC (its postings self-join
# AQE-broadcast a >1 GB build at 500k docs).
_PR_EDGES_CTE = f"""
{_SHINGLES_CTE}, {_lsh_jaccard_cte()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM j WHERE inter * 100 >= union_sz * 20
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1)
"""


@register(
    "graph_pagerank_2iter",
    oracle=f"""
WITH {_PR_EDGES_CTE},
r1 AS (
  SELECT s.b AS node,
         CAST({PR_BASE}
              + (85 * sum(CAST({PR_SCALE} AS BIGINT) // d.deg)) // 100
              AS BIGINT) AS r
  FROM sym s JOIN deg d ON s.a = d.a GROUP BY s.b
),
r2 AS (
  SELECT s.b AS node,
         CAST({PR_BASE}
              + (85 * sum(r1.r // d.deg)) // 100 AS BIGINT) AS r
  FROM sym s JOIN deg d ON s.a = d.a JOIN r1 ON r1.node = s.a
  GROUP BY s.b
)
SELECT r2.node AS doc_id, d.deg, r2.r AS rank_scaled
FROM r2 JOIN deg d ON d.a = r2.node
""",
)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped PageRank iterations (d=0.85, uniform start) over the
    symmetric near-duplicate graph — the centrality signal that ranks
    "hub" documents inside dup clusters (the copy everything else was
    derived from) for keep-best-of-cluster dedup policies.

    Fixed-point arithmetic: ranks are BIGINTs scaled by 1e9 and each
    neighbor contribution is an integer floor-division by out-degree,
    so partial-sum order cannot change a single bit — float PageRank
    diverges between engines, this one cannot. Per iteration the plan
    is a degree join keyed on src plus one shuffle (groupBy dst); the
    degree table is NODE-SCALE, so it is NOT broadcast-pinned — the
    round-6 sf10 fuzz measured the old hard `F.broadcast(deg)` pin
    dying in GC (a >1 GB broadcast build of the 500k-node degree
    table); AQE broadcasts it only while it is actually small.
    Iterations at 100 TB stay a linear chain of such stages (no
    driver-side loop state beyond the loop counter)."""
    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, threshold_pct=20).select("id_a", "id_b")
    fwd = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    rev = edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    sym = fwd.union(rev).distinct()
    # r11 (guide §5 — persist when reused AND recomputation is
    # expensive): sym feeds deg, both iterations, and the final
    # degree join — without a cut, the whole LSH edge pipeline
    # (shingles → signatures → banding → verify) re-evaluated ~10×
    # (profiled at sf0.1: ten identical 6-7 task-second stages, 128
    # task-seconds total). The edge list is GRAPH-scale (1.1 MB at
    # sf0.1 — orders of magnitude below corpus scale), so the eager
    # checkpoint is cheap; same discipline as connected_components.
    from stakehouse_etl_spark.caches import checkpoint_tracked

    sym = checkpoint_tracked(sym)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))

    base = F.lit(PR_BASE)

    def one_iter(rank: DataFrame | None) -> DataFrame:
        contrib = sym.join(deg, "a")
        if rank is None:  # uniform start: r0 = SCALE for every node
            per_edge = F.expr(f"{PR_SCALE} div deg")
        else:
            contrib = contrib.join(
                rank.withColumnRenamed("node", "a"), "a"
            )
            per_edge = F.expr("r div deg")
        return (
            contrib.select(F.col("b").alias("node"), per_edge.alias("c"))
            .groupBy("node")
            .agg((base + F.expr("(85 * sum(c)) div 100")).cast("long").alias("r"))
        )

    r2 = one_iter(one_iter(None))
    return r2.join(deg.withColumnRenamed("a", "node"), "node").select(
        F.col("node").alias("doc_id"), "deg", F.col("r").alias("rank_scaled")
    )


# ---------------------------------------------------------------------------
# Time-RANGE rolling window (1 h trailing sum/count per user)
# ---------------------------------------------------------------------------
@register(
    "ts_rolling_1h_range",
    oracle=f"""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT user_id, event_id, ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_1h
FROM s
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
""",
)
def ts_rolling_1h_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour rolling sum/count per user with a true
    RANGE frame over epoch-micros — the time-based moving aggregate
    (irregular sampling: "last hour", not "last N rows") that a ROWS
    frame cannot express. Peer rows (equal timestamps) are included
    together, per SQL RANGE semantics, identically in both engines.

    One window shuffle on ``user_id``; the frame is evaluated with a
    sliding two-pointer over the sorted partition — O(n) per
    partition, no per-row rescan. Sums are integer cents."""
    s = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-HOUR_US, 0)
    )
    return s.select(
        "user_id",
        "event_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum("cents").over(w).cast("long").alias("sum_cents_1h"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS trend (exact integer moments, one final division)
# ---------------------------------------------------------------------------
@register(
    "ml_group_ols_trend",
    oracle="""
WITH s AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
x AS (
  SELECT user_id, y,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS BIGINT) AS x
  FROM s
),
m AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM x GROUP BY 1
)
SELECT user_id, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept_cents
FROM m WHERE n >= 2
""",
)
def ml_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of the value series against event
    index: slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²). All five moments are
    exact BIGINTs (cents × small index), so the only floats are the
    final divisions, written with identical parenthesization in both
    dialects — grouped regression with zero drift. (At 100 TB the
    moments widen to DECIMAL(38,0), same shape.)

    The row_number window and the groupBy both key on ``user_id`` —
    one shuffle, reused. This is the segment-level trend screen a
    monitoring pipeline runs per entity; the closed-form moment
    rewrite is what makes it a single aggregation pass instead of a
    per-group solver."""
    s = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    x = s.select(
        "user_id",
        F.col("cents").alias("y"),
        F.row_number().over(w).cast("long").alias("x"),
    )
    m = x.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    return m.filter(F.col("n") >= 2).select(
        "user_id",
        "n",
        slope.alias("slope_cents"),
        intercept.alias("intercept_cents"),
    )


# ---------------------------------------------------------------------------
# Source vocabulary-overlap matrix (pairwise Jaccard of token sets)
# ---------------------------------------------------------------------------
@register(
    "text_vocab_overlap",
    oracle=f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
v AS (SELECT DISTINCT source, unnest(toks) AS tok FROM t),
n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab FROM v GROUP BY 1),
i AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
  FROM v a JOIN v b USING (tok)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, inter,
       CAST(na.n_vocab + nb.n_vocab - inter AS BIGINT) AS union_sz,
       CAST(inter AS DOUBLE) / CAST(na.n_vocab + nb.n_vocab - inter AS DOUBLE)
         AS jaccard
FROM i
JOIN n na ON na.source = src_a
JOIN n nb ON nb.source = src_b
""",
)
def text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the
    source-similarity diagnostic behind mixture design (two sources
    with 0.9 vocab overlap are near-redundant; one with 0.1 brings
    new coverage). The self-join runs on the (source, token) DISTINCT
    projection — cardinality #sources × vocab, tiny next to the
    corpus — and source-pair counts aggregate map-side. Counts stay
    BIGINT; Jaccard is one final division."""
    docs = load_table(spark, sf_dir, "documents")
    from stakehouse_etl_spark.operators.text import fan_out, tokens

    v = (
        fan_out(docs)
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    n = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    a = v.select(F.col("source").alias("src_a"), "tok")
    b = v.select(F.col("source").alias("src_b"), "tok")
    i = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    na = n.select(F.col("source").alias("src_a"), F.col("n_vocab").alias("n_a"))
    nb = n.select(F.col("source").alias("src_b"), F.col("n_vocab").alias("n_b"))
    union_sz = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        i.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            union_sz.cast("long").alias("union_sz"),
            (F.col("inter").cast("double") / union_sz.cast("double")).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical subtree rollup (BOM / org-chart aggregation)
# ---------------------------------------------------------------------------
TREE_MAX_DEPTH = 30  # covers 2^30 nodes; ancestors beyond collapse to root 0


@register(
    "graph_tree_rollup",
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
),
anc AS (
  SELECT doc_id AS node, doc_id, n_tok FROM t
  UNION ALL
  SELECT node // 2, doc_id, n_tok FROM anc WHERE node >= 1
)
SELECT node, CAST(count(*) AS BIGINT) AS n_desc,
       CAST(sum(n_tok) AS BIGINT) AS subtree_tok
FROM anc GROUP BY node
""",
)
def graph_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM / org-chart) subtree aggregation over the
    implicit binary tree ``parent(n) = n div 2``: for every node, the
    descendant-or-self count and total token mass of its subtree.

    The recursive-join formulation (the oracle's recursive CTE) walks
    the tree a level per iteration — a join chain as deep as the
    hierarchy. The scale shape used here instead: each row EMITS its
    whole ancestor path arithmetically (``array_distinct`` of
    ``doc_id >> i``, depth ≤ 30 — fixed-size, no joins at all), one
    explode (fan-out = tree depth ≈ log₂ N), one shuffle (groupBy
    ancestor). Works for any encodable hierarchy (materialized-path /
    dewey keys); depth-skew lands on the root's partition exactly like
    a grand-total does — two-stage agg (operators/skew.py) is the
    fallback. All counts BIGINT."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long").alias(
            "n_tok"
        ),
    )
    ancestors = F.expr(
        f"array_distinct(transform(sequence(0, {TREE_MAX_DEPTH}),"
        " i -> shiftright(doc_id, i)))"
    )
    return (
        t.select(F.explode(ancestors).alias("node"), "n_tok")
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_desc"),
            F.sum("n_tok").cast("long").alias("subtree_tok"),
        )
    )
