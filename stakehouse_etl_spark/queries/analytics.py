"""Advanced analytics queries: time-series sessionization and
gap-fill interpolation, TF-IDF term scoring, CUBE grouping sets,
exact interpolated percentiles, and connected-component duplicate
clusters.

Cross-engine exactness rules (same as the rest of the catalog):
integer money/time math until the final division; interpolation and
scoring expressions are written as the IDENTICAL arithmetic tree in
Spark and DuckDB so IEEE rounding agrees bit-for-bit; ranking limits
always carry a total deterministic ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.dedup import minhash_lsh_pairs
from stakehouse_etl_spark.operators.graph import connected_components
from stakehouse_etl_spark.operators.text import fan_out, tokens
from stakehouse_etl_spark.operators.timeseries import gap_fill_linear, sessionize
from stakehouse_etl_spark.queries.datapipe import _SHINGLES_CTE, _TOKS, _lsh_jaccard_cte
from stakehouse_etl_spark.queries.registry import register

MICROS_PER_HOUR = 3_600_000_000
SESSION_GAP_US = 4 * 3600 * 1_000_000


# ---------------------------------------------------------------------------
# Sessionization (gap-based)
# ---------------------------------------------------------------------------
@register(
    "ts_sessionize",
    bench=True,
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS v_c
  FROM events
), f AS (
  SELECT user_id, ts_us, v_c,
         CASE WHEN ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), s AS (
  SELECT user_id, ts_us, v_c,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM f
)
SELECT user_id, session_seq,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v_c) AS BIGINT) / 100.0 AS sum_value
FROM s GROUP BY 1, 2
""",
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (4 h inactivity gap) of the events
    stream: lag-flag → running-sum session numbers → per-session
    aggregate, all on one hash-partitioning of user_id
    (operators/timeseries.py:sessionize). The scale-out unit is the
    key, so 100 TB of events sessionize with exactly one shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    )
    out = sessionize(
        ev,
        key="user_id",
        ts_us="ts_us",
        gap_us=SESSION_GAP_US,
        measures={"sum_v_c": F.sum("v_c")},
    )
    return out.select(
        "user_id",
        "session_seq",
        "session_start_us",
        "session_end_us",
        "n_events",
        (F.col("sum_v_c") / 100.0).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Gap-fill linear interpolation
# ---------------------------------------------------------------------------
@register(
    "ts_gap_fill_interpolate",
    oracle=f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {MICROS_PER_HOUR} AS epoch,
         max("value") AS balance
  FROM events GROUP BY 1, 2
), obs AS (
  SELECT * FROM b WHERE epoch % 5 <> 2 AND epoch % 7 <> 3
), span AS (
  SELECT user_id, min(epoch) AS t0, max(epoch) AS t1 FROM obs GROUP BY 1
), grid AS (
  SELECT user_id, unnest(range(t0, t1 + 1)) AS epoch FROM span
), g AS (
  SELECT grid.user_id, grid.epoch, obs.balance
  FROM grid LEFT JOIN obs ON obs.user_id = grid.user_id
                         AND obs.epoch = grid.epoch
), w AS (
  SELECT user_id, epoch, balance,
         last_value(balance IGNORE NULLS) OVER wb AS pv,
         first_value(balance IGNORE NULLS) OVER wf AS nv,
         last_value(CASE WHEN balance IS NOT NULL THEN epoch END IGNORE NULLS)
           OVER wb AS pt,
         first_value(CASE WHEN balance IS NOT NULL THEN epoch END IGNORE NULLS)
           OVER wf AS nt
  FROM g
  WINDOW wb AS (PARTITION BY user_id ORDER BY epoch
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY epoch
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, epoch,
       CASE WHEN balance IS NOT NULL THEN balance
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv) * ((epoch - pt) * 1.0 / (nt - pt))
       END AS balance,
       balance IS NULL AS interpolated
FROM w
""",
)
def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 repair, analytically: thin the hourly balance panel on a
    deterministic mask (epoch%5==2 or epoch%7==3 dropped), densify the
    grid with sequence+explode (U3), and linearly interpolate interior
    gaps with ignorenulls neighbor windows
    (operators/timeseries.py:gap_fill_linear). The reference repairs
    such gaps by replaying REST fetches
    (back-fillers/validator-balances-backfiller.py:127-189)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id",
        (F.unix_micros("ts") / F.lit(MICROS_PER_HOUR)).cast("long").alias("epoch"),
    ).agg(F.max("value").alias("balance"))
    obs = b.filter((F.col("epoch") % 5 != 2) & (F.col("epoch") % 7 != 3))
    return gap_fill_linear(obs, key="user_id", time="epoch", value="balance")


# ---------------------------------------------------------------------------
# TF-IDF term scoring (rarity-weighted, log-free for exact parity)
# ---------------------------------------------------------------------------
@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), t2 AS (SELECT * FROM tok WHERE term <> ''),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM t2 GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len FROM t2 GROUP BY 1),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
sc AS (
  SELECT doc_id, term, tf, df,
         (tf * n_docs * 1000000.0) / (doc_len * df) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN nd
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term) AS BIGINT) AS rn
  FROM sc
)
SELECT doc_id, term, tf, df, score, rn FROM r WHERE rn <= 5
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style term scoring: score = tf·N·10⁶ / (doc_len·df) —
    the standard tf·idf ordering with the log dropped and every factor
    an exact integer, so one correctly-rounded IEEE division is the
    only float op and both engines agree bit-for-bit. Top-5 terms per
    document, total ORDER (score DESC, term) so ranks can't tie-swap.
    Plan: explode → two grouped counts + one term-keyed count, all
    map-side-combined; the doc-frequency dim broadcasts back."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        fan_out(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc_len and df both derive from tf — NOT from a re-explode of the
    # corpus — so the explode subplan is identical under every consumer
    # and eligible for AQE exchange reuse (ReusedExchange at runtime);
    # a persistent deployment would materialize tf once explicitly.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    sc = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs") * F.lit(1000000.0))
                / (F.col("doc_len") * F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        sc.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets
# ---------------------------------------------------------------------------
@register(
    "a_cube_region_segment",
    oracle="""
SELECT r_name, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, c_mktsegment)
""",
)
def a_cube_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (region, segment): all four grouping sets — detail,
    both one-way subtotals, grand total — in ONE pass / one exchange
    (Spark expands grouping sets before the shuffle; same NULL
    subtotal markers as the ROLLUP twin, a_rollup_region_nation)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .cube("r_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0).alias(
                "sum_bal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (engine-identical arithmetic)
# ---------------------------------------------------------------------------
@register(
    "a_percentile_kernel",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM orders
), agg AS (
  SELECT priority, max(n) AS n,
         max(CASE WHEN rn = (1 * (n - 1)) // 2 + 1 THEN v END) AS a50,
         max(CASE WHEN rn = (1 * (n - 1)) // 2 + 2 THEN v END) AS b50,
         max(CASE WHEN rn = (9 * (n - 1)) // 10 + 1 THEN v END) AS a90,
         max(CASE WHEN rn = (9 * (n - 1)) // 10 + 2 THEN v END) AS b90
  FROM s GROUP BY priority
)
SELECT priority, n,
       (a50 + (coalesce(b50, a50) - a50) * (((1 * (n - 1)) % 2) / 2.0))
         / 100.0 AS p50,
       (a90 + (coalesce(b90, a90) - a90) * (((9 * (n - 1)) % 10) / 10.0))
         / 100.0 AS p90
FROM agg
""",
)
def a_percentile_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (p50/p90 of order value
    per priority) built from row_number + count windows and the
    textbook ``a + (b − a)·frac`` at position p·(n−1) — the SAME
    expression tree in both engines, over integer cents, so the result
    hashes identically (built-in percentile_cont implementations
    differ in interpolation rounding across engines; this kernel
    doesn't). The position p·(n−1) is carried as integer numerator /
    denominator (k = num·(n−1) div den, frac = (num·(n−1) mod den)/den)
    so not even the fraction touches inexact floats — DuckDB parses
    0.9 as exact DECIMAL while Spark uses binary double, and that
    1-ulp fraction gap is visible after multiplying by cents. One
    window shuffle + one grouped aggregate.

    NOTE the partition key is low-cardinality (5 priorities): this
    kernel covers the exact-percentile SEMANTICS on bounded groups; at
    100 TB each group funnels through one task and the scale path is
    the bucketed two-phase rank (``corpus_epoch_shuffle``'s round-7
    rework, ``skew_resistant_rank``) — decompose the rank into a
    group×bucket prefix + a per-bucket window."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    s = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n"),
    )

    def k_of(num: int, den: int):
        return F.expr(f"({num} * (n - 1)) div {den}")

    def hit(num: int, den: int, offset: int):
        return F.max(F.when(F.col("rn") == k_of(num, den) + offset, F.col("v")))

    agg = s.groupBy("priority").agg(
        F.max("n").alias("n"),
        hit(1, 2, 1).alias("a50"),
        hit(1, 2, 2).alias("b50"),
        hit(9, 10, 1).alias("a90"),
        hit(9, 10, 2).alias("b90"),
    )

    def interp(a: str, b: str, num: int, den: int):
        frac = ((F.lit(num) * (F.col("n") - 1)) % den) / float(den)
        return (F.col(a) + (F.coalesce(F.col(b), F.col(a)) - F.col(a)) * frac) / 100.0

    return agg.select(
        "priority",
        "n",
        interp("a50", "b50", 1, 2).alias("p50"),
        interp("a90", "b90", 9, 10).alias("p90"),
    )


# ---------------------------------------------------------------------------
# Connected-component duplicate clusters (iterative; recursive-CTE oracle)
# ---------------------------------------------------------------------------
@register(
    "dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_lsh_jaccard_cte()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM j WHERE inter * 100 >= union_sz * 20
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, least(a, min(b)) AS component
FROM reach GROUP BY a
""",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup PAIRS: min-label propagation
    (operators/graph.py:connected_components) over the capped-LSH
    near-dup edge list (tier contract: composed pipelines never ride
    the exact quadratic arm — round-6 sf10 fuzz) — transitively closes A~B~C chains that pairwise dedup
    under-deletes. The oracle is a DuckDB recursive-CTE transitive
    closure; the Spark side is the iterative join+min loop that scales
    (closure is quadratic in component size, label propagation is
    linear per pass × diameter passes)."""
    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, threshold_pct=20).select("id_a", "id_b")
    cc = connected_components(edges, src="id_a", dst="id_b")
    return cc.select(F.col("node").alias("doc_id"), "component")


# ---------------------------------------------------------------------------
# Ranking-function kernel (rank / dense_rank / ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------
@register(
    "w_rank_kernel",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS prank,
       cume_dist() OVER w AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def w_rank_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SQL ranking-function family in one windowed pass:
    rank, dense_rank, ntile(4), percent_rank ((rank−1)/(n−1)) and
    cume_dist (peers≤/n) — all rational arithmetic on row positions,
    so both engines agree exactly. One window shuffle, deterministic
    total order (acctbal DESC, custkey).

    NOTE the partition key is low-cardinality (5 segments): this
    kernel covers the built-in ranking family's SEMANTICS on bounded
    groups; at 100 TB the scale path decomposes each function over
    value buckets (ties share a bucket, so rank/dense_rank/cume_dist
    all split into a bucket-prefix + a bounded within-bucket window —
    ``corpus_epoch_shuffle``'s round-7 rework is the worked example,
    ``skew_resistant_rank`` the general operator)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


# ---------------------------------------------------------------------------
# PIVOT — wide conditional aggregation
# ---------------------------------------------------------------------------
@register(
    "a_pivot_event_types",
    oracle="""
SELECT user_id,
       CAST(coalesce(sum(CASE WHEN event_type = 'click'
             THEN CAST(round("value" * 100) AS BIGINT) END), 0) AS BIGINT)
         / 100.0 AS click,
       CAST(coalesce(sum(CASE WHEN event_type = 'view'
             THEN CAST(round("value" * 100) AS BIGINT) END), 0) AS BIGINT)
         / 100.0 AS view,
       CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round("value" * 100) AS BIGINT) END), 0) AS BIGINT)
         / 100.0 AS purchase,
       CAST(coalesce(sum(CASE WHEN event_type = 'error'
             THEN CAST(round("value" * 100) AS BIGINT) END), 0) AS BIGINT)
         / 100.0 AS error
FROM events GROUP BY user_id
""",
)
def a_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long→wide per-type value sums with an EXPLICIT pivot
    value list — at scale the explicit list matters (implicit pivot
    runs a distinct scan first and caps at
    spark.sql.pivotMaxValues). Integer-cents sums, zero-filled like
    the reference's defaulted dict lookups (F9)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    )
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.coalesce(F.sum("v_c"), F.lit(0)))
    )
    return out.select(
        "user_id",
        *[(F.coalesce(F.col(t), F.lit(0)) / 100.0).alias(t)
          for t in ("click", "view", "purchase", "error")],
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt — wide→long
# ---------------------------------------------------------------------------
@register(
    "a_unpivot_metrics",
    oracle="""
SELECT o_orderkey, metric, val FROM (
  SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val FROM orders
  UNION ALL
  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
)
""",
)
def a_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide columns → (key, metric, value) long form —
    Spark's native unpivot generates the rows without a UNION of
    scans (one pass over the table; the oracle's UNION ALL is the
    semantic statement, not the plan)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# ---------------------------------------------------------------------------
# Array posexplode over the embeddings table
# ---------------------------------------------------------------------------
@register(
    "arr_posexplode_stats",
    oracle="""
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS val
  FROM embeddings
)
SELECT pos, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
         / 1000000.0 AS sum_val,
       min(val) AS min_val, max(val) AS max_val
FROM x GROUP BY pos
""",
)
def arr_posexplode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array flattening with ordinality: posexplode the embedding
    vectors and aggregate per dimension (the column-statistics pass a
    vector store runs for quantization/normalization). Sum goes
    through integer micro-units for exact parity; min/max are
    order-free."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    return x.groupBy(F.col("pos").cast("long").alias("pos")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("val").cast("double") * 1000000).cast("long"))
            / 1000000.0
        ).alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Statistical moments: variance / stddev / correlation, engine-exact
# ---------------------------------------------------------------------------
@register(
    "a_stats_kernel",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)
                  * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
                  * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)
                  * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       n,
       CAST(sx AS DOUBLE) / n AS mean_qty,
       (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         / (CAST(n AS DOUBLE) * (n - 1)) AS var_qty,
       sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         / (CAST(n AS DOUBLE) * (n - 1))) AS std_qty,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         AS corr_qty_price
FROM s
""",
)
def a_stats_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / Pearson correlation with EXACT cross-engine
    parity: built-in var_samp/corr merge partial (mean, M2) states in
    partition order, which drifts between engines — this kernel
    instead aggregates exact integer moments (Σx, Σx², Σxy on rounded
    units, all < 2⁵³) and evaluates the closed forms in one identical
    double expression tree (sqrt is IEEE correctly-rounded, so even
    stddev matches bit-for-bit). One partial+final aggregation, no
    window."""
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        x.alias("x"),
        y.alias("y"),
        (x * x).alias("xx"),
        (y * y).alias("yy"),
        (x * y).alias("xy"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("xx").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum("yy").alias("syy"),
        F.sum("xy").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    var_num = nd * F.col("sxx") - sxd * F.col("sx")
    vary_num = nd * F.col("syy") - syd * F.col("sy")
    var_qty = var_num / (nd * (F.col("n") - 1))
    return s.select(
        "l_returnflag",
        "n",
        (sxd / F.col("n")).alias("mean_qty"),
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("std_qty"),
        (
            (nd * F.col("sxy") - sxd * F.col("sy"))
            / (F.sqrt(var_num) * F.sqrt(vary_num))
        ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Mode (most frequent value) with deterministic tie-break
# ---------------------------------------------------------------------------
@register(
    "a_mode_kernel",
    oracle="""
WITH c AS (
  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY l_returnflag
            ORDER BY cnt DESC, q ASC) AS BIGINT) AS rn
  FROM c
)
SELECT l_returnflag, q AS mode_qty, cnt AS mode_count FROM r WHERE rn = 1
""",
)
def a_mode_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group with a DETERMINISTIC
    tie-break (count DESC, value ASC) — built-in ``mode()`` leaves
    ties engine/order-dependent, which can never hash-match; the
    count + row_number kernel always does. Two aggregations, the
    second over the tiny count table."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.round("l_quantity").cast("long").alias("q")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("q"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("q").alias("mode_qty"),
            F.col("cnt").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram (integer bucket math)
# ---------------------------------------------------------------------------
@register(
    "a_histogram_fixed_width",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v_c FROM orders
), bounds AS (
  SELECT min(v_c) AS lo, max(v_c) AS hi FROM v
)
SELECT CAST((v_c - lo) * 10 // (hi - lo + 1) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(v_c) AS BIGINT) / 100.0 AS bucket_min,
       CAST(max(v_c) AS BIGINT) / 100.0 AS bucket_max
FROM v, bounds
GROUP BY 1 ORDER BY 1
""",
)
def a_histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 10-bucket histogram of order value — the data-
    exploration primitive. Bucket assignment is pure integer math
    ((v−lo)·10 div (hi−lo+1): exact, no float boundary can disagree),
    with the global bounds as a 1-row broadcast. One pass + one tiny
    regroup; at 100 TB this is a scan plus a 10-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("v_c"))
    bounds = v.agg(F.min("v_c").alias("lo"), F.max("v_c").alias("hi"))
    return (
        v.crossJoin(F.broadcast(bounds))
        .select(
            F.expr("(v_c - lo) * 10 div (hi - lo + 1)").alias("bucket"), "v_c"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("v_c") / 100.0).alias("bucket_min"),
            (F.max("v_c") / 100.0).alias("bucket_max"),
        )
        .orderBy("bucket")
    )
