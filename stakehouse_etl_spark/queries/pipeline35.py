"""Data-pipeline queries, wave 35: nonparametric statistics + DQ audits.

- Kolmogorov-Smirnov two-sample test (exact integer ECDF numerators)
- Mann-Whitney U / rank-sum with tie-corrected average ranks (the
  exact-AUC dual)
- per-region Gini coefficient (inequality audit over balances)
- decision stump: exact best Gini-impurity split threshold
- Benford leading-digit audit (fraud/DQ screen)
- Observation-API piggybacked DQ counters (zero extra scan)
- neighborhood Jaccard similarity over the co-purchase graph

Float rules: every statistic is an integer numerator/denominator pair
computed in int64 (cents, counts, rank sums), with ONE IEEE-754
division at the output edge — identical bits on Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import global_prefix_sum
from stakehouse_etl_spark.queries.registry import register

_SEG_A = "BUILDING"
_SEG_B = "MACHINERY"


def _seg_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals (integer cents) labelled by customer segment, for
    the two-sample tests: one broadcastable dim join, no shuffle of
    the fact side beyond the aggregate that follows."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(_SEG_A, _SEG_B))
        .select("c_custkey", "c_mktsegment")
    )
    return orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("c_mktsegment") == _SEG_A).cast("long").alias("is_a"),
    )


_SEG_CTE = f"""
cv AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN c_mktsegment = '{_SEG_A}' THEN 1 ELSE 0 END AS is_a
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{_SEG_A}', '{_SEG_B}')
),
g AS (
  SELECT cents,
         CAST(sum(is_a) AS BIGINT) AS a_cnt,
         CAST(sum(1 - is_a) AS BIGINT) AS b_cnt
  FROM cv GROUP BY cents
)
"""


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample statistic
# ---------------------------------------------------------------------------
@register(
    "ml_ks_two_sample",
    oracle=f"""
WITH {_SEG_CTE},
c AS (
  SELECT CAST(sum(a_cnt) OVER (ORDER BY cents) AS BIGINT) AS ca,
         CAST(sum(b_cnt) OVER (ORDER BY cents) AS BIGINT) AS cb
  FROM g
),
t AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM g
)
SELECT n_a, n_b,
       CAST(max(abs(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
       CAST(max(abs(ca * n_b - cb * n_a)) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS ks_stat
FROM c, t
GROUP BY n_a, n_b
""",
)
def ml_ks_two_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D comparing the order-value
    distributions of two customer segments — the nonparametric drift
    test that needs no binning choice (unlike the chi² drift screen,
    ``ml_chi2_drift``). D = max |F_a − F_b| over the merged support;
    kept EXACT by cross-multiplying the ECDF numerators: D·n_a·n_b =
    max |ca·n_b − cb·n_a| over int64 cumulative counts, one division
    at the edge.

    Scale: the fact scan collapses to one row per distinct cents
    value FIRST (groupBy partial-agg), then the cumulative counts run
    through the two-phase parallel-prefix (``global_prefix_sum`` —
    within-chunk window + broadcast chunk offsets), so there is NO
    single-partition global window even when the distinct-value table
    has millions of rows at 100 TB."""
    g = (
        _seg_cents(spark, sf_dir)
        .groupBy("cents")
        .agg(
            F.sum("is_a").alias("a_cnt"),
            F.sum(F.lit(1) - F.col("is_a")).alias("b_cnt"),
        )
    )
    c = global_prefix_sum(g, "cents", "a_cnt", out="ca")
    c = global_prefix_sum(c, "cents", "b_cnt", out="cb")
    tot = g.agg(
        F.sum("a_cnt").cast("long").alias("n_a"),
        F.sum("b_cnt").cast("long").alias("n_b"),
    )
    merged = c.join(F.broadcast(tot))
    return merged.groupBy("n_a", "n_b").agg(
        F.max(
            F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
        )
        .cast("long")
        .alias("d_num"),
        (
            F.max(
                F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
            ).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum, tie-corrected) — exact AUC dual
# ---------------------------------------------------------------------------
@register(
    "ml_mannwhitney_u",
    oracle=f"""
WITH {_SEG_CTE},
r AS (
  SELECT a_cnt, b_cnt, a_cnt + b_cnt AS t,
         CAST(coalesce(
           sum(a_cnt + b_cnt) OVER (
             ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cum_before
  FROM g
),
s AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b,
         CAST(sum(a_cnt * (2 * cum_before + t + 1)) AS BIGINT) AS r2_a
  FROM r
)
SELECT n_a, n_b, r2_a,
       r2_a - n_a * (n_a + 1) AS u2_a,
       CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
         / CAST(2 * n_a * n_b AS DOUBLE) AS auc
FROM s
""",
)
def ml_mannwhitney_u_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U via rank sums with AVERAGE-RANK tie handling,
    doubled to stay integer: for a tie group of size t starting after
    cum_before rows, 2·avg_rank = 2·cum_before + t + 1 — so the
    doubled rank-sum R2_a = Σ a_cnt·(2·cum_before + t + 1) and
    2·U_a = R2_a − n_a(n_a+1) are exact int64. The normalized output
    U_a/(n_a·n_b) is EXACTLY the ROC-AUC of "segment A has higher
    order values" (the ml_auc_exact dual, derived here from ranks
    instead of pair counts); one division at the edge.

    Same scale shape as the KS test: per-distinct-value collapse,
    then the exclusive two-phase prefix sum, then a plain agg."""
    g = (
        _seg_cents(spark, sf_dir)
        .groupBy("cents")
        .agg(
            F.sum("is_a").alias("a_cnt"),
            F.sum(F.lit(1) - F.col("is_a")).alias("b_cnt"),
        )
        .withColumn("t", F.col("a_cnt") + F.col("b_cnt"))
    )
    r = global_prefix_sum(g, "cents", "t", out="cum_before", inclusive=False)
    s = r.agg(
        F.sum("a_cnt").cast("long").alias("n_a"),
        F.sum("b_cnt").cast("long").alias("n_b"),
        F.sum(
            F.col("a_cnt") * (2 * F.col("cum_before") + F.col("t") + 1)
        )
        .cast("long")
        .alias("r2_a"),
    )
    return s.select(
        "n_a",
        "n_b",
        "r2_a",
        (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)).alias("u2_a"),
        (
            (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)).cast("double")
            / (2 * F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Per-region Gini coefficient
# ---------------------------------------------------------------------------
@register(
    "a_gini_region",
    oracle="""
WITH c AS (
  SELECT r_name,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         c_custkey
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE c_acctbal > 0
),
rk AS (
  SELECT r_name, cents,
         CAST(row_number() OVER (
           PARTITION BY r_name ORDER BY cents, c_custkey
         ) AS BIGINT) AS i
  FROM c
),
s AS (
  SELECT r_name,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(sum(i * cents) AS BIGINT) AS weighted
  FROM rk GROUP BY r_name
)
SELECT r_name, n, sum_cents,
       2 * weighted - (n + 1) * sum_cents AS gini_num,
       CAST(2 * weighted - (n + 1) * sum_cents AS DOUBLE)
         / CAST(n * sum_cents AS DOUBLE) AS gini
FROM s
""",
)
def a_gini_region_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of positive account balances per region — the
    inequality/concentration audit (same math as "what share of
    revenue comes from the top decile"). Uses the sorted-rank
    identity G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with int64 cents and
    ranks, one division at the edge; ties are rank-broken by custkey,
    which G is invariant to (equal x contribute the same regardless
    of order).

    The rank window partitions on region (5 groups): bounded here,
    and G is tie-order invariant, so at 100 TB the same statistic
    decomposes by value-groups exactly like ``skew_resistant_rank``
    (A/B/C chunk decomposition of Σ i·x_i); documented ceiling, not a
    silent one."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    c = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "r_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
            "c_custkey",
        )
    )
    w = Window.partitionBy("r_name").orderBy("cents", "c_custkey")
    rk = c.withColumn("i", F.row_number().over(w).cast("long"))
    s = rk.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("weighted"),
    )
    return s.select(
        "r_name",
        "n",
        "sum_cents",
        (2 * F.col("weighted") - (F.col("n") + 1) * F.col("sum_cents")).alias(
            "gini_num"
        ),
        (
            (2 * F.col("weighted") - (F.col("n") + 1) * F.col("sum_cents")).cast(
                "double"
            )
            / (F.col("n") * F.col("sum_cents")).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Decision stump: exact best Gini split
# ---------------------------------------------------------------------------
@register(
    "ml_decision_stump",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders
),
g AS (
  SELECT cents,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(pos) AS BIGINT) AS p
  FROM v GROUP BY cents
),
c AS (
  SELECT cents,
         CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS n_l,
         CAST(sum(p) OVER (ORDER BY cents) AS BIGINT) AS pos_l
  FROM g
),
t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS pos
  FROM g
),
sc AS (
  SELECT cents AS threshold_cents, n_l, n - n_l AS n_r,
         pos_l, pos - pos_l AS pos_r,
         (n_l * n_l
            - (pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l))) * (n - n_l)
         + ((n - n_l) * (n - n_l)
            - ((pos - pos_l) * (pos - pos_l)
               + ((n - n_l) - (pos - pos_l)) * ((n - n_l) - (pos - pos_l))))
           * n_l AS gini_num,
         n_l * (n - n_l) * n AS gini_den
  FROM c, t
  WHERE n_l > 0 AND n - n_l > 0
)
SELECT threshold_cents, n_l, n_r, pos_l, pos_r, gini_num,
       CAST(gini_num AS DOUBLE) / CAST(gini_den AS DOUBLE) AS gini
FROM sc
ORDER BY CAST(gini_num AS DOUBLE) / CAST(gini_den AS DOUBLE), threshold_cents
LIMIT 1
""",
)
def ml_decision_stump_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best decision-stump split: the threshold on order value
    that minimizes Gini impurity for predicting urgent/high priority.
    Weighted impurity is kept RATIONAL — num = (n_l²−S_l)·n_r +
    (n_r²−S_r)·n_l, den = n_l·n_r·n with S = Σ class-count² — so
    candidate scores are exact int64 pairs and the single num/den
    division produces bit-identical doubles on both engines (argmin
    ties broken by threshold). This is one boosting-iteration
    worth of tree induction as a pure aggregate, no ML library.

    Scale: candidate thresholds = distinct values (collapsed first),
    cumulative class counts via one ordered prefix over that
    metadata-sized table, TakeOrderedAndProject for the argmin. The
    fact table is scanned once."""
    v = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long").alias("pos"),
    )
    g = v.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("p")
    )
    c = global_prefix_sum(g, "cents", "cnt", out="n_l")
    c = global_prefix_sum(c, "cents", "p", out="pos_l")
    t = g.agg(
        F.sum("cnt").cast("long").alias("n"), F.sum("p").cast("long").alias("pos")
    )
    m = c.join(F.broadcast(t))
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    n_r = F.col("n") - n_l
    pos_r = F.col("pos") - pos_l
    neg_l = n_l - pos_l
    neg_r = n_r - pos_r
    s_l = pos_l * pos_l + neg_l * neg_l
    s_r = pos_r * pos_r + neg_r * neg_r
    sc = (
        m.filter((n_l > 0) & (n_r > 0))
        .select(
            F.col("cents").alias("threshold_cents"),
            n_l.alias("n_l"),
            n_r.alias("n_r"),
            pos_l.alias("pos_l"),
            pos_r.alias("pos_r"),
            ((n_l * n_l - s_l) * n_r + (n_r * n_r - s_r) * n_l).alias("gini_num"),
            (n_l * n_r * F.col("n")).alias("gini_den"),
        )
        .withColumn(
            "gini", F.col("gini_num").cast("double") / F.col("gini_den").cast("double")
        )
    )
    return (
        sc.orderBy("gini", "threshold_cents")
        .limit(1)
        .select("threshold_cents", "n_l", "n_r", "pos_l", "pos_r", "gini_num", "gini")
    )


# ---------------------------------------------------------------------------
# Benford leading-digit audit
# ---------------------------------------------------------------------------
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {lit}" for d, lit in _BENFORD.items()
) + " END"


@register(
    "dq_benford_digits",
    oracle=f"""
WITH v AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY digit),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM g)
SELECT digit, cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST({_BENFORD_CASE} AS DOUBLE) AS expected_share,
       abs(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
           - CAST({_BENFORD_CASE} AS DOUBLE)) AS abs_dev
FROM g, t
ORDER BY digit
""",
)
def dq_benford_digits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit over order totals — the
    classic fabricated-data / unit-mixing screen (synthetic uniform
    prices will FAIL it; that deviation is itself the signal the audit
    reports). The expected shares log10(1+1/d) are inlined as the
    same 17-significant-digit literals in both dialects, so no
    transcendental function runs at query time; observed share is one
    int64/int64 division. Leading digit of integer cents = leading
    significant digit of the price (×100 shifts, never reshapes).

    Scale: a 9-group partial aggregate — map-side combine collapses
    everything before the shuffle; the 1-row total broadcasts."""
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    g = v.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    t = g.agg(F.sum("cnt").cast("long").alias("total"))
    expected = F.expr(_BENFORD_CASE).cast("double")
    return (
        g.join(F.broadcast(t))
        .select(
            "digit",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
            expected.alias("expected_share"),
            F.abs(
                F.col("cnt").cast("double") / F.col("total").cast("double")
                - expected
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Observation-API piggybacked DQ counters
# ---------------------------------------------------------------------------
@register(
    "dq_observe_metrics",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(min(epoch_us(l_shipdate)) AS BIGINT) AS min_ship_us,
       CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us,
       CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted
FROM lineitem WHERE l_quantity < 10
""",
)
def dq_observe_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ counters collected with ``DataFrame.observe`` — Spark's
    accumulator-backed metric channel that PIGGYBACKS on the job's
    own pass instead of re-scanning: row count, exact cents volume,
    shipdate span, discounted-row count, all gathered while the
    (here: noop) write runs. This is how a production pipeline emits
    row-level audit counters for free; at 100 TB a second
    audit-aggregate scan is exactly the cost this avoids. The
    observed map is a handful of scalars — driver-side by design
    (same contract as Spark's own StreamingQueryProgress metrics).
    """
    from pyspark.sql import Observation

    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 10)
        .select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.unix_micros(F.col("l_shipdate")).alias("ship_us"),
            (F.col("l_discount") > 0.05).cast("long").alias("disc"),
        )
    )
    obs = Observation("dq")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("ship_us").cast("long").alias("min_ship_us"),
        F.max("ship_us").cast("long").alias("max_ship_us"),
        F.sum("disc").cast("long").alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    row = [
        (
            m["n_rows"],
            m["sum_cents"],
            m["min_ship_us"],
            m["max_ship_us"],
            m["n_discounted"],
        )
    ]
    return spark.createDataFrame(
        row,
        "n_rows long, sum_cents long, min_ship_us long, max_ship_us long, "
        "n_discounted long",
    )


# ---------------------------------------------------------------------------
# Neighborhood Jaccard similarity on the co-purchase graph
# ---------------------------------------------------------------------------
@register(
    "graph_jaccard_similarity",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS d
  FROM li GROUP BY l_partkey
),
pr AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS common
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT part_a, part_b, common,
       da.d AS deg_a, db.d AS deg_b,
       CAST(common AS DOUBLE)
         / CAST(da.d + db.d - common AS DOUBLE) AS jaccard
FROM pr
JOIN deg da ON pr.part_a = da.l_partkey
JOIN deg db ON pr.part_b = db.l_partkey
ORDER BY CAST(common AS DOUBLE)
           / CAST(da.d + db.d - common AS DOUBLE) DESC,
         part_a, part_b
LIMIT 20
""",
)
def graph_jaccard_similarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by NEIGHBORHOOD Jaccard |N(a)∩N(b)| /
    |N(a)∪N(b)| on the part–order bipartite graph — co-purchase
    counts (``graph_copurchase_pairs``) normalized by degree, so
    ubiquitous parts stop dominating. Intersections come from the
    within-basket self-join (output bounded by Σ basket², never
    |parts|²); degrees are a groupBy re-joined on the pair ends; the
    support floor (common ≥ 2) prunes the pair tail before the degree
    joins. Jaccard = common/(deg_a+deg_b−common) is one int64
    division — bit-identical ordering on both engines, ties broken by
    the pair key."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pr = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= 2)
    )
    da = deg.select(F.col("l_partkey").alias("part_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("l_partkey").alias("part_b"), F.col("d").alias("deg_b"))
    j = (
        pr.join(da, "part_a")
        .join(db, "part_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast("double"),
        )
    )
    return j.select(
        "part_a", "part_b", "common", "deg_a", "deg_b", "jaccard"
    ).orderBy(F.desc("jaccard"), "part_a", "part_b").limit(20)
