"""Data-pipeline queries, wave 36: rank correlation, semi-structured
VARIANT, label propagation, forecast-error evaluation, key discovery.

- Spearman rank correlation with tie-corrected average ranks
- Spark-4 VARIANT extraction (binary semi-structured path)
- two synchronized label-propagation rounds on the co-purchase graph
- seasonal-naive forecast evaluation (MASE) on the gap-free spine
- candidate-key uniqueness profile

Float rules: rank/count moments stay int64; final Pearson-of-ranks
combines the int64 sums in double with FIXED parenthesization (cast →
multiply → subtract → sqrt → divide is the identical IEEE sequence on
both engines); every ratio is one division at the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import global_prefix_sum
from stakehouse_etl_spark.queries.registry import register


def _avg_rank2(df: DataFrame, value: str, out: str) -> DataFrame:
    """Attach doubled tie-corrected average ranks for ``value``:
    2·avg_rank = 2·(#strictly smaller) + tie_count + 1, an exact
    int64. Built from the per-distinct-value collapse plus the
    two-phase exclusive prefix sum — no single-partition window over
    row-scale data (the distinct-value table is the only globally
    ordered structure)."""
    g = df.groupBy(value).agg(F.count(F.lit(1)).alias("__t"))
    g = global_prefix_sum(g, value, "__t", out="__cb", inclusive=False)
    r = g.select(
        value,
        (2 * F.col("__cb") + F.col("__t") + 1).cast("long").alias(out),
    )
    return df.join(r, value)


# ---------------------------------------------------------------------------
# Spearman rank correlation
# ---------------------------------------------------------------------------
@register(
    "ml_spearman_rho",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS s_cents
  FROM orders GROUP BY o_custkey
),
t AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS a_cents, s_cents
  FROM customer JOIN spend ON c_custkey = o_custkey
),
rk AS (
  SELECT CAST(2 * rank() OVER (ORDER BY a_cents)
              + count(*) OVER (PARTITION BY a_cents) - 1 AS BIGINT) AS rx,
         CAST(2 * rank() OVER (ORDER BY s_cents)
              + count(*) OVER (PARTITION BY s_cents) - 1 AS BIGINT) AS ry
  FROM t
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy
  FROM rk
)
SELECT n, sx, sy, sxy, sxx, syy,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
FROM m
""",
)
def ml_spearman_rho_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their lifetime order spend — the monotone-association screen
    that is robust to the heavy-tailed money distributions Pearson
    chokes on. Tie handling is EXACT: doubled average ranks
    (2·avg_rank = 2·below + ties + 1) stay int64, the ×2 cancels in
    the correlation; the five rank moments are exact int64 sums and
    only the final Pearson combination runs in double (fixed cast →
    mul → sub → sqrt → div sequence, bit-identical on both engines;
    IEEE sqrt is correctly rounded, so it is as deterministic as +).

    Scale: average ranks come from the per-distinct-value collapse +
    two-phase exclusive prefix (``global_prefix_sum``), re-joined on
    the value key — no global row-scale sort; the moment aggregate is
    one map-side-combinable pass."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s_cents")
        )
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("a_cents")
    )
    t = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        "a_cents", "s_cents"
    )
    t = _avg_rank2(t, "a_cents", "rx")
    t = _avg_rank2(t, "s_cents", "ry")
    m = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d, syy_d = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        (
            (n_d * sxy_d - sx_d * sy_d)
            / (
                F.sqrt(n_d * sxx_d - sx_d * sx_d)
                * F.sqrt(n_d * syy_d - sy_d * sy_d)
            )
        ).alias("rho"),
    )


# ---------------------------------------------------------------------------
# Spark-4 VARIANT semi-structured extraction
# ---------------------------------------------------------------------------
@register(
    "f14_variant_extract",
    oracle="""
WITH v AS (
  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
),
b AS (
  SELECT k // 10 AS band,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS sum_k,
         CAST(min(k) AS BIGINT) AS min_k,
         CAST(max(k) AS BIGINT) AS max_k
  FROM v WHERE k IS NOT NULL GROUP BY 1
)
SELECT * FROM b ORDER BY band
""",
)
def f14_variant_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction through Spark 4's VARIANT: ``parse_json``
    once into the binary VARIANT encoding, then ``variant_get`` with
    a target type — the modern replacement for re-parsing JSON text
    per expression (``f10_json_extract`` is the classic path; this is
    the one you want at 100 TB, where VARIANT's shredded binary form
    is decoded field-wise without string re-tokenization, and a
    VARIANT column persisted to parquet shreds into typed subcolumns
    that support pushdown). Banded aggregate over the extracted long
    — integer floor-div in both dialects (`div` / `//`)."""
    v = load_table(spark, sf_dir, "events").select(
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k")
    )
    return (
        v.filter(F.col("k").isNotNull())
        .groupBy(F.expr("k div 10").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Two synchronized label-propagation rounds
# ---------------------------------------------------------------------------
_LPA_EDGES = """
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         CAST(count(*) AS BIGINT) AS w
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS (
  SELECT u, v, w FROM pr UNION ALL SELECT v AS u, u AS v, w FROM pr
)
"""


@register(
    "graph_lpa_round",
    oracle=f"""
WITH {_LPA_EDGES},
s1 AS (
  SELECT e.u, e.v AS lbl, CAST(sum(e.w) AS BIGINT) AS wsum
  FROM e GROUP BY e.u, e.v
),
l1 AS (
  SELECT u AS node, lbl AS label1 FROM (
    SELECT u, lbl,
           row_number() OVER (
             PARTITION BY u ORDER BY wsum DESC, lbl
           ) AS rn
    FROM s1
  ) WHERE rn = 1
),
s2 AS (
  SELECT e.u, l1.label1 AS lbl, CAST(sum(e.w) AS BIGINT) AS wsum
  FROM e JOIN l1 ON e.v = l1.node
  GROUP BY e.u, l1.label1
),
l2 AS (
  SELECT u AS node, lbl AS label2 FROM (
    SELECT u, lbl,
           row_number() OVER (
             PARTITION BY u ORDER BY wsum DESC, lbl
           ) AS rn
    FROM s2
  ) WHERE rn = 1
)
SELECT l1.node, l1.label1, l2.label2
FROM l1 JOIN l2 ON l1.node = l2.node
ORDER BY l1.node
""",
)
def graph_lpa_round_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two SYNCHRONIZED label-propagation rounds on the weighted
    co-purchase graph — the community-detection primitive (labels
    init to node ids; each round every node adopts the label with the
    max incident edge weight, ties to the smallest label). Round 1
    degenerates to "strongest neighbor"; round 2 aggregates weight BY
    PROPAGATED LABEL, which is where communities actually form.
    Deterministic by construction (total order on (weight DESC,
    label)), unlike async LPA.

    Scale: each round is groupBy(node, label) + per-node argmax
    (row_number over the grouped table, partition size = #distinct
    incident labels, never raw degree) + one equi-join of the edge
    list against the label table on the endpoint key — the same
    shuffle key every round, so the exchange is reusable; support
    floor ≥ 2 prunes the pair tail first."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pr = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .filter(F.col("w") >= 2)
    )
    e = pr.select("u", "v", "w").unionAll(
        pr.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )

    def one_round(edges: DataFrame, labels: DataFrame | None) -> DataFrame:
        if labels is None:
            scored = edges.select("u", F.col("v").alias("lbl"), "w")
        else:
            scored = edges.join(
                labels.withColumnRenamed("node", "v"), "v"
            ).select("u", F.col("label").alias("lbl"), "w")
        s = scored.groupBy("u", "lbl").agg(F.sum("w").cast("long").alias("wsum"))
        win = Window.partitionBy("u").orderBy(F.desc("wsum"), F.asc("lbl"))
        return (
            s.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), F.col("lbl").alias("label"))
        )

    l1 = one_round(e, None)
    l2 = one_round(e, l1)
    return (
        l1.withColumnRenamed("label", "label1")
        .join(l2.withColumnRenamed("label", "label2"), "node")
        .select("node", "label1", "label2")
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (MASE)
# ---------------------------------------------------------------------------
@register(
    "ts_mase_seasonal_naive",
    oracle="""
WITH span AS (
  SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1 FROM orders
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
daily AS (
  SELECT o_orderdate::DATE AS day, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
seq AS (
  SELECT spine.day, coalesce(daily.c, 0) AS c,
         lag(coalesce(daily.c, 0), 7) OVER (ORDER BY spine.day) AS c7,
         lag(coalesce(daily.c, 0), 1) OVER (ORDER BY spine.day) AS c1
  FROM spine LEFT JOIN daily ON spine.day = daily.day
),
m AS (
  SELECT CAST(sum(CASE WHEN c7 IS NOT NULL THEN abs(c - c7) END) AS BIGINT)
           AS mae7_num,
         CAST(sum(CASE WHEN c7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n7,
         CAST(sum(CASE WHEN c1 IS NOT NULL THEN abs(c - c1) END) AS BIGINT)
           AS mae1_num,
         CAST(sum(CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n1
  FROM seq
)
SELECT mae7_num, n7, mae1_num, n1,
       CAST(mae7_num * n1 AS DOUBLE) / CAST(mae1_num * n7 AS DOUBLE) AS mase
FROM m
""",
)
def ts_mase_seasonal_naive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the SEASONAL-NAIVE forecast (predict today = same
    weekday last week) of daily order volume against the 1-step naive
    baseline: MASE = MAE₇ / MAE₁ — the scale-free forecast metric
    that needs no model library, computed EXACTLY as a ratio of
    integer absolute-error sums (cross-multiplied into one division).
    MASE < 1 ⇒ weekly seasonality carries real signal. Daily counts
    ride the GAP-FREE calendar spine (``ts_calendar_dim_build``) so
    quiet days count as 0 instead of silently shortening the lag —
    the classic forecast-eval bug.

    Scale: the fact table collapses to one row per day first; the lag
    windows run over the metadata-sized spine (|days| rows), never
    the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    seq = (
        spine.join(daily, "day", "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    w = Window.orderBy("day")
    seq = seq.select(
        "c",
        F.lag("c", 7).over(w).alias("c7"),
        F.lag("c", 1).over(w).alias("c1"),
    )
    m = seq.agg(
        F.sum(F.when(F.col("c7").isNotNull(), F.abs(F.col("c") - F.col("c7"))))
        .cast("long")
        .alias("mae7_num"),
        F.sum(F.col("c7").isNotNull().cast("long")).cast("long").alias("n7"),
        F.sum(F.when(F.col("c1").isNotNull(), F.abs(F.col("c") - F.col("c1"))))
        .cast("long")
        .alias("mae1_num"),
        F.sum(F.col("c1").isNotNull().cast("long")).cast("long").alias("n1"),
    )
    return m.select(
        "mae7_num",
        "n7",
        "mae1_num",
        "n1",
        (
            (F.col("mae7_num") * F.col("n1")).cast("double")
            / (F.col("mae1_num") * F.col("n7")).cast("double")
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Candidate-key uniqueness profile
# ---------------------------------------------------------------------------
@register(
    "dq_uniqueness_profile",
    oracle="""
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
u AS (
  SELECT 'o_orderkey' AS combo,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
  UNION ALL
  SELECT 'o_custkey',
         CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'o_custkey+o_orderdate',
         CAST(count(*) AS BIGINT) FROM (
           SELECT DISTINCT o_custkey, o_orderdate FROM orders
         )
  UNION ALL
  SELECT 'o_orderstatus+o_orderpriority',
         CAST(count(*) AS BIGINT) FROM (
           SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         )
)
SELECT combo, n_distinct, n_rows,
       (n_distinct = n_rows) AS is_key,
       CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE) AS uniqueness
FROM u, t
ORDER BY combo
""",
)
def dq_uniqueness_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: distinct-count vs row-count for a
    lattice of column combos — the profiling step that validates (or
    refutes) assumed primary keys before a MERGE/upsert keys on them
    (``k1_upsert_sink`` depends on o_orderkey actually being unique;
    this query is the check). Uniqueness ratio is one int64 division.

    Scale: each combo is a partial-aggregated distinct count — for
    approximate profiling at 100 TB swap in HLL
    (``a_approx_distinct_bounded``); this exact variant IS the gate
    you run once before trusting a key. The four distincts share one
    scan via the unioned plan."""
    orders = load_table(spark, sf_dir, "orders")
    n_rows = orders.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    combos = [
        ("o_orderkey", ["o_orderkey"]),
        ("o_custkey", ["o_custkey"]),
        ("o_custkey+o_orderdate", ["o_custkey", "o_orderdate"]),
        ("o_orderstatus+o_orderpriority", ["o_orderstatus", "o_orderpriority"]),
    ]
    parts = [
        orders.select(*cols)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
        .select(F.lit(name).alias("combo"), "n_distinct")
        for name, cols in combos
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return (
        u.join(F.broadcast(n_rows))
        .select(
            "combo",
            "n_distinct",
            "n_rows",
            (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
            (
                F.col("n_distinct").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("uniqueness"),
        )
        .orderBy("combo")
    )
