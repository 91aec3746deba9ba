"""Data-pipeline queries, wave 64: link prediction and probability
scoring.

- Adamic-Adar link-prediction scores over the co-purchase graph
  (per-neighbor 1/ln(deg) quantized to int64 BEFORE the per-pair sum)
- Brier score of a base-rate predictor on a held-out split
  (per-row squared error quantized, then exact integer mean)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------
@register(
    "graph_adamic_adar",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
wz AS (
  SELECT u, CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS w
  FROM deg WHERE d >= 2
),
cand AS (
  SELECT a.u AS x, b.u AS y, CAST(sum(wz.w) AS BIGINT) AS aa_micro,
         CAST(count(*) AS BIGINT) AS n_common
  FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
  JOIN wz ON wz.u = a.v
  WHERE NOT EXISTS (
    SELECT 1 FROM pr WHERE pr.u = a.u AND pr.v = b.u
  )
  GROUP BY a.u, b.u
)
SELECT x, y, n_common, aa_micro
FROM cand
ORDER BY aa_micro DESC, x, y
LIMIT 25
""",
)
def graph_adamic_adar_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR link prediction on the co-purchase graph: for
    part pairs NOT yet connected, score Σ_z 1/ln(deg(z)) over common
    neighbors z — rare shared neighbors are stronger evidence than
    hubs, which is what raw common-neighbor counts miss. Float
    discipline: each neighbor's 1/ln(deg) weight is quantized to an
    int64 MICRO value once (per node), so the per-pair sum — the
    aggregation whose order an engine chooses — is pure integer
    arithmetic. The NOT EXISTS anti-join restricts to genuinely new
    links; top-25 candidate edges, key-broken ties.

    Scale: common-neighbor enumeration is the wedge join bounded by
    Σ deg² on the support-pruned edge list; deg-1 neighbors
    contribute nothing and are pruned before the join (ln 1 = 0
    would divide by zero — excluded by the d ≥ 2 filter, which is
    also the right semantic: a leaf witnesses nothing)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a_ = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b_ = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pr = (
        a_.join(b_, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w0"))
        .filter(F.col("w0") >= 2)
        .select("u", "v")
    )
    e = pr.unionAll(pr.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    wz = (
        deg.filter(F.col("d") >= 2)
        .select(
            F.col("u").alias("z"),
            F.floor(F.lit(1000000.0) / F.log(F.col("d").cast("double")))
            .cast("long")
            .alias("w"),
        )
    )
    ea = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    eb = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = (
        ea.join(eb, "z")
        .filter(F.col("x") < F.col("y"))
        .join(wz, "z")
    )
    cand = (
        wedges.join(
            pr.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .groupBy("x", "y")
        .agg(
            F.sum("w").cast("long").alias("aa_micro"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    return cand.select("x", "y", "n_common", "aa_micro").orderBy(
        F.desc("aa_micro"), "x", "y"
    ).limit(25)


# ---------------------------------------------------------------------------
# Brier score on a held-out split
# ---------------------------------------------------------------------------
@register(
    "ml_brier_score",
    oracle="""
WITH v AS (
  SELECT o_orderkey, c_mktsegment AS seg,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         (o_orderkey % 2 = 1) AS is_train
  FROM orders JOIN customer ON o_custkey = c_custkey
),
rate AS (
  SELECT seg,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(count(*) AS BIGINT) AS n
  FROM v WHERE is_train GROUP BY seg
),
test AS (
  SELECT v.y,
         CAST(rate.pos AS DOUBLE) / CAST(rate.n AS DOUBLE) AS p
  FROM v JOIN rate ON v.seg = rate.seg
  WHERE NOT v.is_train
),
q AS (
  SELECT CAST(floor((p - CAST(y AS DOUBLE))
              * (p - CAST(y AS DOUBLE)) * 1000000000) AS BIGINT) AS se_nano
  FROM test
)
SELECT CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(se_nano) AS BIGINT) AS sum_se_nano,
       CAST(sum(se_nano) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS brier
FROM q
""",
)
def ml_brier_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE of a base-rate probability predictor on a held-out
    split: train on odd order keys (per-segment urgency rate as the
    predicted probability), score on even keys with mean squared
    error — the PROPER scoring rule that the calibration-bin table
    (``ml_calibration_bins``) diagnoses and this number summarizes.
    The per-row squared error is quantized to int64 NANO units before
    the cross-row sum (the engine-ordered aggregation stays integer),
    and the probabilities themselves are single divisions of train
    counts — identical doubles per row on both engines.

    Scale: one train-side 5-group rate table broadcast onto the test
    scan; the deterministic key-parity split costs nothing and is
    reproducible anywhere (same discipline as ``split_train_holdout``,
    simplified to parity for a two-way split)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("long")
            .alias("y"),
            (F.col("o_orderkey") % 2 == 1).alias("is_train"),
        )
    )
    rate = (
        v.filter("is_train")
        .groupBy("seg")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    test = (
        v.filter(~F.col("is_train"))
        .join(F.broadcast(rate), "seg")
        .select(
            "y",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias("p"),
        )
    )
    q = test.select(
        F.floor(
            (F.col("p") - F.col("y").cast("double"))
            * (F.col("p") - F.col("y").cast("double"))
            * 1000000000
        )
        .cast("long")
        .alias("se_nano")
    )
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("se_nano").cast("long").alias("sum_se_nano"),
        (
            F.sum("se_nano").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1000000000.0))
        ).alias("brier"),
    )
