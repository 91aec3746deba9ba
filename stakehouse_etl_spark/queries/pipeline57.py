"""Data-pipeline queries, wave 57: k-sample nonparametric testing.

- Kruskal-Wallis H across all five customer segments — the k-sample
  generalization of the Mann-Whitney test (wave 35), with exact
  tie correction from integer tie counts
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import global_prefix_sum
from stakehouse_etl_spark.queries.registry import register

_SEGS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _terms_sql() -> str:
    # Σ_g R2_g²/n_g with the five per-segment terms added in a PINNED
    # left-to-right order (R2 are the DOUBLED tie-averaged rank sums;
    # squaring happens in double — R2² exceeds int64).
    terms = [
        f"(CAST(r2_{s} AS DOUBLE) * CAST(r2_{s} AS DOUBLE)"
        f" / CAST(n_{s} AS DOUBLE))"
        for s in _SEGS
    ]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


@register(
    "ml_kruskal_wallis",
    oracle=f"""
WITH cv AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT cents,
         {", ".join(
             f"CAST(sum(CASE WHEN seg = '{s}' THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS c_{s}" for s in _SEGS
         )},
         CAST(count(*) AS BIGINT) AS t
  FROM cv GROUP BY cents
),
r AS (
  SELECT *, CAST(coalesce(sum(t) OVER (
           ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cb
  FROM g
),
m AS (
  SELECT CAST(sum(t) AS BIGINT) AS n,
         {", ".join(
             f"CAST(sum(c_{s}) AS BIGINT) AS n_{s}, "
             f"CAST(sum(c_{s} * (2 * cb + t + 1)) AS BIGINT) AS r2_{s}"
             for s in _SEGS
         )},
         CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
  FROM r
)
SELECT n, {", ".join(f"n_{s}" for s in _SEGS)}, tie_sum,
       CAST(floor((
         3.0 * ({_terms_sql()})
           / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
         - 3.0 * CAST(n + 1 AS DOUBLE)
       ) / (1.0 - CAST(tie_sum AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE)))
       * 1000000) AS BIGINT) AS h_corrected_micro
FROM m
""",
)
def ml_kruskal_wallis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H across all five market segments' order
    values — the k-sample nonparametric ANOVA that generalizes the
    two-sample Mann-Whitney (``ml_mannwhitney_u``), with the exact
    tie correction 1 − Σ(t³−t)/(N³−N) from integer tie counts.
    Doubled tie-averaged rank sums R2_g stay int64 (the ×2 cancels
    in H: Σ(R2/2)²/n = ¼ΣR2²/n, and 12/4 = the 3 in the formula);
    squares move to double with the five per-segment terms added in
    a PINNED order, and H emits on the micro grid (same armor as
    the entropy/keyness kernels).

    Scale: distinct-value collapse + the two-phase exclusive prefix
    — identical shape to the KS/MWU kernels, now with a 5-way
    conditional pivot."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cv = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    g = cv.groupBy("cents").agg(
        *[
            F.sum((F.col("seg") == s).cast("long")).cast("long").alias(f"c_{s}")
            for s in _SEGS
        ],
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    r = global_prefix_sum(g, "cents", "t", out="cb", inclusive=False)
    rank2 = 2 * F.col("cb") + F.col("t") + 1
    aggs = [F.sum("t").cast("long").alias("n")]
    for s in _SEGS:
        aggs.append(F.sum(f"c_{s}").cast("long").alias(f"n_{s}"))
        aggs.append(
            F.sum(F.col(f"c_{s}") * rank2).cast("long").alias(f"r2_{s}")
        )
    aggs.append(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_sum")
    )
    m = r.agg(*aggs)
    n_d = F.col("n").cast("double")
    h = (
        F.lit(3.0) * F.expr(_terms_sql()) / (n_d * (F.col("n") + 1).cast("double"))
        - F.lit(3.0) * (F.col("n") + 1).cast("double")
    )
    corr = F.lit(1.0) - F.col("tie_sum").cast("double") / (
        n_d * n_d * n_d - n_d
    )
    return m.select(
        "n",
        *[f"n_{s}" for s in _SEGS],
        "tie_sum",
        F.floor(h / corr * 1000000).cast("long").alias("h_corrected_micro"),
    )
