"""Data-pipeline queries, wave 56: information-theoretic dependence.

- mutual-information cell decomposition for segment × region (the
  information-theoretic twin of the chi² independence test, emitted
  per cell on the nano grid so no float ever sums across cells)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


@register(
    "ml_mutual_info_cells",
    oracle="""
WITH base AS (
  SELECT c_mktsegment AS seg, r_name AS reg
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
cell AS (SELECT seg, reg, CAST(count(*) AS BIGINT) AS nij
         FROM base GROUP BY seg, reg),
mseg AS (SELECT seg, CAST(count(*) AS BIGINT) AS ni FROM base GROUP BY seg),
mreg AS (SELECT reg, CAST(count(*) AS BIGINT) AS nj FROM base GROUP BY reg)
SELECT cell.seg, cell.reg, nij, ni, nj,
       CAST(floor(
         (CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
         * ln(CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)
              / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
         * 1000000000) AS BIGINT) AS mi_contrib_nano
FROM cell
JOIN mseg ON cell.seg = mseg.seg
JOIN mreg ON cell.reg = mreg.reg
CROSS JOIN n_t
ORDER BY cell.seg, cell.reg
""",
)
def ml_mutual_info_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-INFORMATION decomposition of the segment × region
    contingency table: each cell's contribution p_ij·ln(p_ij/
    (p_i·p_j)) — the information-theoretic reading of the same table
    the chi² independence test (``ml_chi2_independence``) scores,
    but cell-attributable: a large positive cell is an
    over-represented pairing, negative means avoidance. All counts
    exact int64; the single transcendental runs on identical
    integer-derived doubles and every cell emits on the NANO grid —
    the per-cell rows are the output precisely so no float ever has
    to sum across cells (the total MI, if needed, is an exact
    integer sum of the nano values downstream).

    Scale: one grouped pass each for cells and the two marginals
    (both broadcastable); per-cell column math."""
    base = (
        load_table(spark, sf_dir, "customer")
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
        .select(F.col("c_mktsegment").alias("seg"), F.col("r_name").alias("reg"))
    )
    n_t = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cell = base.groupBy("seg", "reg").agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    )
    mseg = base.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("ni"))
    mreg = base.groupBy("reg").agg(F.count(F.lit(1)).cast("long").alias("nj"))
    m = (
        cell.join(F.broadcast(mseg), "seg")
        .join(F.broadcast(mreg), "reg")
        .join(F.broadcast(n_t))
    )
    contrib = (
        (F.col("nij").cast("double") / F.col("n").cast("double"))
        * F.log(
            F.col("nij").cast("double")
            * F.col("n").cast("double")
            / (F.col("ni").cast("double") * F.col("nj").cast("double"))
        )
    )
    return m.select(
        "seg",
        "reg",
        "nij",
        "ni",
        "nj",
        F.floor(contrib * 1000000000).cast("long").alias("mi_contrib_nano"),
    ).orderBy("seg", "reg")
