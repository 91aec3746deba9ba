"""Data-pipeline queries, wave 60: ordinal association.

- Kendall's tau-b between the RFM Recency and Monetary quintile
  scores — concordant/discordant pair counts computed on the tiny
  (r, m) CELL grid, never on raw row pairs, so the O(n²) pair space
  collapses to a 25-cell self-join with exact int64 counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.registry import register

_RFM_CTE = """
sp AS (SELECT CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS t_end FROM orders),
base AS (
  SELECT o_custkey,
         CAST((t_end - max(epoch_us(o_orderdate))) // 86400000000 AS BIGINT)
           AS recency_days,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders CROSS JOIN sp
  GROUP BY o_custkey, t_end
),
n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
rk AS (
  SELECT CAST(row_number() OVER (ORDER BY recency_days, o_custkey)
              AS BIGINT) AS r_rank,
         CAST(row_number() OVER (ORDER BY monetary_cents, o_custkey)
              AS BIGINT) AS m_rank
  FROM base
),
sc AS (
  SELECT 6 - ((r_rank * 5 - 1) // n + 1) AS r, (m_rank * 5 - 1) // n + 1 AS m
  FROM rk CROSS JOIN n_t
),
cells AS (SELECT r, m, CAST(count(*) AS BIGINT) AS w FROM sc GROUP BY r, m)
"""


@register(
    "ml_kendall_tau_b",
    oracle=f"""
WITH {_RFM_CTE},
cd AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN a.r < b.r AND a.m < b.m
                           THEN a.w * b.w END), 0) AS BIGINT) AS c_pairs,
    CAST(coalesce(sum(CASE WHEN a.r < b.r AND a.m > b.m
                           THEN a.w * b.w END), 0) AS BIGINT) AS d_pairs
  FROM cells a JOIN cells b
    ON a.r < b.r OR (a.r = b.r AND a.m < b.m)
),
marg AS (
  SELECT CAST(sum(w) AS BIGINT) AS n,
         CAST(sum(w * (w - 1)) // 2 AS BIGINT) AS tie_both
  FROM cells
),
tr AS (
  SELECT CAST(sum(wr * (wr - 1)) // 2 AS BIGINT) AS tie_r FROM (
    SELECT CAST(sum(w) AS BIGINT) AS wr FROM cells GROUP BY r
  )
),
tm AS (
  SELECT CAST(sum(wm * (wm - 1)) // 2 AS BIGINT) AS tie_m FROM (
    SELECT CAST(sum(w) AS BIGINT) AS wm FROM cells GROUP BY m
  )
)
SELECT n, c_pairs, d_pairs, tie_r, tie_m,
       CAST(floor(
         CAST(c_pairs - d_pairs AS DOUBLE)
         / (sqrt(CAST(n * (n - 1) // 2 - tie_r AS DOUBLE))
            * sqrt(CAST(n * (n - 1) // 2 - tie_m AS DOUBLE)))
         * 1000000) AS BIGINT) AS tau_b_micro
FROM cd CROSS JOIN marg CROSS JOIN tr CROSS JOIN tm
""",
)
def ml_kendall_tau_b_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B between the RFM Recency and Monetary quintile
    scores — the tie-adjusted ordinal association (Spearman's
    ``ml_spearman_rho`` works on ranks; tau-b is the right statistic
    when the data are already coarse ordinal bins with massive
    ties). The O(n²) pair space NEVER materializes: concordant and
    discordant counts are Σ wᵢ·wⱼ over a 25-CELL self-join (cells
    totally ordered so each unordered pair counts once), and the tie
    terms come from quintile marginals — all exact int64, with the
    two sqrt factors split so nothing overflows; micro-grid output.

    Scale: one RFM rollup (as in ``ts_rfm_segmentation``) then
    constant-size cell math — the statistic costs the same at any
    data size."""
    orders = load_table(spark, sf_dir, "orders")
    sp = orders.agg(
        F.max(F.unix_micros("o_orderdate")).cast("long").alias("t_end")
    )
    base = (
        orders.join(F.broadcast(sp))
        .groupBy("o_custkey", "t_end")
        .agg(
            F.expr(
                "cast((t_end - max(unix_micros(o_orderdate)))"
                " div 86400000000 as long)"
            ).alias("recency_days"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    # r11 (guide §5 — same plan-replication class as
    # ts_rfm_segmentation): two CHAINED two-phase ranks replicate the
    # orders-rollup subtree ~3² times through their A/B/C subplans,
    # and `cells` then feeds FIVE consumers (both pair sides, marg,
    # tr, tm) — before-plan: 1500 Exchange nodes. base is
    # customer-scale and cells is ≤25 rows; eager checkpoints bound
    # the replication at each fan-out point.
    from stakehouse_etl_spark.caches import checkpoint_tracked

    base = checkpoint_tracked(base)
    n_t = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # two global row_numbers over the O(customers) table — two-phase
    # decompositions, never a single-partition window (same fix as
    # ts_rfm_segmentation)
    rk = checkpoint_tracked(
        skew_resistant_rank(
            base, value="recency_days", id_col="o_custkey",
            descending=False, out="r_rank",
        )
    )
    rk = skew_resistant_rank(
        rk, value="monetary_cents", id_col="o_custkey",
        descending=False, out="m_rank",
    ).select("r_rank", "m_rank")
    sc = rk.join(F.broadcast(n_t)).select(
        (6 - F.expr("(r_rank * 5 - 1) div n + 1")).alias("r"),
        F.expr("(m_rank * 5 - 1) div n + 1").alias("m"),
    )
    cells = checkpoint_tracked(
        sc.groupBy("r", "m").agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    a = cells.select(
        F.col("r").alias("ra"), F.col("m").alias("ma"), F.col("w").alias("wa")
    )
    b = cells.select(
        F.col("r").alias("rb"), F.col("m").alias("mb"), F.col("w").alias("wb")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("ra") < F.col("rb"))
        | ((F.col("ra") == F.col("rb")) & (F.col("ma") < F.col("mb"))),
    )
    cd = pairs.agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ra") < F.col("rb")) & (F.col("ma") < F.col("mb")),
                    F.col("wa") * F.col("wb"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("c_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ra") < F.col("rb")) & (F.col("ma") > F.col("mb")),
                    F.col("wa") * F.col("wb"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("d_pairs"),
    )
    marg = cells.agg(F.sum("w").cast("long").alias("n"))
    tr = (
        cells.groupBy("r")
        .agg(F.sum("w").alias("wr"))
        .agg(
            F.expr("cast(sum(wr * (wr - 1)) div 2 as long)").alias("tie_r")
        )
    )
    tm = (
        cells.groupBy("m")
        .agg(F.sum("w").alias("wm"))
        .agg(
            F.expr("cast(sum(wm * (wm - 1)) div 2 as long)").alias("tie_m")
        )
    )
    m = cd.join(F.broadcast(marg)).join(F.broadcast(tr)).join(F.broadcast(tm))
    n0 = F.expr("n * (n - 1) div 2")
    tau = (F.col("c_pairs") - F.col("d_pairs")).cast("double") / (
        F.sqrt((n0 - F.col("tie_r")).cast("double"))
        * F.sqrt((n0 - F.col("tie_m")).cast("double"))
    )
    return m.select(
        "n",
        "c_pairs",
        "d_pairs",
        "tie_r",
        "tie_m",
        F.floor(tau * 1000000).cast("long").alias("tau_b_micro"),
    )
