"""Data-pipeline queries, wave 39: streaming observability + robust
trend estimation.

- streaming Observation metrics: per-micro-batch DQ counters merged
  across StreamingQueryProgress — the streaming twin of
  ``dq_observe_metrics``
- Theil-Sen robust slope via the skew-resistant global rank (median
  of pairwise slopes, no single-partition window)
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import land_batch, run_stream


# ---------------------------------------------------------------------------
# Streaming Observation metrics
# ---------------------------------------------------------------------------
@register(
    "stream_observe_metrics",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events
""",
)
def stream_observe_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DQ counters via ``DataFrame.observe`` on an
    UNBOUNDED source: each micro-batch reports its own observed
    metrics through StreamingQueryProgress, and the driver MERGES the
    per-batch values (counts/sums add, min/max fold) — the streaming
    twin of ``dq_observe_metrics`` and the mechanism behind
    production freshness/volume monitors (no second scan, no state
    store; the metrics ride the batch the engine already ran).
    Batches partition the input exactly once (file source +
    processAllAvailable), so the merged counters equal the batch
    aggregate — that equivalence is the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="stream_obs_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev, src, 0)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        observed = stream.select(
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.unix_micros("ts").alias("ts_us"),
        ).observe(
            "dq",
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("ts_us").cast("long").alias("min_ts_us"),
            F.max("ts_us").cast("long").alias("max_ts_us"),
        )
        q = run_stream(
            observed.writeStream.outputMode("append").format("noop"), workdir
        )
        progresses = list(q.recentProgress)

    n_rows = 0
    sum_cents = 0
    min_ts: int | None = None
    max_ts: int | None = None
    for p in progresses:
        m = (p.observedMetrics or {}).get("dq")
        if m is None or m["n_rows"] in (None, 0):
            continue
        n_rows += m["n_rows"]
        sum_cents += m["sum_cents"]
        bmin, bmax = m["min_ts_us"], m["max_ts_us"]
        min_ts = bmin if min_ts is None else min(min_ts, bmin)
        max_ts = bmax if max_ts is None else max(max_ts, bmax)
    return spark.createDataFrame(
        [(n_rows, sum_cents, min_ts, max_ts)],
        "n_rows long, sum_cents long, min_ts_us long, max_ts_us long",
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope
# ---------------------------------------------------------------------------
@register(
    "ts_theilsen_slope",
    oracle="""
WITH span AS (
  SELECT min(o_orderdate) AS dmin, max(o_orderdate) AS dmax FROM orders
),
spine AS (
  SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS day,
         dmin
  FROM span
),
daily AS (
  SELECT o_orderdate::DATE AS day, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
seq AS (
  SELECT CAST(datediff('day', spine.dmin, spine.day) AS BIGINT) AS d,
         coalesce(daily.c, 0) AS c
  FROM spine LEFT JOIN daily ON spine.day = daily.day
),
pairs AS (
  SELECT a.d AS di, b.d AS dj, b.c - a.c AS dy, b.d - a.d AS dx,
         CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope,
         a.d * 100000 + b.d AS pair_id
  FROM seq a JOIN seq b ON b.d > a.d
),
rk AS (
  SELECT dy, dx, slope,
         CAST(row_number() OVER (ORDER BY slope, pair_id) AS BIGINT) AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT n_pairs, dy, dx, slope AS theilsen_slope
FROM rk WHERE rnk = (n_pairs + 1) // 2
""",
)
def ts_theilsen_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order volume: the (lower)
    MEDIAN of all pairwise slopes — up to 29% contaminated points
    cannot move it, unlike the OLS trend (``ml_group_ols_trend``).
    Slopes are exact rationals (int64 dy, dx over the gap-free day
    spine) evaluated as one IEEE division, so ordering is
    bit-deterministic; the median is selected by GLOBAL RANK computed
    with ``skew_resistant_rank`` (value-group + id-chunk
    decomposition) — no single-partition window over the raw pair
    table (mostly-unique slopes make the value-collapsed table
    approach pair scale, so this is effectively a distributed sort of
    a SPINE-sized ~3M-row intermediate — constant in fact-table size,
    trivially sortable at any cluster width). Ties in slope are
    totally ordered by the packed pair id. Lower-median convention
    keeps the answer an actual data slope (no averaging of two
    rationals).

    Scale: the pair table is |days|² — spine-sized, independent of
    fact rows (the fact table collapses to daily counts first); at
    100 TB this stays a ~3M-row intermediate while the scan does the
    work."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("dmin"),
        F.max(F.to_date("o_orderdate")).alias("dmax"),
    )
    spine = span.select(
        F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias("day"),
        "dmin",
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    seq = (
        spine.join(daily, "day", "left")
        .select(
            F.datediff("day", "dmin").cast("long").alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    # r11 (guide §2.5 input-skew analog): the spine explodes from a
    # 1-row aggregate, so seq plans ONE partition, the BNLJ inherited
    # it, and — because SinglePartition trivially satisfies every
    # downstream clustering requirement — the whole pair pipeline
    # (pair generation AND the rank's row-scale windows) ran as
    # single 6-8 s tasks (profiled, sf0.1). BOTH join inputs must be
    # spread: AQE is free to broadcast-build either side of the
    # nested-loop join, and the stream side sets the output
    # parallelism. fan_out passes an already-parallel frame through
    # untouched.
    seq = fan_out(seq)
    a = seq.select(F.col("d").alias("di"), F.col("c").alias("ci"))
    b = seq.select(F.col("d").alias("dj"), F.col("c").alias("cj"))
    # r11 (guide §3.1 — pick the join strategy deliberately): the
    # dj > di inequality planned a BroadcastNestedLoopJoin, whose
    # interpreted per-(row, build-row) condition loop cost ~20
    # task-seconds per evaluation at sf0.1 (and the rank evaluates
    # the pair table three times). The day spine is GAP-FREE by
    # construction (every d in [0, dmax] exists exactly once), so the
    # partner set of di is literally sequence(di+1, dmax): exploding
    # that sequence and equi-joining dj against the broadcast spine
    # generates the identical pair set through a codegen
    # BroadcastHashJoin instead of a nested loop.
    dmax_f = span.select(
        F.datediff("dmax", "dmin").cast("long").alias("__dmax")
    )
    pairs = (
        a.crossJoin(F.broadcast(dmax_f))
        .filter(F.col("di") < F.col("__dmax"))
        .select(
            "di",
            "ci",
            F.explode(
                F.sequence(F.col("di") + F.lit(1), F.col("__dmax"))
            ).alias("dj"),
        )
        .join(F.broadcast(b), "dj")
        .select(
            (F.col("cj") - F.col("ci")).alias("dy"),
            (F.col("dj") - F.col("di")).alias("dx"),
            # try_divide: ANSI-safe under codegen fusion with the BNLJ
            # condition (dx=0 rows are filtered by the join, but the
            # fused projection may evaluate first); identical IEEE
            # result for every surviving row.
            F.try_divide(
                (F.col("cj") - F.col("ci")).cast("double"),
                (F.col("dj") - F.col("di")).cast("double"),
            ).alias("slope"),
            (F.col("di") * 100000 + F.col("dj")).alias("pair_id"),
        )
    )
    # r11 (guide §1.2 — don't compute things twice): the pair count is
    # C(|seq|, 2) by construction (one row per spine day, d unique,
    # join condition dj > di), so counting seq replaces a SECOND full
    # evaluation of the quadratic pair table (profiled: 5.6 s
    # single-task stage at sf0.1).
    # SHARED INVARIANT (ADVICE r11): this count AND the
    # explode(sequence)+BHJ pair generator above both assume seq holds
    # every d in [0, dmax] exactly once — which the spine construction
    # guarantees (explode(sequence(dmin, dmax)) over one (dmin, dmax)
    # row, LEFT join preserving every spine day). If the spine or the
    # daily aggregation ever changes (duplicate days, clamped span),
    # both the pair set and this count diverge from the oracle's
    # COUNT(*) OVER () together and silently — re-derive both.
    n_pairs = seq.agg(
        ((F.count(F.lit(1)) * (F.count(F.lit(1)) - 1)) / 2)
        .cast("long")
        .alias("n_pairs")
    )
    # r11: slopes are mostly UNIQUE, so the distinct-value table is
    # pair-scale — without a value chunk the rank's (A) prefix ran as
    # TWO single-task windows over ~2.9M rows (profiled at sf0.1:
    # 7.6 s + 6.2 s one-task stages, 59+36 MB single-task shuffle
    # writes). floor(slope·2^20) is integral and monotone in slope
    # (positive-constant multiply and floor are both monotone), which
    # routes (A) through the chunked global_prefix_sum. Chunk
    # occupancy is bounded: for a fixed dx the slope spacing is
    # 1/dx ≥ 1/|days| ≫ 2^-20, so a chunk holds at most one dy per
    # dx value. NOT persisted: the rank's A/B/C components each
    # regenerate the pair table, but with the explode+BHJ generator a
    # MEMORY_AND_DISK cache measured WORSE (174 vs 112 task-seconds,
    # sf0.1) — the ~200 MB cache write plus three deserializing reads
    # cost more than two extra codegen generations.
    rk = skew_resistant_rank(
        pairs,
        "slope",
        "pair_id",
        out="rnk",
        descending=False,
        value_chunk_col=F.floor(F.col("slope") * F.lit(1048576.0)),
    )
    return (
        rk.join(F.broadcast(n_pairs))
        .filter(F.col("rnk") == F.expr("(n_pairs + 1) div 2"))
        .select("n_pairs", "dy", "dx", F.col("slope").alias("theilsen_slope"))
    )
