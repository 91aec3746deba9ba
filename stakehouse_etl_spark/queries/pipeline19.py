"""Wave 19: CUSUM change-point detection — batch and streaming twins.

The upper-CUSUM statistic S_i = max(0, S_{i-1} + d_i) looks recursive,
but has the closed form S_i = cum_i − min(0, min_{k≤i} cum_k) — two
window passes, exact in integers, identical in both engines. The
streaming version maintains (base, cum, runmin) per key in
``applyInPandasWithState`` state and must equal the batch recompute
bit-for-bit (the same stream==batch contract as the income kernel).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import (
    collect_stream,
    land_batch,
    run_stream,
)

_CUSUM_H = 100_000  # drift alarm threshold, integer cents

_CUSUM_SQL = f"""
WITH v AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
),
a AS (
  SELECT user_id, event_id, ts_us, cents,
         first_value(cents) OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS base
  FROM v
),
b AS (
  SELECT user_id, event_id, ts_us,
         CAST(sum(cents - base) OVER w AS BIGINT) AS cum
  FROM a
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, ts_us,
       CAST(cum - least(min(cum) OVER w, 0) AS BIGINT) AS cusum,
       cum - least(min(cum) OVER w, 0) > {_CUSUM_H} AS drift
FROM b
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "ts_cusum_drift",
    oracle=_CUSUM_SQL,
)
def ts_cusum_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-CUSUM drift detection per user (deviations measured from
    the key's first observed level): the change-point statistic every
    ops/finance monitor runs, computed with the closed form
    ``S = cum − min(0, running_min(cum))`` — two running windows on
    one key shuffle, no recursion, integer-exact. ``drift`` flags the
    alarm crossing (`ts_anomaly_zscore` is the point-outlier
    counterpart; CUSUM catches slow drifts z-scores miss).
    """
    v = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    a = v.withColumn("base", F.first("cents").over(w))
    b = a.withColumn("cum", F.sum(F.col("cents") - F.col("base")).over(wc))
    s = F.col("cum") - F.least(F.min("cum").over(wc), F.lit(0))
    return b.select(
        "user_id",
        "event_id",
        "ts_us",
        s.cast("long").alias("cusum"),
        (s > _CUSUM_H).alias("drift"),
    )


_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("base", LongType()),
        StructField("cum", LongType()),
        StructField("runmin", LongType()),
    ]
)

_CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("cusum", LongType()),
    ]
)


def _cusum_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key CUSUM across micro-batches: state carries the first
    observed level (the deviation baseline), the running deviation sum
    and its running minimum — the three integers the closed form
    needs. No sentinel tricks: base is unset iff state doesn't exist."""
    if state.exists:
        base, cum, runmin = state.get
        has_base = True
    else:
        base, cum, runmin = 0, 0, 0
        has_base = False
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts_us, event_id, cents in zip(
            pdf["ts_us"].to_numpy(),
            pdf["event_id"].to_numpy(),
            pdf["cents"].to_numpy(),
        ):
            cents = int(cents)
            if not has_base:
                base = cents
                has_base = True
            cum += cents - base
            runmin = min(runmin, cum)
            s = cum - min(runmin, 0)
            out.append((key[0], int(event_id), int(ts_us), s))
    state.update((base, cum, runmin))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ts_us", "cusum"]
        )


@register(
    "stream_cusum_drift",
    oracle=_CUSUM_SQL,
)
def stream_cusum_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM monitor as a REAL custom stateful streaming operator:
    three time-ordered micro-batches through
    ``applyInPandasWithState``, per-key (base, cum, runmin) state
    across triggers. The oracle is the batch closed-form recompute —
    stream == batch exactly, the same contract the income kernel
    carries.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    row = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    lo_us, hi_us = row[0].timestamp() * 1e6, row[1].timestamp() * 1e6
    span = (hi_us - lo_us) / 3

    with tempfile.TemporaryDirectory(
        prefix="cusum_src_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        cut1, cut2 = int(lo_us + span), int(lo_us + 2 * span)
        ranges = [(-(1 << 62), cut1), (cut1, cut2), (cut2, (1 << 62))]
        for i, (lo_cut, hi_cut) in enumerate(ranges):
            chunk = ev.filter(
                (F.unix_micros("ts") >= F.lit(lo_cut))
                & (F.unix_micros("ts") < F.lit(hi_cut))
            ).select(
                "user_id",
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "cents",
            )
            land_batch(chunk, src, i)

        stream = (
            spark.readStream.schema(
                "user_id long, event_id long, ts_us long, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        cusum = stream.groupBy("user_id").applyInPandasWithState(
            _cusum_state_fn,
            outputStructType=_CUSUM_OUTPUT_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return collect_stream(cusum, workdir, "append").select(
            "user_id",
            "event_id",
            "ts_us",
            "cusum",
            (F.col("cusum") > _CUSUM_H).alias("drift"),
        )


# ---------------------------------------------------------------------------
# Interval-overlap join (bucketed grid, exact verification)
# ---------------------------------------------------------------------------
_IVL_USERS = 12
_IVL_GAP_US = 3_600_000_000  # 1 h session gap
_IVL_BUCKET_US = 6 * 3_600_000_000  # 6 h grid cell


@register(
    "j19_interval_overlap_pairs",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
  WHERE user_id < {_IVL_USERS}
),
f AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER w > {_IVL_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
s AS (
  SELECT user_id, ts_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM f
),
ivl AS (
  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         CAST(min(ts_us) AS BIGINT) AS start_us,
         CAST(max(ts_us) AS BIGINT) AS end_us
  FROM s GROUP BY user_id, session_seq
)
SELECT a.user_id AS user_a, a.session_seq AS seq_a,
       b.user_id AS user_b, b.session_seq AS seq_b,
       CAST(least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us)
            AS BIGINT) AS overlap_us
FROM ivl a JOIN ivl b
  ON a.user_id < b.user_id
 AND a.start_us <= b.end_us AND b.start_us <= a.end_us
""",
)
def j19_interval_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval OVERLAP join (the genomics/session-collision
    shape the engine's as-of and range joins don't cover): user
    sessions become [start, end] intervals, intervals land in every
    6-hour grid cell they touch (explode of a `sequence`), candidates
    come from the grid-cell equi-join, and the exact overlap predicate
    verifies candidates only. Distinct-ed because an overlapping pair
    can share several cells. At 100 TB the cell width trades explode
    fan-out against candidate density, and hot cells get the same
    `drop_oversize_buckets` cap as every LSH family.

    The oracle is the quadratic overlap self-join — the bucketed plan
    must return exactly its rows.
    """
    from stakehouse_etl_spark.operators.timeseries import sessionize

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < _IVL_USERS)
        .select("user_id", F.unix_micros("ts").alias("ts_us"))
    )
    ivl = sessionize(ev, key="user_id", ts_us="ts_us", gap_us=_IVL_GAP_US).select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.col("session_start_us").alias("start_us"),
        F.col("session_end_us").alias("end_us"),
    )
    cells = ivl.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("start_us") / _IVL_BUCKET_US),
                F.floor(F.col("end_us") / _IVL_BUCKET_US),
            )
        ).alias("cell"),
    )
    a = cells.select(
        F.col("user_id").alias("user_a"),
        F.col("session_seq").alias("seq_a"),
        F.col("start_us").alias("start_a"),
        F.col("end_us").alias("end_a"),
        "cell",
    )
    b = cells.select(
        F.col("user_id").alias("user_b"),
        F.col("session_seq").alias("seq_b"),
        F.col("start_us").alias("start_b"),
        F.col("end_us").alias("end_b"),
        "cell",
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("user_a") < F.col("user_b"))
        .filter(
            (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        .select(
            "user_a",
            "seq_a",
            "user_b",
            "seq_b",
            (
                F.least("end_a", "end_b") - F.greatest("start_a", "start_b")
            ).alias("overlap_us"),
        )
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# S1 as a custom Python DataSource (executor-side partitioned fetch)
# ---------------------------------------------------------------------------
@register(
    "s1_datasource_scan",
    oracle="""
WITH keys AS (SELECT unnest(range(1, 51)) AS idx),
epochs AS (SELECT unnest(range(100, 105)) AS epoch)
SELECT '0x' || lpad(CAST(idx AS VARCHAR), 8, '0') AS bls_key,
       CAST(epoch AS BIGINT) AS epoch,
       CAST(32000000000 + idx * 13 + epoch * 7 AS BIGINT) AS balance
FROM keys CROSS JOIN epochs
""",
)
def s1_datasource_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 through the Spark 4 Python DataSource V2 API
    (``io/datasource.py``): one ``InputPartition`` per epoch, the
    fetch+parse running on EXECUTORS — the scale path for history
    backfills that the driver-side connector (fine for the bounded
    incremental head) deliberately doesn't take. The plan is a real
    ``BatchScan`` over the registered ``beacon_balances`` format; a
    deployment swaps the partition fetch for the archive-node GET and
    keeps the same planner integration.
    """
    from stakehouse_etl_spark.io.datasource import BeaconBalancesDataSource

    spark.dataSource.register(BeaconBalancesDataSource)
    return (
        spark.read.format("beacon_balances")
        .option("lo", 100)
        .option("hi", 104)
        .option("n_keys", 50)
        .load()
    )


# ---------------------------------------------------------------------------
# S1 incremental head as a custom STREAMING source (offset-tracked)
# ---------------------------------------------------------------------------
@register(
    "s1_datasource_stream",
    oracle="""
WITH keys AS (SELECT unnest(range(1, 51)) AS idx),
epochs AS (SELECT unnest(range(100, 105)) AS epoch)
SELECT '0x' || lpad(CAST(idx AS VARCHAR), 8, '0') AS bls_key,
       CAST(epoch AS BIGINT) AS epoch,
       CAST(32000000000 + idx * 13 + epoch * 7 AS BIGINT) AS balance
FROM keys CROSS JOIN epochs
""",
)
def s1_datasource_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The T1 incremental extraction head as a REAL custom streaming
    source (Python DataSource V2 ``simpleStreamReader``): the
    checkpointed offset dict ``{"epoch": N}`` IS the reference's
    runner-table resume cursor; each trigger pulls up to ``step``
    epochs toward the head, and a restarted query resumes from the
    committed offset. The bounded drive here pulls epochs 100-104 in
    2-epoch micro-batches and must equal the one-shot batch of the
    same range (the incremental == batch contract, enforced at the
    SOURCE for the first time rather than at the sink).
    """
    from stakehouse_etl_spark.io.datasource import BeaconBalancesStreamSource

    spark.dataSource.register(BeaconBalancesStreamSource)
    stream = (
        spark.readStream.format("beacon_balances_stream")
        .option("lo", 100)
        .option("hi", 104)
        .option("step", 2)
        .option("n_keys", 50)
        .load()
    )
    with tempfile.TemporaryDirectory(
        prefix="s1_stream_", ignore_cleanup_errors=True
    ) as workdir:
        return collect_stream(stream, workdir, "append")


# ---------------------------------------------------------------------------
# K6: custom V2 writer round-trip (task/job two-phase commit)
# ---------------------------------------------------------------------------
@register(
    "k6_datasource_writer_roundtrip",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id
""",
)
def k6_datasource_writer_roundtrip_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The V2 WRITER contract end-to-end: per-user totals written
    through the custom ``warehouse_jsonl`` sink — every task stages a
    ``.tmp`` part and reports it in its commit message; only the
    job-level commit renames parts final and publishes the
    ``_MANIFEST`` — then read back through the manifest-trusting
    reader and re-aggregated. Round-trip equality with the direct
    recompute is the oracle; torn-job invisibility is unit-tested in
    tests/test_datasource_writer.py.
    """
    from stakehouse_etl_spark.io.datasource import (
        JsonLinesDataSource,
        read_jsonl_committed,
    )

    spark.dataSource.register(JsonLinesDataSource)
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )
    workdir = tempfile.mkdtemp(prefix="jsonl_sink_")
    try:
        path = os.path.join(workdir, "user_totals")
        agg.write.format("warehouse_jsonl").option("path", path).mode(
            "append"
        ).save()
        back = read_jsonl_committed(
            spark, path, "user_id long, n_events long, total_cents long"
        )
        return spark.createDataFrame(back.collect(), back.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming source -> streaming V2 sink, end to end
# ---------------------------------------------------------------------------
@register(
    "stream_datasource_e2e",
    oracle="""
WITH keys AS (SELECT unnest(range(1, 51)) AS idx),
epochs AS (SELECT unnest(range(100, 105)) AS epoch)
SELECT '0x' || lpad(CAST(idx AS VARCHAR), 8, '0') AS bls_key,
       CAST(epoch AS BIGINT) AS epoch,
       CAST(32000000000 + idx * 13 + epoch * 7 AS BIGINT) AS balance
FROM keys CROSS JOIN epochs
""",
)
def stream_datasource_e2e_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full custom-V2 streaming path: the offset-tracked beacon
    STREAM SOURCE feeding the per-microbatch-manifest STREAM WRITER —
    both ends of the pipeline are our own DataSource code, with the
    reference's whole SQS+upsert delivery story replaced by offset
    checkpoints (source) and batch-id manifests (sink). Read-back of
    the committed manifests must equal the one-shot batch of the same
    epoch range.
    """
    from stakehouse_etl_spark.io.datasource import (
        BeaconBalancesStreamSource,
        JsonLinesDataSource,
        read_jsonl_stream_committed,
    )

    for ds in (BeaconBalancesStreamSource, JsonLinesDataSource):
        spark.dataSource.register(ds)
    with tempfile.TemporaryDirectory(
        prefix="ds_e2e_", ignore_cleanup_errors=True
    ) as workdir:
        path = os.path.join(workdir, "balances")
        run_stream(
            spark.readStream.format("beacon_balances_stream")
            .option("lo", 100)
            .option("hi", 104)
            .option("step", 2)
            .option("n_keys", 50)
            .load()
            .writeStream.format("warehouse_jsonl")
            .option("path", path),
            workdir,
        )
        back = read_jsonl_stream_committed(
            spark, path, "bls_key string, epoch long, balance long"
        )
        return spark.createDataFrame(back.collect(), back.schema)
