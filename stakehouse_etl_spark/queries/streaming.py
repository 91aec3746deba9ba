"""Streaming, incremental-state, and multimodal catalog queries.

These exercise the engine paths that aren't single SQL statements —
a real Structured Streaming query (file source → watermark window →
memory sink), the incremental runner-state pipeline (3 successive
runs through the idempotent sinks), and Arrow-batched multimodal
plumbing. Each still carries an exact DuckDB oracle: the oracle states
what the END RESULT must equal (streaming == batch window; incremental
== full recompute; byte stats == codepoint sums on ASCII payloads) —
the strongest correctness statement for these operators.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.multimodal import attach_payload, byte_features
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.incremental import incremental_income_run
from stakehouse_etl_spark.streaming.staging import (
    collect_stream,
    land_batch,
    run_stream,
)
from stakehouse_etl_spark.streaming.structured import windowed_event_aggregate

MICROS_PER_HOUR = 3_600_000_000


# ---------------------------------------------------------------------------
# Structured Streaming: tumbling window + watermark, driven to completion
# ---------------------------------------------------------------------------
@register(
    "stream_windowed_counts",
    oracle=f"""
SELECT (epoch_us(ts) // {MICROS_PER_HOUR}) * {MICROS_PER_HOUR} AS win_start_us,
       event_type,
       count(*) AS n_events,
       sum(CAST(round("value" * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL streaming query: parquet file source → 1-hour tumbling
    event-time windows with a 2-hour watermark → memory sink, driven to
    completion with processAllAvailable. The oracle is the equivalent
    batch aggregation — the streaming/batch equivalence contract.

    (Complete output mode: with a bounded source every window closes by
    end-of-stream, so the final table equals the batch result.)
    """
    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="stream_src_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev, src, 0)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        return collect_stream(windowed_event_aggregate(stream), workdir, "complete")


# ---------------------------------------------------------------------------
# Custom stateful streaming operator: per-key W1 state across micro-batches
# ---------------------------------------------------------------------------
@register(
    "stream_stateful_income",
    oracle="""
WITH v AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS cents
  FROM events
), l AS (
  SELECT user_id, ts_us, cents - lag(cents) OVER w AS delta,
         CAST(row_number() OVER w - 1 AS BIGINT) AS n_steps
  FROM v
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
)
SELECT user_id, ts_us,
       0.0 + coalesce(sum(CASE WHEN delta > 0 THEN delta END) OVER cum, 0) / 100.0 AS earnings,
       0.0 - coalesce(sum(CASE WHEN delta <= 0 THEN delta END) OVER cum, 0) / 100.0 AS losses,
       n_steps
FROM l
WINDOW cum AS (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def stream_stateful_income(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W1 kernel as a REAL custom stateful streaming operator:
    events arrive as three time-ordered micro-batches
    (maxFilesPerTrigger=1) through ``applyInPandasWithState`` — per-key
    integer-cents state carries across triggers (the streaming twin of
    the runner-table resume, T1/T3). The oracle is the batch window
    recompute: stream == batch, exactly.
    """
    from stakehouse_etl_spark.streaming.structured import (
        streaming_cumulative_income,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    row = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    lo_us, hi_us = row[0].timestamp() * 1e6, row[1].timestamp() * 1e6
    span = (hi_us - lo_us) / 3

    with tempfile.TemporaryDirectory(
        prefix="stateful_src_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        cut1, cut2 = int(lo_us + span), int(lo_us + 2 * span)
        ranges = [  # half-open, disjoint, exhaustive
            (-(1 << 62), cut1),
            (cut1, cut2),
            (cut2, (1 << 62)),
        ]
        for i, (lo_cut, hi_cut) in enumerate(ranges):
            chunk = ev.filter(
                (F.unix_micros("ts") >= F.lit(lo_cut))
                & (F.unix_micros("ts") < F.lit(hi_cut))
            )
            land_batch(chunk, src, i)

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return collect_stream(streaming_cumulative_income(stream), workdir, "append")


# ---------------------------------------------------------------------------
# Incremental runner-state pipeline: 3 runs == 1 full recompute
# ---------------------------------------------------------------------------
@register(
    "inc_income_3runs",
    oracle=f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {MICROS_PER_HOUR} AS epoch, max("value") AS balance
  FROM events GROUP BY 1, 2
), l AS (
  SELECT user_id, epoch, balance,
         CAST(round((balance + 0.0 - lag(balance) OVER w) * 100) AS BIGINT) AS delta,
         epoch - lag(epoch) OVER w > 1 AS gap
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch)
), g AS (
  SELECT *, min(CASE WHEN gap THEN epoch END)
              OVER (PARTITION BY user_id) AS first_gap
  FROM l
), t AS (
  SELECT * FROM g WHERE first_gap IS NULL OR epoch < first_gap
)
SELECT user_id, epoch, balance,
       0.0 + coalesce(sum(CASE WHEN delta > 0 THEN delta END) OVER cum, 0) / 100.0 AS earnings,
       0.0 - coalesce(sum(CASE WHEN delta < 0 THEN delta END) OVER cum, 0) / 100.0 AS losses,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch) - 1 AS DOUBLE)
         AS epochs_since_active
FROM t
WINDOW cum AS (PARTITION BY user_id ORDER BY epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def inc_income_3runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T3/T5 end-to-end: the hourly balance series arrives in three
    epoch slices; each run resumes seeded keys / bootstraps new ones,
    upserts income, advances the runner state — through the REAL
    idempotent parquet sinks. The oracle is the single-shot full
    recompute: incremental must equal batch exactly.

    (The third run is deliberately a full-overlap replay of slice 3 —
    exercising T5 idempotency: re-delivery must not change state.)
    """
    ev = load_table(spark, sf_dir, "events")
    balances = ev.groupBy(
        "user_id",
        (F.unix_micros("ts") / F.lit(MICROS_PER_HOUR)).cast("long").alias("epoch"),
    ).agg(F.max("value").alias("balance"))

    row = balances.agg(F.min("epoch"), F.max("epoch")).collect()[0]
    lo, hi = row[0], row[1]
    span = (hi - lo) // 3 or 1
    cuts = [lo + span, lo + 2 * span, hi]

    warehouse = tempfile.mkdtemp(prefix="inc_wh_")
    try:
        state_path = os.path.join(warehouse, "state")
        income_path = os.path.join(warehouse, "income")
        bal = balances.withColumnRenamed("user_id", "bls_key")
        for cut in cuts:
            incremental_income_run(
                spark,
                bal.filter(F.col("epoch") <= cut),
                state_path=state_path,
                income_path=income_path,
                money_scale=100,
            )
        # T5 probe: replay the last slice verbatim — must be a no-op.
        incremental_income_run(
            spark,
            bal.filter(F.col("epoch") <= cuts[-1]),
            state_path=state_path,
            income_path=income_path,
            money_scale=100,
        )
        out = spark.read.parquet(income_path).select(
            F.col("bls_key").alias("user_id"),
            "epoch",
            "balance",
            "earnings",
            "losses",
            "epochs_since_active",
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


# ---------------------------------------------------------------------------
# Multimodal plumbing: Arrow-batched byte features
# ---------------------------------------------------------------------------
@register(
    "mm_byte_features",
    oracle="""
WITH b AS (
  SELECT doc_id AS media_id, text,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS bytes
  FROM documents
)
SELECT media_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(list_sum(bytes) AS BIGINT) AS byte_sum,
       CAST(list_min(bytes) AS INTEGER) AS byte_min,
       CAST(list_max(bytes) AS INTEGER) AS byte_max,
       CAST(list_sum(bytes) % 997 AS BIGINT) AS checksum
FROM b
""",
)
def mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: text → binary payload column →
    Arrow-batched mapInPandas feature extraction (numpy over raw
    bytes). Oracle: codepoint stats (payloads are ASCII here, so
    codepoint == byte — the decode step itself is the deployment-
    stubbed codec, see operators.multimodal.fake_decode)."""
    docs = load_table(spark, sf_dir, "documents")
    return byte_features(attach_payload(docs))


@register(
    "mm_resample",
    oracle="""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(range(1, length(text) + 1, 4),
                        i -> ascii(substr(text, i, 1))) AS bytes
  FROM documents
)
SELECT media_id,
       CAST(len(bytes) AS BIGINT) AS n_out,
       CAST(list_sum(bytes) AS BIGINT) AS out_sum,
       CAST(list_min(bytes) AS INTEGER) AS out_min,
       CAST(list_max(bytes) AS INTEGER) AS out_max
FROM b
""",
)
def mm_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize/downsample stage: every 4th payload byte
    through the Arrow-batched resample UDF (the PIL.resize / audio
    decimation stand-in — operators.multimodal.resample_payload)."""
    from stakehouse_etl_spark.operators.multimodal import resample_payload

    docs = load_table(spark, sf_dir, "documents")
    return resample_payload(attach_payload(docs), stride=4)


@register(
    "mm_frame_sample",
    oracle="""
WITH starts AS (
  SELECT doc_id AS media_id, text,
         UNNEST(range(1, length(text) + 1, 64)) AS start
  FROM documents
), fr AS (
  SELECT media_id, start, substr(text, start, 64) AS frame
  FROM starts
)
SELECT media_id,
       CAST((start - 1) // 64 AS INTEGER) AS frame_idx,
       CAST(list_sum(list_transform(range(1, length(frame) + 1),
                                    i -> ascii(substr(frame, i, 1))))
            // length(frame) AS BIGINT) AS frame_mean
FROM fr
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling stage: one input row fans out to one
    row per 64-byte 'frame' with its floor-mean 'pixel' value — the
    video frame-extraction partition flow through the real mapInPandas
    decode contract (operators.multimodal.fake_decode)."""
    from stakehouse_etl_spark.operators.multimodal import fake_decode

    docs = load_table(spark, sf_dir, "documents")
    return fake_decode(attach_payload(docs), frame_bytes=64)


# ---------------------------------------------------------------------------
# Sliding (hopping) windows — real stream, 2h window / 1h slide
# ---------------------------------------------------------------------------
@register(
    "stream_sliding_counts",
    oracle=f"""
WITH e AS (
  SELECT epoch_us(ts) AS ts_us, event_type,
         CAST(round("value" * 100) AS BIGINT) AS v_c
  FROM events
), x AS (
  SELECT (ts_us // {MICROS_PER_HOUR} - off) * {MICROS_PER_HOUR} AS win_start_us,
         event_type, v_c
  FROM e CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) AS o(off)
)
SELECT win_start_us, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v_c) AS BIGINT) / 100.0 AS sum_value
FROM x GROUP BY 1, 2
""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2 h width, 1 h hop) as a REAL
    streaming query driven to completion — every event lands in
    exactly two windows; Spark expands the memberships before the one
    shuffle. The oracle materializes the same two-window membership
    with an integer-micros cross join (window starts are the two hour
    marks at ts//1h and ts//1h − 1)."""
    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="stream_slide_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev, src, 0)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = windowed_event_aggregate(stream, window="2 hours", slide="1 hour")
        return collect_stream(agg, workdir, "complete")


# ---------------------------------------------------------------------------
# Native session windows — real stream, 4h gap, merging session state
# ---------------------------------------------------------------------------
SESSION_GAP_US = 4 * MICROS_PER_HOUR


@register(
    "stream_session_windows",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(round("value" * 100) AS BIGINT) AS v_c
  FROM events
), f AS (
  SELECT user_id, ts_us, v_c,
         CASE WHEN ts_us - lag(ts_us) OVER w >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), s AS (
  SELECT user_id, ts_us, v_c,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM f
)
SELECT user_id, min(ts_us) AS session_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v_c) AS BIGINT) / 100.0 AS sum_value
FROM s GROUP BY user_id, seq
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` sessions (4 h inactivity gap) as a
    REAL streaming query — Structured Streaming maintains MERGING
    session state across micro-batches (two files → two triggers).
    The oracle is the lag/cumsum gap-session rendering; note Spark's
    session boundary is a closed gap (new session at delta == gap),
    hence ``>=`` in the oracle where ts_sessionize uses ``>``."""
    from stakehouse_etl_spark.streaming.structured import (
        session_window_aggregate,
    )

    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="stream_sess_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev, src, 0)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = session_window_aggregate(stream, gap="4 hours")
        return collect_stream(agg, workdir, "complete")


# ---------------------------------------------------------------------------
# Stream–static enrichment join
# ---------------------------------------------------------------------------
@register(
    "stream_static_enrich",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: the streaming events feed joins a STATIC
    broadcast dimension (customer) per micro-batch, then aggregates by
    segment — the standard streaming-enrichment topology (every
    reference serving join, J5, in streaming form). Static side is
    planned once and broadcast to every trigger; no state is needed
    for the join itself."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_enrich_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev, src, 0)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = (
            stream.join(F.broadcast(cust), "user_id")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
                ).alias("sum_value"),
            )
        )
        return collect_stream(agg, workdir, "complete")


# ---------------------------------------------------------------------------
# Stream–stream join (time-bounded inner join with watermarked state)
# ---------------------------------------------------------------------------
@register(
    "stream_stream_join",
    oracle=f"""
SELECT a.user_id,
       epoch_us(a.ts) AS click_ts_us,
       epoch_us(b.ts) AS purchase_ts_us,
       CAST(round(a."value" * 100) AS BIGINT) / 100.0 AS click_value,
       CAST(round(b."value" * 100) AS BIGINT) / 100.0 AS purchase_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream INNER join: clicks matched to purchases by the
    same user within the following hour — both sides are live streams
    with watermarks bounding the buffered state (clicks can be evicted
    once the purchase-side watermark passes click_ts + 1 h; without
    the time bound the join state grows forever). Inner matches emit
    as they arrive, so the bounded run equals the batch join exactly."""
    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="stream_ssj_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        land_batch(ev, src, 0)

        def read_side(kind: str, alias: str) -> DataFrame:
            return (
                spark.readStream.schema(ev.schema)
                .parquet(src)
                .filter(F.col("event_type") == kind)
                .select(
                    F.col("user_id").alias(f"{alias}_user"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("value").alias(f"{alias}_value"),
                )
                .withWatermark(f"{alias}_ts", "2 hours")
            )

        clicks = read_side("click", "c")
        purchases = read_side("purchase", "p")
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        ).select(
            F.col("c_user").alias("user_id"),
            F.unix_micros("c_ts").alias("click_ts_us"),
            F.unix_micros("p_ts").alias("purchase_ts_us"),
            (F.round(F.col("c_value") * 100).cast("long") / 100.0).alias(
                "click_value"
            ),
            (F.round(F.col("p_value") * 100).cast("long") / 100.0).alias(
                "purchase_value"
            ),
        )
        return collect_stream(joined, workdir, "append")


# ---------------------------------------------------------------------------
# Streaming exact dedup (stateful dropDuplicates)
# ---------------------------------------------------------------------------
@register(
    "stream_dedup_exact",
    oracle="""
SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         AS fingerprint
FROM documents
""",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-1 exact dedup as a STREAMING operator: documents arrive as
    two micro-batches and ``dropDuplicates`` keeps per-fingerprint
    state across triggers, so a duplicate landing in a later batch is
    suppressed — the streaming-ingest form of the corpus pipeline's
    first stage. Output is the fingerprint SET (which physical row
    survives within a batch is scheduler-dependent; the set is not)."""
    from stakehouse_etl_spark.operators.text import normalized_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()

    with tempfile.TemporaryDirectory(
        prefix="stream_dedup_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        # Two deterministic halves -> two triggers (mtime-ordered).
        land_batch(docs.filter(F.col("doc_id") % 2 == 0), src, 0)
        land_batch(docs.filter(F.col("doc_id") % 2 == 1), src, 1)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = (
            stream.select(normalized_fingerprint(F.col("text")).alias("fingerprint"))
            .dropDuplicates(["fingerprint"])
        )
        out = collect_stream(deduped, workdir, "append")
    # Runtime contract, not a debug assert: must survive `python -O`.
    # State suppressed cross-batch dups, so at most one row per doc
    # (``out`` is driver-side: collecting it runs no Spark job).
    n_out = len(out.collect())
    if n_out > n_total:
        raise RuntimeError(f"stream_dedup_exact: {n_out} fingerprints from {n_total} docs")
    return out


# ---------------------------------------------------------------------------
# Streaming -> idempotent upsert warehouse sink (foreachBatch)
# ---------------------------------------------------------------------------
@register(
    "stream_upsert_foreachbatch",
    oracle=f"""
SELECT user_id, epoch_us(ts) // {MICROS_PER_HOUR} AS epoch,
       max("value") AS balance
FROM events GROUP BY 1, 2
""",
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 in streaming form: the events stream lands in the warehouse
    through ``foreachBatch`` -> ``write_upsert`` (newest-wins merge on
    (user_id, epoch)) across three micro-batches; re-delivery of a key
    just overwrites the same row, so the final table equals the batch
    aggregate — the idempotent-sink contract that replaces the
    reference's SQS redelivery + ON DUPLICATE KEY UPDATE
    (serverless.yaml:42-61 + src/utils/data_utils.py:10-15)."""
    from stakehouse_etl_spark.io.sinks import write_upsert

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    row = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    lo_us, hi_us = row[0].timestamp() * 1e6, row[1].timestamp() * 1e6
    span = (hi_us - lo_us) / 3

    with tempfile.TemporaryDirectory(
        prefix="stream_upsert_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        # Cuts aligned to hour-bucket boundaries: each (user, epoch)
        # hour lands wholly in one micro-batch, so the newest-wins
        # upsert never overwrites an earlier batch's partial max (the
        # unaligned variant would silently drop it). A production
        # stream would instead keep the running max in a streaming agg
        # (update mode) ahead of the sink.
        cut1 = (int(lo_us + span) // MICROS_PER_HOUR) * MICROS_PER_HOUR
        cut2 = (int(lo_us + 2 * span) // MICROS_PER_HOUR) * MICROS_PER_HOUR
        ranges = [(-(1 << 62), cut1), (cut1, cut2), (cut2, (1 << 62))]
        for i, (lo_cut, hi_cut) in enumerate(ranges):
            chunk = ev.filter(
                (F.unix_micros("ts") >= F.lit(lo_cut))
                & (F.unix_micros("ts") < F.lit(hi_cut))
            )
            land_batch(chunk, src, i)

        table_path = os.path.join(workdir, "warehouse", "hourly_balances")

        def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
            hourly = batch_df.groupBy(
                "user_id",
                (F.unix_micros("ts") / F.lit(MICROS_PER_HOUR))
                .cast("long")
                .alias("epoch"),
            ).agg(F.max("value").alias("balance"))
            write_upsert(
                batch_df.sparkSession, hourly, table_path,
                keys=["user_id", "epoch"],
            )

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream(stream.writeStream.foreachBatch(upsert_batch), workdir)
        out = spark.read.parquet(table_path).select("user_id", "epoch", "balance")
        return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Stateful streaming funnel (sequence detection / CEP across micro-batches)
# ---------------------------------------------------------------------------
@register(
    "stream_funnel_stages",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
v AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END) OVER cum AS fv
  FROM s
  WINDOW cum AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > fv
                     THEN ts_us END) OVER cum AS fc
  FROM v
  WINDOW cum AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > fc
                     THEN ts_us END) OVER cum AS fp
  FROM c
  WINDOW cum AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, ts_us,
       fv AS first_view_us, fc AS first_click_us, fp AS first_purchase_us,
       CAST(CASE WHEN fp IS NOT NULL THEN 3
                 WHEN fc IS NOT NULL THEN 2
                 WHEN fv IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_stage
FROM p
""",
)
def stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence detection (view → click → purchase) as a REAL custom
    stateful streaming operator: events arrive in three time-ordered
    micro-batches; per-user funnel state (three first-reach
    timestamps) carries across triggers via ``applyInPandasWithState``
    and each event emits the funnel state at that stream position.
    The oracle is the batch cumulative-window recompute — for every
    prefix of the stream, stream state == batch state, the strongest
    streaming/batch equivalence statement (not just final-row
    equality). The final row per user equals ``ts_funnel_conversion``
    (queries/analytics2.py), its batch twin."""
    from stakehouse_etl_spark.streaming.structured import streaming_funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    row = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    lo_us, hi_us = row[0].timestamp() * 1e6, row[1].timestamp() * 1e6
    span = (hi_us - lo_us) / 3

    with tempfile.TemporaryDirectory(
        prefix="funnel_src_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        cut1, cut2 = int(lo_us + span), int(lo_us + 2 * span)
        ranges = [  # half-open, disjoint, exhaustive
            (-(1 << 62), cut1),
            (cut1, cut2),
            (cut2, (1 << 62)),
        ]
        for i, (lo_cut, hi_cut) in enumerate(ranges):
            chunk = ev.filter(
                (F.unix_micros("ts") >= F.lit(lo_cut))
                & (F.unix_micros("ts") < F.lit(hi_cut))
            )
            land_batch(chunk, src, i)

        stream = (
            spark.readStream.schema(
                "user_id long, event_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return collect_stream(streaming_funnel(stream), workdir, "append")
