"""Data-pipeline queries, wave 9: warehouse maintenance (small-file
compaction) and product-quantization codebook assignment.

Compaction is the unglamorous half of a 100 TB warehouse: streaming
ingestion produces file counts that kill scan planning long before
they fill disks. PQ is the vector-compression standard behind
billion-scale ANN indexes.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import collect_stream, land_batch

# ---------------------------------------------------------------------------
# Small-file compaction
# ---------------------------------------------------------------------------

_SMALL_FILES = 64
_COMPACTED_FILES = 4


@register(
    "maint_compact_small_files",
    oracle=f"""
SELECT CAST({_SMALL_FILES} AS BIGINT) AS n_files_before,
       CAST({_COMPACTED_FILES} AS BIGINT) AS n_files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS cents_total
FROM events
""",
)
def maint_compact_small_files_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: an ingestion-fragmented table (64 tiny
    files — the classic streaming-sink pathology) is rewritten to 4
    right-sized files with ZERO value drift (the oracle checks row
    count + exact cents through the round trip, and the file counts
    are returned as columns). At 100 TB this is the scheduled OPTIMIZE
    job: target file size = a few× ``maxPartitionBytes`` so scan task
    planning stays O(files-worth-reading); the rewrite is one
    repartition, no shuffle key needed.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    workdir = tempfile.mkdtemp(prefix="compact_")
    try:
        frag = os.path.join(workdir, "fragmented")
        ev.repartition(_SMALL_FILES).write.mode("overwrite").parquet(frag)
        n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
        compacted = os.path.join(workdir, "compacted")
        spark.read.parquet(frag).repartition(_COMPACTED_FILES).write.mode(
            "overwrite"
        ).parquet(compacted)
        n_after = len(
            [f for f in os.listdir(compacted) if f.endswith(".parquet")]
        )
        out = spark.read.parquet(compacted).agg(
            F.lit(n_before).cast("long").alias("n_files_before"),
            F.lit(n_after).cast("long").alias("n_files_after"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("cents_total"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Append-mode watermark eviction (late arrivals + sentinel-forced closure)
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


@register(
    "stream_append_eviction",
    oracle=f"""
SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS win_start_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
""",
)
def stream_append_eviction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark semantics, driven end to end: the newest
    half of the events stream arrives first (racing the watermark
    forward), the OLD half arrives a full batch late, and a sentinel
    event 4 h past the horizon arrives last to push the watermark over
    every real window. Append mode only releases a window when the
    watermark passes its end (eviction at batch close) — so the final
    emitted set must equal the batch hourly aggregate over all real
    events, each window emitted exactly once with its complete count
    (late rows merged into still-open state before eviction), while
    the sentinel's own window is still open at end-of-stream and is
    correctly withheld. This is the bounded-state contract that lets
    a 100 TB stream run with finite memory: state lives only in the
    2 h watermark band behind the stream head.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    lo, hi = bounds[0], bounds[1]
    mid = (lo + hi) // 2
    sentinel_us = hi + 4 * _HOUR_US

    with tempfile.TemporaryDirectory(
        prefix="stream_evict_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        batches = [
            ev.filter(F.unix_micros("ts") >= mid),  # stream head first
            ev.filter(F.unix_micros("ts") < mid),  # old data arrives late
            spark.createDataFrame([(10**9,)], "event_id long").select(
                "event_id", F.timestamp_micros(F.lit(sentinel_us)).alias("ts")
            ),
        ]
        for i, chunk in enumerate(batches):
            land_batch(chunk, src, i)

        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.unix_micros("win.start").alias("win_start_us"), "n_events"
            )
        )
        return collect_stream(agg, workdir, "append")


# ---------------------------------------------------------------------------
# Product quantization (PQ) codebook assignment
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8
PQ_SUBDIM = 8  # 64-dim embeddings / 8 subspaces
PQ_K = 4
# Fixed integer-milli codebook (seed 7) — literal, shared with the SQL
# oracle generator below.
_pq_rng = np.random.RandomState(7)
PQ_CODEBOOK: list[list[list[int]]] = (
    _pq_rng.randint(-1000, 1000, (PQ_SUBSPACES, PQ_K, PQ_SUBDIM))
    .astype(int)
    .tolist()
)


def _pq_sql() -> str:
    """DuckDB oracle: same quantization, slices, distances, argmin."""
    parts_code = []
    parts_err = []
    for s in range(PQ_SUBSPACES):
        sl = f"list_slice(qe, {s * PQ_SUBDIM + 1}, {(s + 1) * PQ_SUBDIM})"
        dists = []
        for k in range(PQ_K):
            c = PQ_CODEBOOK[s][k]
            terms = " + ".join(
                f"({sl}[{i + 1}] - ({c[i]})) * ({sl}[{i + 1}] - ({c[i]}))"
                for i in range(PQ_SUBDIM)
            )
            dists.append(f"({terms})")
        arr = f"[{', '.join(dists)}]"
        # Sub-code s occupies bits [8s, 8s+8) of the packed code —
        # scalar BIGINT output (the driver's canonicalizer cannot hash
        # list values; r8 red row).
        parts_code.append(
            f"(CAST(list_position({arr}, list_min({arr})) - 1 AS BIGINT)"
            f" * {1 << (8 * s)})"
        )
        parts_err.append(f"list_min({arr})")
    codes = " + ".join(parts_code)
    err = " + ".join(parts_err)
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qe
  FROM embeddings
)
SELECT vec_id, label, CAST({codes} AS BIGINT) AS pq_code,
       CAST({err} AS BIGINT) AS sq_error
FROM e
"""


@register("sim_pq_codebook", oracle=_pq_sql())
def sim_pq_codebook_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each 64-dim embedding into 8
    subvectors, assign each to the nearest of 4 fixed codebook
    centroids (integer-milli squared distance, first-min tiebreak),
    emit the 8-byte code + total reconstruction error. The memory
    layout behind billion-vector ANN (codes are 8 bytes vs 256); pure
    array expressions over one scan — no shuffle, no UDF, and the
    integer distances make the assignment bit-reproducible in both
    engines. (A production codebook comes from k-means — the
    ``ml_kmeans_*`` queries — this pins the ASSIGNMENT kernel.)

    The 8 sub-codes are PACKED into one BIGINT (sub-code ``s`` in bits
    ``[8s, 8s+8)``) — the literal PQ memory layout, and a scalar
    output the driver's pandas canonicalizer can hash (``array``
    outputs broke it in round 8; see tests/test_catalog_contract.py).
    """
    from stakehouse_etl_spark.operators.similarity import quantize

    # r12 (guide §3.3/§7.3 — plan size is a real cost): the former
    # form unrolled 8 subspaces x 4 centroids into ~1.5k Column nodes
    # (each `arr` duplicated again by array_position+array_min), so a
    # 500-row run spent ~4 s BUILDING the expression tree over py4j
    # and pushing it through analysis — 37 kB of plan text for a
    # shuffle-free map. The codebook is now a nested ARRAY LITERAL and
    # the per-subspace / per-centroid loops are higher-order
    # `transform`s over it: same integer-milli distances, same
    # first-min `array_position` tiebreak, same bit packing (weights
    # literal), verified row-identical at sf0.01. Paired medians
    # 1.5-1.9 s -> ~0.85 s per invocation.
    cb = F.lit(PQ_CODEBOOK).cast("array<array<array<long>>>")
    weights = F.lit([1 << (8 * s) for s in range(PQ_SUBSPACES)]).cast(
        "array<long>"
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qe")
    )
    dists_all = F.transform(
        cb,
        lambda cents, s: F.transform(
            cents,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col("qe"), s * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)
                    ),
                    c,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        ),
    )
    d = e.select("vec_id", "label", dists_all.alias("__d"))
    codes = F.transform(
        F.col("__d"),
        lambda a: (F.array_position(a, F.array_min(a)) - 1).cast("long"),
    )
    errs = F.transform(F.col("__d"), lambda a: F.array_min(a))
    packed = F.aggregate(
        F.zip_with(codes, weights, lambda c, w: c * w),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    total_err = F.aggregate(
        errs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return d.select(
        "vec_id",
        "label",
        packed.cast("long").alias("pq_code"),
        total_err.cast("long").alias("sq_error"),
    )
