"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-vs-oracle (UTC session timezone —
DuckDB timestamps are UTC-naive) and for scale (AQE on, skew-join
handling on, partition coalescing on). ``shuffle_partitions`` should
be ~cores for local runs; on a real cluster leave AQE to coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that oracle parity depends on; all are runtime-settable, so
# apply_engine_conf pins them on a session this engine did not build.
_RUNTIME_CONF = {
    # Spark timestamps are session-TZ, DuckDB's are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Parquet timestamps without isAdjustedToUTC must still read as
    # TIMESTAMP (LTZ, UTC session) — NTZ breaks unix_micros()/window()
    # parity with the DuckDB oracle's naive-UTC timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns read as longs;
    # io.sources.load_table converts ``events.ts`` exactly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    # r12 (guide §2.2 — fewer, larger reduce partitions): size
    # post-shuffle partitions by bytes (advisoryPartitionSizeInBytes)
    # instead of pinning them to the default parallelism. The
    # default (true) keeps every tiny post-shuffle stage at ~core
    # count tasks, so iteration-heavy paths (incremental sinks,
    # multi-cycle warehouse loops) paid 32-task scheduling on
    # KB-sized stages. Size-based coalescing is scale-adaptive by
    # definition: big shuffles still split at the advisory size,
    # tiny ones collapse. Interleaved same-session A/B at sf0.1
    # (3 rounds, medians): t2_bounded_catchup 0.92x, stream_cdc
    # 0.93x, j3 0.88x, ts_sessionize 0.89x, pipeline_corpus_clean
    # 0.95x, w1_skew_hotkey 0.95x; worst case dedup_span_inventory
    # 1.05x (noise band). CPU-heavy map tiers are unaffected: they
    # run behind explicit fan_out/repartition(n) exchanges, which
    # AQE never coalesces.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def get_spark(
    app_name: str = "stakehouse-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast joins for dimension tables up to 64 MB; at 100 TB the
        # fact side never broadcasts but dims (region/nation/index maps) do.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Compress serialized/disk-persisted RDD blocks (lz4). The
        # DISK_ONLY persists in the dedup tier carry corpus-scale
        # shingle-array frames whose raw blocks write ~3× the corpus
        # bytes; compression turned the arrs materialization step from
        # 3.7× to ~3.0× on the sf10→sf30 ladder (repetitive text
        # compresses ~5-10×, and the write path was the superlinear
        # term — the compute pass measured exactly linear).
        .config("spark.rdd.compress", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Pin the engine's runtime confs (``_RUNTIME_CONF``) on a session
    this engine did not build: the session passed to
    ``__spark_entry__``, or a ``newSession()`` child, which starts from
    builder-time conf only."""
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark
