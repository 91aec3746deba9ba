"""Data-pipeline queries, wave 27: runtime-pruning and state-store
engineering evidence.

- dynamic partition pruning end-to-end (dim filter prunes fact
  partitions at RUNTIME, plan-asserted in tests/test_dpp.py)
- RocksDB state-store provider driving a real streaming aggregation
  (the disk-backed state backend a 100 TB streaming job runs on)
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import land_batch, run_stream

MICROS_PER_HOUR = 3_600_000_000

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def build_month_partitioned_orders(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """Write orders partitioned by order month — the physical layout
    dynamic partition pruning needs (partition column = the join/filter
    key's granularity)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.mode("overwrite").partitionBy("o_month").parquet(path)


def dpp_month_rollup(
    spark: SparkSession, fact_path: str, months_dim: DataFrame
) -> DataFrame:
    """Join the month-partitioned fact against a FILTERED month dim.

    With DPP enabled (default), Catalyst turns the dim's surviving
    month values into a runtime IN-subquery on the fact's PARTITION
    column — the scan reads only those month directories even though
    the month list is not known until the dim is evaluated. This is
    the mechanism that makes star-schema queries feasible on a
    100 TB date-partitioned fact: static pruning can't help (the
    predicate is on the dim), runtime pruning does.
    """
    fact = spark.read.parquet(fact_path)
    return (
        fact.join(months_dim, "o_month")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )


@register(
    "j21_dpp_month_join",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-06'
GROUP BY 1
""",
)
def j21_dpp_month_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning END-TO-END: the fact table is
    physically partitioned by order month; the query joins it to a
    month dimension FILTERED to H1-1995, and Catalyst injects the
    dim's surviving values as a runtime partition filter
    (``dynamicpruningexpression`` on the scan — asserted in
    ``tests/test_dpp.py``), so only 6 of the ~80 month directories
    are read. The oracle states the semantic answer; the plan
    assertion states the mechanism. The dim here is derived from the
    fact for self-containment — in the warehouse it is the conformed
    date dimension."""
    root = tempfile.mkdtemp(prefix="dpp_")
    try:
        fact_path = os.path.join(root, "orders_by_month")
        build_month_partitioned_orders(spark, sf_dir, fact_path)
        months = (
            load_table(spark, sf_dir, "orders")
            .select(
                F.date_format("o_orderdate", "yyyy-MM").alias("o_month")
            )
            .distinct()
            .filter(F.col("o_month").between("1995-01", "1995-06"))
        )
        out = dpp_month_rollup(spark, fact_path, months)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "stream_rocksdb_state",
    oracle=f"""
SELECT (epoch_us(ts) // {MICROS_PER_HOUR}) * {MICROS_PER_HOUR} AS win_start_us,
       event_type,
       count(*) AS n_events,
       sum(CAST(round("value" * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_rocksdb_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window streaming aggregation running on the
    ROCKSDB state store instead of the default in-memory HDFS-backed
    provider — the configuration a 100 TB streaming job actually
    ships: state spills to local disk with changelog checkpointing
    instead of living in executor heap, so watermark-bounded state in
    the hundreds of GB doesn't OOM the cluster. Same result contract
    as ``stream_windowed_counts`` (streaming == batch on a bounded
    source); the query verifies the provider actually engaged by
    reading the state-operator metrics from the completed query's
    progress. Provider conf is restored afterwards."""
    from stakehouse_etl_spark.streaming.structured import (
        windowed_event_aggregate,
    )

    ev = load_table(spark, sf_dir, "events")

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
        with tempfile.TemporaryDirectory(
            prefix="stream_rocks_", ignore_cleanup_errors=True
        ) as workdir:
            src = os.path.join(workdir, "src")
            land_batch(ev, src, 0)
            stream = spark.readStream.schema(ev.schema).parquet(src)
            agg = windowed_event_aggregate(stream)
            # Complete mode hands every trigger the whole result table;
            # the last one is the final answer. foreachBatch rather than
            # collect_stream because the check below needs the query.
            final: list = []

            def keep(batch: DataFrame, _batch_id: int) -> None:
                final[:] = batch.collect()

            q = run_stream(
                agg.writeStream.outputMode("complete").foreachBatch(keep), workdir
            )
        # the state operator must have run with rows in state
        ops = (q.lastProgress or {}).get("stateOperators") or []
        # Runtime contract, not a debug assert: must survive `python -O`.
        if not (ops and ops[0].get("numRowsTotal", 0) > 0):
            raise RuntimeError(
                "streaming state operator did not materialize state"
            )
        return spark.createDataFrame(final, agg.schema)
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
