"""Parquet table sources.

The reference's sources are MySQL point/range SELECTs plus REST/GraphQL
scans (SURVEY §2.1 S1–S6); here every table is a Parquet directory and
"scan with predicate" is simply ``spark.read.parquet(...).filter(...)``
— Catalyst pushes the predicate and the column list into the Parquet
reader (check ``PushedFilters`` / ``ReadSchema`` in ``.explain``).

At 100 TB the fact tables would be written partitioned by a time bucket
(e.g. ``epoch_bucket = epoch // 10_000``) so range predicates prune
partitions; the loaders below accept either layout transparently
(``spark.read.parquet`` on a partitioned root handles both).

Stream sources go through ``load_table`` too: a streaming query lands
the loaded frame with ``streaming.staging.land_batch`` and streams with
that frame's schema, so the ``events.ts`` normalization below lives
here alone and a table written as a directory of part files streams
like a single file. ``_table_path`` stays private to this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Driver-generated synthetic tables (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _table_path(sf_dir: str, name: str) -> str:
    plain = os.path.join(sf_dir, f"{name}.parquet")
    return plain if os.path.exists(plain) else os.path.join(sf_dir, name)


def table_num_rows(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet FOOTER metadata — zero data
    scan (a few KB of footer reads even for a multi-GB table), for
    sizing decisions that must scale with the input: partition counts
    for near-unique-key aggregations, dispatch thresholds, guard
    bounds. At warehouse scale this is the catalog/metadata-service
    lookup every real engine does before planning; locally it is
    pyarrow reading ``num_rows`` per footer, the partitioned
    (subdirectory) layout included.

    0 when there is no footer to read (missing path, no ``.parquet``
    file) or a read fails with an ``OSError``: the sizing decision then
    takes its minimum instead of crashing the query, and the scan
    itself reports the real error, or reads whatever layout Spark can
    resolve."""
    import pyarrow.parquet as pq

    path = _table_path(sf_dir, name)
    try:
        if os.path.isfile(path):
            return pq.read_metadata(path).num_rows
        return sum(
            pq.read_metadata(os.path.join(root, entry)).num_rows
            for root, _dirs, files in os.walk(path)
            for entry in files
            if entry.endswith(".parquet")
        )
    except OSError:
        return 0


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Plain ``spark.read.parquet`` — no schema fudging,
    so Parquet statistics, pushdown and vectorized decoding all apply.

    One normalization: the synthetic ``events`` table may store ``ts``
    as parquet TIMESTAMP(NANOS), which Spark only reads via the
    ``nanosAsLong`` escape hatch (set by ``session.get_spark`` and
    ``session.apply_engine_conf``). We convert to a microsecond
    timestamp with exact integer division (``div`` — a double round
    trip would corrupt: nanos ≈ 1.7e18 > 2^53), truncating exactly as
    DuckDB does, so both engines see identical instants.
    """
    df = spark.read.parquet(_table_path(sf_dir, name))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so queries can use spark.sql."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
