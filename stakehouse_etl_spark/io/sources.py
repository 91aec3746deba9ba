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
    pyarrow reading ``num_rows`` per footer."""
    import pyarrow.parquet as pq

    path = _table_path(sf_dir, name)
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    # Recurse: the partitioned (time-bucket subdirectory) layout the
    # module docstring promises must count too — a top-level-only scan
    # silently returned 0 there, collapsing every footer-sized sizing
    # decision to its minimum (ADVICE r8).
    total = 0
    n_footers = 0
    for root, _dirs, files in os.walk(path):
        for entry in sorted(files):
            if entry.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, entry)).num_rows
                n_footers += 1
    if n_footers == 0:
        raise FileNotFoundError(
            f"table_num_rows: no parquet footers under {path!r} — "
            f"refusing to report 0 rows for a sizing decision"
        )
    return total


def table_num_rows_or(sf_dir: str, name: str, default: int) -> int:
    """Sized-or-default form of :func:`table_num_rows` for PLANNING
    decisions (partition counts, dispatch thresholds): a footerless or
    missing layout degrades to ``default`` instead of crashing the
    query — the actual scan will then surface the real error, or read
    whatever layout Spark itself can resolve (ADVICE r9: pipeline41
    called the raising form unguarded while pipeline3 fell back)."""
    try:
        return table_num_rows(sf_dir, name)
    except (FileNotFoundError, OSError):
        return default


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
