"""Data-layout wave: Z-order clustering keys, partition-pruned
warehouse reads, and tokenizer vocabulary coverage.

The first two are LAYOUT operators — at 100 TB the dominant cost is
what a query does NOT read, and these are the two standard levers:
multi-dimensional clustering (Z-order) so correlated predicates touch
few files, and coarse partitioning so time predicates prune whole
directories. The reference's MySQL warehouse gets this from B-tree
indexes (SURVEY §2.1 S5); a Parquet lake gets it from layout. The
third is the tokenizer-coverage diagnostic a training pipeline runs
before committing to a vocab.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out, tokens
from stakehouse_etl_spark.queries.datapipe import _TOKS
from stakehouse_etl_spark.queries.registry import register

DAY_US = 86_400_000_000

# ---------------------------------------------------------------------------
# Z-order clustering key (bit-interleave, 16+16 -> 32 bits)
# ---------------------------------------------------------------------------
ZBITS = 16
ZBUCKET_SHIFT = 12  # z >> 12 ≈ one "file" per 4096-cell z-range


def _z_terms(x: str, y: str, dialect: str) -> str:
    """Bit-interleave expression, generated from one loop and rendered
    per dialect (DuckDB spells shifts infix, Spark as functions —
    identical integer op sequence either way)."""
    if dialect == "duckdb":
        shl = "((({e}) << {k}))".format
        shr = "((({e}) >> {k}))".format
    else:
        shl = "(shiftleft({e}, {k}))".format
        shr = "(shiftright({e}, {k}))".format
    terms = []
    for i in range(ZBITS):
        terms.append(shl(e=shr(e=x, k=i) + " & 1", k=2 * i))
        terms.append(shl(e=shr(e=y, k=i) + " & 1", k=2 * i + 1))
    return " + ".join(terms)


_ZX = "CAST(o_custkey AS BIGINT) & 65535"
_ZY_DUCK = f"(epoch_us(o_orderdate) // {DAY_US}) & 65535"
# NTZ-safe day number: cast-to-date drops the (midnight) time component
# without consulting the session timezone, unlike unix_micros(cast(...)).
_DAYNUM_SPARK = "datediff(cast(o_orderdate as date), date'1970-01-01')"
_ZY_SPARK = f"CAST({_DAYNUM_SPARK} AS BIGINT) & 65535"


@register(
    "layout_zorder_stats",
    oracle=f"""
WITH b AS (
  SELECT o_orderkey, CAST({_ZX} AS BIGINT) AS x,
         CAST({_ZY_DUCK} AS BIGINT) AS y
  FROM orders
),
z AS (
  SELECT o_orderkey, x, y,
         CAST({_z_terms("x", "y", "duckdb")}
              AS BIGINT) AS zval
  FROM b
)
SELECT zval >> {ZBUCKET_SHIFT} AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
       CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
FROM z GROUP BY 1
""",
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over ``(custkey, order-day)``:
    interleave the low 16 bits of each dimension into a 32-bit z-value,
    then report per-z-bucket bounding boxes. Sorting files by this key
    is how a lake makes BOTH ``custkey=…`` and date-range predicates
    skip files from min/max footer stats — a 1-D sort clusters only
    its leading column. The bounding-box output IS the evidence: each
    z-bucket covers a narrow range of both x and y (asserted in
    tests/test_layout.py), exactly what file-skipping needs.

    The interleave is 64 integer shift/mask terms, generated from one
    Python loop and rendered into both dialects — pure BIGINT
    arithmetic, whole-stage-codegen'd, zero UDFs. One shuffle (the
    bucket groupBy) regardless of table size."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        F.expr(_ZX).cast("long").alias("x"),
        F.expr(_ZY_SPARK).cast("long").alias("y"),
    )
    z = b.select(
        "o_orderkey",
        "x",
        "y",
        F.expr(_z_terms("x", "y", "spark")).cast("long").alias("zval"),
    )
    return (
        z.groupBy(F.expr(f"zval >> {ZBUCKET_SHIFT}").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        )
    )


# ---------------------------------------------------------------------------
# Partitioned warehouse write + pruned read
# ---------------------------------------------------------------------------
PRUNE_LO, PRUNE_HI = 340, 342  # 30-day buckets inside the 304..384 data range
MONTH30_US = 30 * DAY_US


@register(
    "sink_partitioned_prune",
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority,
         epoch_us(o_orderdate) // {MONTH30_US} AS day30,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderpriority, day30,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM s
WHERE day30 BETWEEN {PRUNE_LO} AND {PRUNE_HI}
GROUP BY 1, 2
""",
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-partitioned warehouse round-trip: orders written
    ``partitionBy(day30)`` (30-day time buckets), then read back with a
    range predicate on the partition column. Spark turns the predicate
    into PartitionFilters — only 3 of ~80 directories are listed and
    scanned, no data rows from other buckets are ever decoded (plan
    asserted in tests/test_layout.py). This is the layout every 100 TB
    fact table ships with: time-partition dirs + in-file column stats.
    The oracle is the plain filter on raw orders — partitioning changes
    the layout, never the result."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(f"CAST({_DAYNUM_SPARK} AS BIGINT) div 30").alias("day30"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    workdir = tempfile.mkdtemp(prefix="part_prune_")
    try:
        path = os.path.join(workdir, "orders_by_day30")
        o.write.mode("overwrite").partitionBy("day30").parquet(path)
        back = spark.read.parquet(path).filter(
            (F.col("day30") >= PRUNE_LO) & (F.col("day30") <= PRUNE_HI)
        )
        out = back.groupBy("o_orderpriority", "day30").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        # Materialize before the workdir disappears.
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def partitioned_scan_plan(spark: SparkSession, sf_dir: str) -> str:
    """Build the pruned-read plan against a kept-alive tempdir and
    return its formatted explain text (test helper: asserts
    PartitionFilters carry the range predicate)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(f"CAST({_DAYNUM_SPARK} AS BIGINT) div 30").alias("day30"),
    )
    workdir = tempfile.mkdtemp(prefix="part_prune_plan_")
    try:
        path = os.path.join(workdir, "orders_by_day30")
        o.write.mode("overwrite").partitionBy("day30").parquet(path)
        back = spark.read.parquet(path).filter(
            (F.col("day30") >= PRUNE_LO) & (F.col("day30") <= PRUNE_HI)
        )
        df = back.groupBy("o_orderpriority").count()
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage (OOV rate against a top-K vocab)
# ---------------------------------------------------------------------------
VOCAB_K = 400


@register(
    "text_oov_rate",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
g AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
v AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rn FROM g
  ) WHERE rn <= {VOCAB_K}
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM e GROUP BY 1),
oov AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_oov
  FROM e ANTI JOIN v USING (tok)
  GROUP BY 1
)
SELECT tot.doc_id, n_tok,
       CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
       coalesce(n_oov, 0) / n_tok AS oov_rate
FROM tot LEFT JOIN oov USING (doc_id)
""",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage screen: build the corpus top-``VOCAB_K``
    vocabulary (count desc, token asc — deterministic at the cut) and
    report each document's out-of-vocabulary token rate. The go/no-go
    number before freezing a tokenizer: a vocab that OOVs 30% of a
    source mangles that source's training signal.

    The vocab cut is a TakeOrderedAndProject (per-partition top-K +
    K-row merge, never a full dictionary sort); the OOV count is a
    broadcast anti-join of the exploded tokens against the K-row
    vocab — both sides scale: corpus-size shuffle for the counts, a
    K-row broadcast for the membership test. Counts stay BIGINT, one
    final division."""
    docs = load_table(spark, sf_dir, "documents")
    e = fan_out(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        e.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_K)
        .select("tok")
    )
    tot = e.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    oov = (
        e.join(F.broadcast(vocab), "tok", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_oov"))
    )
    return tot.join(oov, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
        (F.coalesce(F.col("n_oov"), F.lit(0)) / F.col("n_tok")).alias("oov_rate"),
    )
