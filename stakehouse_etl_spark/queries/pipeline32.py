"""Data-pipeline queries, wave 32: serving hygiene and warehouse
conformance patterns.

- parameterized SQL binding (the injection-safe form of the
  reference's f-string-interpolated predicates)
- masked governance view (column masking + row filter)
- deterministic surrogate keys (vs monotonically_increasing_id)
- late-arriving dimension with inferred members
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table, register_views
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Parameterized SQL binding
# ---------------------------------------------------------------------------
@register(
    "sql_param_binding",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
GROUP BY o_orderpriority
""",
)
def sql_param_binding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference builds every predicate by f-string interpolation
    (``src/api_handler.py:19-270`` — user input spliced into SQL, the
    injection-shaped pattern SURVEY §2.2 notes). This engine's serving
    path uses PARAMETERIZED SQL instead: ``spark.sql(text, args)``
    with named markers — values travel as typed literals through the
    analyzer, never through string concatenation, so a hostile
    ``status`` value cannot alter the query shape. The oracle holds
    the equivalent constant-folded text; results must match exactly.
    Same plan as the inlined form (markers fold to literals before
    optimization — pushdown still happens)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "O", "min_price": 150000.0},
    )


# ---------------------------------------------------------------------------
# Masked governance view
# ---------------------------------------------------------------------------
@register(
    "sec_masked_view",
    oracle="""
SELECT c_custkey,
       md5(c_name) AS name_masked,
       substr(c_name, 1, 9) || '#****' AS name_redacted,
       CASE WHEN c_acctbal < 0 THEN 'NEGATIVE' ELSE 'NON-NEGATIVE' END
         AS bal_band
FROM customer
WHERE c_mktsegment = 'BUILDING'
""",
)
def sec_masked_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column masking + row filtering as a GOVERNANCE VIEW — the shape
    a warehouse exposes to a less-privileged consumer: direct
    identifiers are one-way hashed (name) or partially redacted
    (the redacted name keeps the stable 'Customer#' prefix for joins
    and debugging, masks the identifying digits), quantitative PII collapses to coarse bands,
    and the row filter scopes the view to one tenant/segment. Pure
    projection + filter — the masked view costs nothing at 100 TB and
    composes under every downstream query; pairs with the corpus-side
    ``text_pii_redact`` and the export-side ``dq_k_anonymity``."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_masked"),
        F.concat(
            F.substring(F.col("c_name"), 1, 9), F.lit("#****")
        ).alias("name_redacted"),
        F.when(F.col("c_acctbal") < 0, "NEGATIVE")
        .otherwise("NON-NEGATIVE")
        .alias("bal_band"),
    )


# ---------------------------------------------------------------------------
# Deterministic surrogate keys
# ---------------------------------------------------------------------------
@register(
    "k8_surrogate_keys",
    oracle="""
SELECT c_custkey AS natural_key,
       CAST(row_number() OVER (ORDER BY c_mktsegment, c_custkey) AS BIGINT)
         AS surrogate_id
FROM customer
""",
)
def k8_surrogate_keys_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 1..N surrogate-key assignment, DETERMINISTIC: ids
    follow the total (segment, natural key) order via the engine's
    two-phase chunked rank — re-running the job reassigns identical
    ids. The tempting alternative, ``monotonically_increasing_id()``,
    is partition-layout-dependent (ids change with file splits and
    parallelism — poison for a dimension key that other tables will
    reference); ``zipWithIndex`` forces an RDD round-trip. The oracle
    is the textbook single-partition ``row_number`` — same values,
    but this plan never funnels the table through one task."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # two-phase rank over the composite (segment, key) order. A string
    # concat value would be near-UNIQUE, putting the decomposition's
    # distinct-value prefix back on one partition (r4 audit) — so the
    # composite order is packed into one INTEGRAL value instead:
    # segment index (from the 5-row distinct-segment table — metadata
    # window) in the high bits, natural key below. Integral values
    # ride the fully chunked (A) prefix.
    from pyspark.sql import Window

    segs = c.select("c_mktsegment").distinct()
    seg_idx = segs.withColumn(
        "__seg_idx",
        F.row_number().over(Window.orderBy("c_mktsegment")).cast("long"),
    )
    cc = c.join(F.broadcast(seg_idx), "c_mktsegment").withColumn(
        "__ordv",
        F.col("__seg_idx") * F.lit(1 << 40) + F.col("c_custkey"),
    )
    ranked = skew_resistant_rank(
        cc,
        "__ordv",
        "c_custkey",
        out="surrogate_id",
        descending=False,
    )
    return ranked.select(
        F.col("c_custkey").alias("natural_key"),
        F.col("surrogate_id").cast("long").alias("surrogate_id"),
    )


# ---------------------------------------------------------------------------
# Late-arriving dimension (inferred members)
# ---------------------------------------------------------------------------
@register(
    "j23_late_dim_inferred",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 <> 0
),
j AS (
  SELECT o.o_orderkey, o.o_custkey,
         coalesce(d.c_mktsegment, 'UNKNOWN') AS segment,
         (d.c_custkey IS NULL) AS inferred
  FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
)
SELECT segment, inferred,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_members
FROM j GROUP BY 1, 2
""",
)
def j23_late_dim_inferred_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-arriving facts / LATE-ARRIVING DIMENSION: facts reference
    members the dimension hasn't loaded yet (simulated by dropping
    every 10th customer from the dim). The warehouse answer is the
    INFERRED MEMBER: the fact keeps flowing, joined to a placeholder
    ('UNKNOWN') carrying an ``inferred`` flag, and the count of
    inferred members per segment is the backlog the dim loader must
    resolve (the upsert sink then overwrites placeholders in place —
    K1's newest-wins merge is exactly the resolution mechanism).
    Dropping such facts silently (inner join) or stalling the
    pipeline are both wrong at 100 TB; the left-join-with-flag is the
    standard conformance pattern."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 != 0)
        .select("c_custkey", "c_mktsegment")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = o.join(dim, o["o_custkey"] == dim["c_custkey"], "left").select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        F.col("c_custkey").isNull().alias("inferred"),
    )
    return j.groupBy("segment", "inferred").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_members"),
    )
