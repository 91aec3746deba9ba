"""Coverage-completing queries: the P-family predicate kernel, A8
group-collect, F10 JSON, J4 coupled-min, the §3.2 index-APR pipeline
composition, alternate sources, and TPC-H-shaped bench queries.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io import sinks
from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators import skew
from stakehouse_etl_spark.operators.aggregates import exact_money_sum
from stakehouse_etl_spark.queries.registry import register

MICROS_PER_HOUR = 3_600_000_000


# ---------------------------------------------------------------------------
# P1–P7 — the predicate kernel in one query
# ---------------------------------------------------------------------------
@register(
    "p_predicate_kernel",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_returnflag = 'N'
  AND l_linestatus IN ('O', 'F')
  AND l_quantity BETWEEN 10 AND 40
  AND l_extendedprice > 20000
  AND l_discount <> 0.05
  AND l_shipdate IS NOT NULL
""",
)
def p_predicate_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1–P7 composite: projection, equality, IN-list, closed range,
    open comparison, inequality, NULL guard — all pushed into the
    parquet scan (the reference builds these as f-string SQL with a
    1-vs-many special case, e.g. src/api_handler.py:27,44-46,73,250;
    Catalyst makes the quirk vanish)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "N")
        & F.col("l_linestatus").isin("O", "F")
        & F.col("l_quantity").between(10, 40)
        & (F.col("l_extendedprice") > 20000)
        & (F.col("l_discount") != 0.05)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# A8 — sorted group-collect
# ---------------------------------------------------------------------------
@register(
    "a8_group_collect",
    oracle="""
SELECT c_nationkey,
       array_to_string(list_sort(list(c_name)), '|') AS members
FROM customer GROUP BY c_nationkey
""",
)
def a8_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the reference's sort + itertools.groupby stream
    (src/utils/apiUtils.py:56) as grouped collect_list; sorted and
    joined to a string for order-stable cross-engine comparison."""
    from stakehouse_etl_spark.operators.aggregates import group_collect

    c = load_table(spark, sf_dir, "customer")
    return group_collect(c, "c_nationkey", "c_name").select(
        "c_nationkey", F.array_join("c_names", "|").alias("members")
    )


# ---------------------------------------------------------------------------
# F10 — JSON wire format
# ---------------------------------------------------------------------------
@register(
    "f10_json_extract",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
FROM events
""",
)
def f10_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: JSON as wire format (message bodies,
    src/extract_handler.py:98,161) — schema-on-read extraction from the
    props JSON column, JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k"), (k % 10).alias("k_bucket"))


# ---------------------------------------------------------------------------
# J4 — join + scalar MIN coupling
# ---------------------------------------------------------------------------
@register(
    "j4_min_runner_epoch",
    oracle=f"""
WITH runner AS (
  SELECT user_id, max(epoch_us(ts) // {MICROS_PER_HOUR}) AS last_epoch
  FROM events GROUP BY user_id
)
SELECT c_mktsegment AS segment, min(last_epoch) AS min_epoch, count(*) AS n_members
FROM runner
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def j4_min_runner_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: the index pipeline's upper bound — min over a group's
    members of each member's progress marker
    (src/index_epoch_apr_handler.py:56-66): runner ⨝ membership →
    grouped MIN."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    runner = ev.groupBy("user_id").agg(
        F.max((F.unix_micros("ts") / F.lit(MICROS_PER_HOUR)).cast("long")).alias(
            "last_epoch"
        )
    )
    return (
        runner.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")),
            "user_id",
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.min("last_epoch").alias("min_epoch"), F.count(F.lit(1)).alias("n_members"))
    )


# ---------------------------------------------------------------------------
# §3.2 composition — income ⨝ membership → index APR with spike filter
# ---------------------------------------------------------------------------
@register(
    "pipeline_index_apr",
    bench=True,
    oracle=f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {MICROS_PER_HOUR} AS epoch, max("value") AS balance
  FROM events GROUP BY 1, 2
), l AS (
  SELECT user_id, epoch, balance,
         CAST(round((balance + 0.0 - lag(balance) OVER w) * 100) AS BIGINT) AS delta
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch)
), inc AS (
  SELECT user_id, epoch,
         0.0 + coalesce(sum(CASE WHEN delta > 0 THEN delta END) OVER cum, 0) / 100.0 AS earnings,
         0.0 - coalesce(sum(CASE WHEN delta < 0 THEN delta END) OVER cum, 0) / 100.0 AS losses
  FROM l
  WINDOW cum AS (PARTITION BY user_id ORDER BY epoch
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT user_id % 5 AS indexes, epoch,
         sum(CAST(round(earnings * 100) AS BIGINT)) / 100.0 AS earnings,
         sum(CAST(round(losses * 100) AS BIGINT)) / 100.0 AS losses,
         count(*) AS n_validators
  FROM inc GROUP BY 1, 2
), nb AS (
  SELECT *, lag(earnings) OVER w AS pv, lead(earnings) OVER w AS nv
  FROM agg
  WINDOW w AS (PARTITION BY indexes ORDER BY epoch)
)
SELECT indexes, epoch, earnings, losses, n_validators
FROM nb
WHERE NOT coalesce(pv IS NOT NULL AND nv IS NOT NULL
           AND abs(earnings - pv) / nullif(abs(pv), 0) > 0.1
           AND abs(earnings - nv) / nullif(abs(nv), 0) > 0.1, false)
""",
)
def pipeline_index_apr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 end-to-end composition: W1 income per user → membership
    assignment (user_id mod 5 as the index dim) → per-(index, epoch)
    rollup (J3) → W3 spike smoothing — the index-APR pipeline
    (src/index_epoch_apr_handler.py:42-94) on synthetic data, in one
    declarative plan (one shuffle per repartitioning boundary, no
    per-key Python anywhere)."""
    from stakehouse_etl_spark.operators.windows import cumulative_income, spike_filter

    ev = load_table(spark, sf_dir, "events")
    # user_id-only partitioning serves the hourly agg AND the income
    # windows in one exchange (see w2_income_epoch_hourly); the only
    # other shuffle is the unavoidable (indexes, epoch) rollup.
    balances = (
        ev.repartition("user_id")
        .groupBy(
            "user_id",
            (F.unix_micros("ts") / F.lit(MICROS_PER_HOUR)).cast("long").alias("epoch"),
        )
        .agg(F.max("value").alias("balance"))
    )
    inc = cumulative_income(
        balances,
        key="user_id",
        time="epoch",
        balance="balance",
        stop_at_gap=False,
        compute_apr=False,
        money_scale=100,
    )
    agg = (
        inc.withColumn("indexes", F.col("user_id") % 5)
        .groupBy("indexes", "epoch")
        .agg(
            exact_money_sum("earnings").alias("earnings"),
            exact_money_sum("losses").alias("losses"),
            F.count(F.lit(1)).alias("n_validators"),
        )
    )
    return spike_filter(
        agg, key="indexes", time="epoch", value="earnings", threshold=0.10
    ).select("indexes", "epoch", "earnings", "losses", "n_validators")


# ---------------------------------------------------------------------------
# Alternate source formats — JSON/CSV round-trip equivalence
# ---------------------------------------------------------------------------
@register(
    "src_json_roundtrip",
    oracle="""
SELECT event_type, count(*) AS n,
       sum(CAST(round("value" * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY event_type
""",
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format coverage: events → newline-JSON (explicit schema,
    timestamps as micros longs) → read back → aggregate. Result must
    equal the parquet-sourced aggregate: format round-trip changes
    nothing. (JDBC/Delta connectors are environment-gated; JSON/CSV
    exercise the same spark.read plumbing.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type", "value"
    )
    workdir = tempfile.mkdtemp(prefix="json_src_")
    try:
        path = os.path.join(workdir, "events_json")
        ev.write.mode("overwrite").json(path)
        back = spark.read.schema(
            "event_id long, ts_us long, event_type string, value double"
        ).json(path)
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "sum_value"
            ),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# W1 with withdrawal credits — the full reference income formula
# ---------------------------------------------------------------------------
@register(
    "w1_income_with_withdrawals",
    oracle=f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {MICROS_PER_HOUR} AS epoch, max("value") AS balance
  FROM events GROUP BY 1, 2
), wd AS (
  SELECT user_id, epoch_us(ts) // {MICROS_PER_HOUR} AS epoch, min("value") AS wd
  FROM events GROUP BY 1, 2
  HAVING (epoch_us(ts) // {MICROS_PER_HOUR}) % 3 = 0
), l AS (
  SELECT b.user_id, b.epoch, b.balance,
         CAST(round((b.balance + coalesce(w.wd, 0.0) - lag(b.balance)
                     OVER win) * 100) AS BIGINT) AS delta
  FROM b LEFT JOIN wd w ON w.user_id = b.user_id AND w.epoch = b.epoch
  WINDOW win AS (PARTITION BY b.user_id ORDER BY b.epoch)
)
SELECT user_id, epoch, balance,
       0.0 + coalesce(sum(CASE WHEN delta > 0 THEN delta END) OVER cum, 0) / 100.0 AS earnings,
       0.0 - coalesce(sum(CASE WHEN delta < 0 THEN delta END) OVER cum, 0) / 100.0 AS losses
FROM l
WINDOW cum AS (PARTITION BY user_id ORDER BY epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def w1_income_with_withdrawals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 with the withdrawal credit — the FULL reference income step
    ``delta = balance[i] + withdrawal[i] − balance[i−1]``
    (src/validator_income_handler.py:112-128): a withdrawn amount is
    income even though the balance dropped. Withdrawals synthesized as
    the hourly min on every 3rd epoch; left-join credited, F9 default
    zero."""
    from stakehouse_etl_spark.operators.windows import cumulative_income

    ev = load_table(spark, sf_dir, "events")
    epoch = (F.unix_micros("ts") / F.lit(MICROS_PER_HOUR)).cast("long")
    # Both sides partitioned by user_id only: one exchange each, then
    # the (user, epoch) join is co-partitioned on a key subset
    # (SPARK-35703) and the income windows reuse the same layout —
    # three exchanges collapse to two.
    balances = (
        ev.repartition("user_id")
        .groupBy("user_id", epoch.alias("epoch"))
        .agg(F.max("value").alias("balance"))
    )
    wd = (
        ev.repartition("user_id")
        .groupBy("user_id", epoch.alias("epoch"))
        .agg(F.min("value").alias("values_withdrawals"))
        .filter(F.col("epoch") % 3 == 0)
    )
    return cumulative_income(
        balances,
        withdrawals=wd,
        key="user_id",
        time="epoch",
        stop_at_gap=False,
        compute_apr=False,
        money_scale=100,
    ).select("user_id", "epoch", "balance", "earnings", "losses")


# ---------------------------------------------------------------------------
# U2 — multiset difference (exceptAll)
# ---------------------------------------------------------------------------
@register(
    "u2_except_all",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000
""",
)
def u2_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: multiset difference (the reference's set(a) − set(b) is the
    distinct special case, SURVEY U2; exceptAll keeps multiplicities —
    planned as a left-anti-style hash difference, one shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") != "F").select("o_custkey")
    b = o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000)
    ).select("o_custkey")
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# CSV source round-trip
# ---------------------------------------------------------------------------
@register(
    "src_csv_roundtrip",
    oracle="""
SELECT c_mktsegment, count(*) AS n,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS sum_acctbal
FROM customer GROUP BY c_mktsegment
""",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format coverage: customer → CSV with header → read back
    with explicit schema → aggregate; must equal the parquet-sourced
    result (format changes nothing). Exercises the spark.read.csv
    plumbing incl. quoting/escapes on real string columns."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="csv_src_")
    try:
        path = os.path.join(workdir, "customer_csv")
        cust.write.mode("overwrite").option("header", True).csv(path)
        back = spark.read.option("header", True).schema(
            "c_custkey long, c_name string, c_mktsegment string, c_acctbal double"
        ).csv(path)
        out = back.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0).alias(
                "sum_acctbal"
            ),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Skew-mitigation operators (results must equal the unsalted plans)
# ---------------------------------------------------------------------------
@register(
    "skew_salted_join",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def skew_salted_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (operators/skew.py): the hot-key fallback
    for joins AQE can't split (e.g. one orderkey holding a double-digit
    share of rows). Oracle is the PLAIN join — salting must be
    invisible in the result."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = skew.salted_join(li, o, on=["l_orderkey"], n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0).alias(
            "sum_qty"
        ),
    )


@register(
    "skew_two_stage_agg",
    oracle="""
SELECT l_returnflag, count(l_orderkey) AS n,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
)
def skew_two_stage_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage (salt → merge) grouped aggregate for hot group keys;
    sums go through integer cents so the per-salt partial order can't
    introduce float drift. Oracle is the plain one-stage GROUP BY."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_extendedprice",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
    )
    out = skew.two_stage_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": ("l_orderkey", "count"),
            "sum_qty_c": ("qty_c", "sum"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
        n_salts=8,
    )
    return out.select(
        "l_returnflag",
        "n",
        (F.col("sum_qty_c") / 100.0).alias("sum_qty"),
        "min_price",
        "max_price",
    )


# ---------------------------------------------------------------------------
# Bucketed warehouse tables (co-located shuffle-free joins)
# ---------------------------------------------------------------------------
@register(
    "sink_bucketed_join",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def sink_bucketed_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed warehouse tables: lineitem and
    orders are written `bucketBy(8, orderkey)` + sorted, then joined
    bucket-to-bucket — the physical plan has no Exchange on either
    side (asserted in tests/test_skew_warehouse.py). The oracle is the
    plain join: bucketing changes the layout, never the result."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    workdir = tempfile.mkdtemp(prefix="bucketed_")
    try:
        sinks.write_bucketed(
            li, "q_li_bucketed", ["l_orderkey"], 8,
            path=os.path.join(workdir, "li"),
        )
        sinks.write_bucketed(
            o, "q_o_bucketed", ["o_orderkey"], 8,
            path=os.path.join(workdir, "o"),
        )
        a = spark.table("q_li_bucketed")
        b = spark.table("q_o_bucketed")
        out = (
            a.join(b, a.l_orderkey == b.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (
                    F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                    / 100.0
                ).alias("sum_price"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql("DROP TABLE IF EXISTS q_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS q_o_bucketed")
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# ORC source round-trip
# ---------------------------------------------------------------------------
@register(
    "src_orc_roundtrip",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_totalprice
FROM orders GROUP BY o_orderpriority
""",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format coverage: orders → ORC → read back → aggregate;
    must equal the parquet-sourced result. ORC is the second columnar
    format Spark reads natively (vectorized, predicate pushdown), so
    the same warehouse layout works on ORC-resident lakes."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    workdir = tempfile.mkdtemp(prefix="orc_src_")
    try:
        path = os.path.join(workdir, "orders_orc")
        orders.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        out = back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias(
                "sum_totalprice"
            ),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# TPC-H-shaped bench queries
# ---------------------------------------------------------------------------
@register(
    "tpch_q3_shipping_priority",
    bench=True,
    oracle="""
SELECT l_orderkey,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two fact joins → grouped
    revenue → top-10 (TakeOrderedAndProject). The customer filter
    broadcasts; lineitem never shuffles more than once."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(F.round(rev * 10000).cast("long")) / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    bench=True,
    oracle="""
SELECT n_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way join with a region-pruned dim chain;
    every dimension broadcasts, the two fact tables meet in one
    sort-merge/shuffled hash join on orderkey."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(F.round(rev * 10000).cast("long")) / 10000.0).alias("revenue"))
    )


@register(
    "tpch_q4_order_priority",
    bench=True,
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery as a left-semi join
    on the fact table (the P8/J7 pattern at fact scale) feeding a
    grouped count."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q16_supplier_cnt",
    oracle="""
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_size IN (5, 10, 15, 20)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
""",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp emulated via lineitem): excluded-
    supplier anti-join + distinct supplier count per (brand, size)."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(5, 10, 15, 20)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
    pushes to the parquet scan, no shuffle except the final single-row
    partial/final agg. The canonical pushdown litmus test."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return li.agg(
        (F.sum(F.round(rev * 10000).cast("long")) / 10000.0).alias("revenue")
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension table (nation) joined twice
    under different roles with a disjunctive cross-role predicate —
    both roles broadcast; the facts meet in a single orderkey join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(F.round(rev * 10000).cast("long")) / 10000.0).alias("revenue"))
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over a
    quarter, dim attach, top-20. Deterministic tie-break on c_custkey
    so the limit is oracle-stable."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(F.round(rev * 10000).cast("long")) / 10000.0).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q14_promo_effect",
    oracle="""
SELECT 100.0 * (sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                              AS BIGINT) ELSE 0 END) * 1.0)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-06-01'
""",
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio (promo revenue share).
    Both numerator and denominator are exact integer ten-thousandths,
    so the final double division matches the oracle bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (100.0 * F.sum(promo) * 1.0 / F.sum(cents)).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q19_discounted_revenue",
    oracle="""
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
""",
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three-way disjunction mixing fact and dim
    predicates. The shared subterms (brand IN-list, size/quantity
    bounds) still push to the scans; the full disjunction evaluates
    post-join inside codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg((F.sum(F.round(rev * 10000).cast("long")) / 10000.0).alias("revenue"))
    )


@register(
    "a_rollup_region_nation",
    oracle="""
SELECT r_name, n_name, count(*) AS n,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def a_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP: per-(region, nation), per-region subtotals,
    and the grand total in one pass — Spark expands the grouping sets
    before the shuffle, so it's still a single exchange. NULL group
    keys mark the subtotal levels identically in both engines."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0).alias(
                "sum_bal"
            ),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle="""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
           AS volume_c,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
SELECT o_year,
       sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_c ELSE 0 END) * 1.0
         / sum(volume_c) AS mkt_share
FROM base GROUP BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's order volume
    per year — conditional-sum ratio over a two-role nation join.
    Exact integer volumes make the share division drift-free."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume_c.alias("volume_c"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume_c"))
                    .otherwise(F.lit(0))
                )
                * 1.0
                / F.sum("volume_c")
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer join with an extra join-side
    predicate (customers with zero matches count as 0), then a
    histogram of the grouped counts — two aggregations, the second
    over the first's tiny output."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
WITH qc AS (
  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
),
thresh AS (
  SELECT l_partkey, sum(qty_c) * 1.0 / count(*) * 0.2 AS limit_c
  FROM qc GROUP BY l_partkey
)
SELECT sum(price_c) / 100.0 / 7.0 AS avg_yearly
FROM qc JOIN thresh USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND qty_c * 1.0 < limit_c
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (20% of each part's
    average quantity) decorrelated into a grouped threshold join. The
    threshold is computed from exact integer cents with identical
    arithmetic in both engines, so the boundary comparison can't flip
    on float drift."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
    )
    thresh = li.groupBy("l_partkey").agg(
        (F.sum("qty_c") * 1.0 / F.count(F.lit(1)) * 0.2).alias("limit_c")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    return (
        li.join(thresh, "l_partkey")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("qty_c") * 1.0 < F.col("limit_c"))
        .agg((F.sum("price_c") / 100.0 / 7.0).alias("avg_yearly"))
    )


@register(
    "tpch_q22_global_balance_anti",
    oracle="""
WITH cc AS (
  SELECT c_custkey, c_nationkey % 10 AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
),
avg_bal AS (
  SELECT sum(bal_c) * 1.0 / count(*) AS avg_c FROM cc WHERE bal_c > 0
)
SELECT cntrycode, count(*) AS numcust,
       sum(bal_c) / 100.0 AS totacctbal
FROM cc, avg_bal
WHERE bal_c * 1.0 > avg_c
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
""",
)
def tpch_q22_global_balance_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar threshold (average positive
    balance, exact integer cents broadcast via cross join) +
    anti-join against urgent orders, grouped by a derived country
    code — 'rich customers with no urgent orders'."""
    cc = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_nationkey") % 10).alias("cntrycode"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    avg_bal = cc.filter(F.col("bal_c") > 0).agg(
        (F.sum("bal_c") * 1.0 / F.count(F.lit(1))).alias("avg_c")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cc.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_c") * 1.0 > F.col("avg_c"))
        .join(o, "c_custkey", "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c") / 100.0).alias("totacctbal"),
        )
    )


@register(
    "tpch_q18_large_orders",
    bench=True,
    oracle="""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: grouped HAVING over the fact table feeding a
    semi-join-like reduction, then dim attach and top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
