"""Core relational query catalog (SURVEY §2.2–§2.8).

One registered query per operator family, each exercising the engine
operator library on the driver's synthetic tables (FIXTURES.md §2 role
assignment: ``events`` ≅ balance time-series, ``orders``/``lineitem`` ≅
income facts, ``customer→nation→region`` ≅ index dims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.aggregates import exact_money_sum
from stakehouse_etl_spark.operators.joins import (
    anti_join,
    asof_join,
    broadcast_dim,
    latest_per_key,
    left_with_defaults,
    semi_join,
)
from stakehouse_etl_spark.operators.sets import missing_in_sequence, paginate, union_distinct
from stakehouse_etl_spark.operators.windows import (
    cumulative_income,
    spike_filter,
    trailing_delta,
)
from stakehouse_etl_spark.queries.registry import register

MICROS_PER_HOUR = 3_600_000_000


# ---------------------------------------------------------------------------
# W1 — flagship: cumulative income over the event stream
# ---------------------------------------------------------------------------
@register(
    "w1_user_income",
    bench=True,
    oracle="""
WITH l AS (
  SELECT user_id, ts, "value",
         CAST(round(("value" + 0.0 - lag("value") OVER w) * 100) AS BIGINT) AS delta,
         row_number() OVER w - 1 AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), c AS (
  SELECT user_id, ts, "value", n,
         0.0 + coalesce(sum(CASE WHEN delta > 0 THEN delta END) OVER cum, 0) / 100.0 AS earnings,
         0.0 - coalesce(sum(CASE WHEN delta < 0 THEN delta END) OVER cum, 0) / 100.0 AS losses
  FROM l
  WINDOW cum AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, epoch_us(ts) AS ts_us, "value", earnings, losses,
       CAST(n AS DOUBLE) AS epochs_since_active,
       CASE WHEN n > 0
            THEN earnings * 1000000000.0 / n / 24e18 * 82179.45 * 100.0
            ELSE 0.0 END AS apr
FROM c
""",
)
def w1_user_income(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's epoch-income kernel (W1,
    src/validator_income_handler.py:103-133) on the events stream —
    per-user adjacent deltas split into cumulative earnings/losses,
    annualized with the F1 APR formula."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    inc = cumulative_income(
        ev, key="user_id", time="ts", balance="value", stop_at_gap=False,
        money_scale=100,
    )
    return inc.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        "earnings",
        "losses",
        "epochs_since_active",
        "apr",
    )


# ---------------------------------------------------------------------------
# W1+W2 — epoch-grain income with gap truncation
# ---------------------------------------------------------------------------
@register(
    "w2_income_epoch_hourly",
    bench=True,
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
def w2_income_epoch_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: hour-grain balance series per user (max value per hour),
    cumulative income truncated at the first sequence gap — the
    reference's "Backfiller Needed" guard
    (src/validator_income_handler.py:109-111)."""
    ev = load_table(spark, sf_dir, "events")
    # One shuffle, not two: HashPartitioning(user_id) satisfies the
    # hourly groupBy's ClusteredDistribution(user_id, epoch) AND the
    # income windows' partitionBy(user_id), so the explicit
    # repartition replaces both exchanges. (Worth it here because
    # events→hourly dedup gives ~no row reduction, so the map-side
    # partial agg the (user,epoch) exchange would enable buys nothing.)
    balances = (
        ev.repartition("user_id")
        .groupBy(
            "user_id",
            (F.unix_micros("ts") / F.lit(MICROS_PER_HOUR))
            .cast("long")
            .alias("epoch"),
        )
        .agg(F.max("value").alias("balance"))
    )
    inc = cumulative_income(
        balances,
        key="user_id",
        time="epoch",
        balance="balance",
        stop_at_gap=True,
        compute_apr=False,
        money_scale=100,
    )
    return inc.select(
        "user_id", "epoch", "balance", "earnings", "losses", "epochs_since_active"
    )


# ---------------------------------------------------------------------------
# J1 — greatest-n-per-group
# ---------------------------------------------------------------------------
@register(
    "j1_latest_order_per_customer",
    bench=True,
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def j1_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: latest order per customer — the reference's
    (key, MAX(epoch)) self-join (src/validator_income_handler.py:31-34)
    rendered as a single row_number window."""
    orders = load_table(spark, sf_dir, "orders")
    return latest_per_key(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"]
    ).select("o_custkey", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# J2 — multi-way dim join + rollup
# ---------------------------------------------------------------------------
@register(
    "j2_region_acctbal_rollup",
    bench=True,
    oracle="""
SELECT r_name,
       count(*) AS n_customers,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def j2_region_acctbal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J5: three-way dimension join (customer→nation→region, both
    dims broadcast — the reference's nested-subquery join at
    src/api_handler.py:134) + grouped SUM/COUNT."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = broadcast_dim(
        broadcast_dim(
            customer,
            nation.withColumnRenamed("n_nationkey", "c_nationkey"),
            "c_nationkey",
            how="inner",
        ),
        region.withColumnRenamed("r_regionkey", "n_regionkey"),
        "n_regionkey",
        how="inner",
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        exact_money_sum("c_acctbal").alias("sum_acctbal"),
    )


# ---------------------------------------------------------------------------
# J3 — fact-fact composite join + multi-col group
# ---------------------------------------------------------------------------
@register(
    "j3_order_lineitem_agg",
    bench=True,
    oracle="""
SELECT o_orderpriority, l_returnflag,
       count(*) AS n_items,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
       sum(l_quantity) / count(*) AS avg_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <= TIMESTAMP '1998-12-31 23:59:59'
  AND l_quantity < 30
GROUP BY o_orderpriority, l_returnflag
""",
)
def j3_order_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: income ⨝ membership analog — composite equi-join of the two
    fact tables + range predicate (P4) + 2-col GROUP BY (A7)
    (src/index_epoch_apr_handler.py:49)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "inner"
    ).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1998-12-31 23:59:59").cast("timestamp"))
        & (F.col("l_quantity") < 30)
    )
    return joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_money_sum("l_extendedprice").alias("sum_price"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
    )


# ---------------------------------------------------------------------------
# J6 / J7 — anti / semi joins
# ---------------------------------------------------------------------------
_RECENT = "o_orderdate >= TIMESTAMP '2000-01-01'"


@register(
    "j6_customers_inactive",
    oracle=f"""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE {_RECENT})
""",
)
def j6_customers_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: keys lacking state → bootstrap path (the reference's
    set-difference, src/validator_income_handler.py:222-223) as a
    left_anti join."""
    customer = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(customer, recent, "c_custkey").select("c_custkey", "c_name")


@register(
    "j7_customers_active",
    oracle=f"""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE {_RECENT})
""",
)
def j7_customers_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/P8: membership filter (src/validator_withdrawals_handler.py:95)
    as a left_semi join."""
    customer = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return semi_join(customer, recent, "c_custkey").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J9 — as-of join
# ---------------------------------------------------------------------------
@register(
    "j9_asof_last_signup",
    bench=True,
    oracle="""
SELECT e.user_id, epoch_us(e.ts) AS ts_us, e.event_id, e."value",
       s.signup_ts_us, s.signup_event_id
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts, epoch_us(ts) AS signup_ts_us, event_id AS signup_event_id
  FROM events WHERE event_type = 'signup'
) s ON e.user_id = s.user_id AND e.ts >= s.ts
""",
)
def j9_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: as-of join — attach to every event the user's most recent
    signup at-or-before it (the reference's interval index assignment,
    src/index_validator_handler.py:63-96, in point-lookup form).
    Implemented as a union + last(ignorenulls) window: one shuffle,
    no range explosion."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id", "value")
    right = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("signup_ts_us"),
            F.col("event_id").alias("signup_event_id"),
        )
    )
    joined = asof_join(
        left, right, key="user_id", left_time="ts", right_time="ts"
    )
    return joined.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        "signup_ts_us",
        "signup_event_id",
    )


# ---------------------------------------------------------------------------
# J10 — left join with defaults
# ---------------------------------------------------------------------------
@register(
    "j10_customer_order_stats",
    oracle=f"""
SELECT c_custkey,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(sum_totalprice, 0.0) AS sum_totalprice
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_totalprice
  FROM orders WHERE {_RECENT} GROUP BY o_custkey
) s ON c_custkey = o_custkey
""",
)
def j10_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: left join + default fill for unmatched keys (the missing
    threat-monitoring default rows, src/api_handler.py:439-440)."""
    customer = load_table(spark, sf_dir, "customer")
    stats = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_money_sum("o_totalprice").alias("sum_totalprice"),
        )
    )
    return left_with_defaults(
        customer, stats, "c_custkey", {"n_orders": 0, "sum_totalprice": 0.0}
    ).select("c_custkey", "n_orders", "sum_totalprice")


# ---------------------------------------------------------------------------
# A1–A5/A7 — pricing summary (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@register(
    "a1_pricing_summary",
    bench=True,
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS sum_disc_price,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT))
         / 1000000.0 AS sum_charge,
       sum(l_quantity) / count(*) AS avg_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / count(*) AS avg_price,
       count(*) AS count_order,
       max(l_quantity) AS max_qty,
       min(l_quantity) AS min_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A7: the TPC-H Q1 shape — scan-filter-aggregate with map-side
    partial aggregation; money sums via exact integer cents so the
    result is identical at any partitioning/scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        exact_money_sum("l_extendedprice").alias("sum_base_price"),
        (F.sum(F.round(disc * 10000).cast("long")) / 10000.0).alias("sum_disc_price"),
        (F.sum(F.round(charge * 1000000).cast("long")) / 1000000.0).alias("sum_charge"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        (exact_money_sum("l_extendedprice") / F.count(F.lit(1))).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_quantity").alias("min_qty"),
    )


# ---------------------------------------------------------------------------
# A6 — distinct
# ---------------------------------------------------------------------------
@register(
    "a6_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def a6_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: SELECT DISTINCT (src/api_handler.py:102)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# A9 — two-level rollup
# ---------------------------------------------------------------------------
@register(
    "a9_daily_rollup",
    oracle="""
WITH fine AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         sum(CAST(round("value" * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       sum(cents) / 100.0 AS sum_value,
       count(*) AS n_users
FROM fine GROUP BY day
""",
)
def a9_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: two-level rollup — per (user, day) sums rolled up per day
    (the reference's slot→epoch withdrawal rollup,
    src/validator_withdrawals_handler.py:66-103). Integer cents carry
    through both levels; one division at the end."""
    ev = load_table(spark, sf_dir, "events")
    fine = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return fine.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        (F.sum("cents") / 100.0).alias("sum_value"),
        F.count(F.lit(1)).alias("n_users"),
    )


# ---------------------------------------------------------------------------
# A10 — trailing first-last delta
# ---------------------------------------------------------------------------
@register(
    "a10_trailing_delta",
    oracle="""
WITH s AS (
  SELECT user_id, ts, "value",
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events
), t AS (SELECT * FROM s WHERE rn <= 50)
SELECT user_id,
       epoch_us(max(ts)) AS last_ts_us,
       max_by("value", ts) - min_by("value", ts) AS value_delta,
       count(*) AS n_rows
FROM t GROUP BY user_id HAVING count(*) >= 9
""",
)
def a10_trailing_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: newest−oldest over a trailing ≤50-row slice per key, keys
    with <9 rows skipped — the reference's daily APR computation
    (src/apr_sync_handler.py:17-27, LIMIT 1575 / MINIMUM 9)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = trailing_delta(
        ev, key="user_id", time="ts", value="value", window_len=50, min_rows=9
    )
    return out.select(
        "user_id",
        F.unix_micros("last_ts").alias("last_ts_us"),
        "value_delta",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# W3 — spike smoothing
# ---------------------------------------------------------------------------
@register(
    "w3_spike_filter",
    oracle="""
WITH n AS (
  SELECT user_id, ts, "value",
         lag("value") OVER w AS pv,
         lead("value") OVER w AS nv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, epoch_us(ts) AS ts_us, "value"
FROM n
WHERE NOT coalesce(pv IS NOT NULL AND nv IS NOT NULL
           AND abs("value" - pv) / nullif(abs(pv), 0) > 0.1
           AND abs("value" - nv) / nullif(abs(nv), 0) > 0.1, false)
""",
)
def w3_spike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: drop isolated spikes differing >10% from both ordered
    neighbours (intended semantics of
    src/index_epoch_apr_handler.py:86-94; see SURVEY W3 on the
    reference's index-shifting pop bug)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = spike_filter(ev, key="user_id", time="ts", value="value", threshold=0.10)
    return out.select("user_id", F.unix_micros("ts").alias("ts_us"), "value")


# ---------------------------------------------------------------------------
# W4 — top-k leaderboard
# ---------------------------------------------------------------------------
@register(
    "w4_top7_customers",
    oracle="""
SELECT o_custkey,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend
FROM orders GROUP BY o_custkey
ORDER BY total_spend DESC, o_custkey ASC LIMIT 7
""",
)
def w4_top7_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/O1: top-7 leaderboard (src/api_handler.py:304-310) —
    TakeOrderedAndProject (per-task heap), never a full sort."""
    orders = load_table(spark, sf_dir, "orders")
    totals = orders.groupBy("o_custkey").agg(
        exact_money_sum("o_totalprice").alias("total_spend")
    )
    return totals.orderBy(F.desc("total_spend"), F.asc("o_custkey")).limit(7)


# ---------------------------------------------------------------------------
# W5 — per-key trailing slice
# ---------------------------------------------------------------------------
@register(
    "w5_recent_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn AS rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def w5_recent_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: ORDER BY epoch DESC LIMIT n per key (src/api_handler.py:59)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# ---------------------------------------------------------------------------
# O2 — keyset pagination
# ---------------------------------------------------------------------------
@register(
    "o2_pagination",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey > 500
ORDER BY o_orderkey ASC LIMIT 100
""",
)
def o2_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: keyset pagination — cursor predicate + ordered limit
    (src/api_handler.py:250)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return paginate(orders, "o_orderkey", after=500, page_size=100)


# ---------------------------------------------------------------------------
# U1 — union distinct
# ---------------------------------------------------------------------------
@register(
    "u1_union_nations",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def u1_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3: union + dedup (src/utils/subgraph.py:177 list concat +
    set())."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return union_distinct(c, s)


# ---------------------------------------------------------------------------
# U3 — missing-sequence computation
# ---------------------------------------------------------------------------
@register(
    "u3_missing_days",
    oracle="""
SELECT u.user_id, CAST(g.d AS BIGINT) AS day_idx
FROM (SELECT DISTINCT user_id FROM events) u
CROSS JOIN generate_series(0, 29) g(d)
WHERE NOT EXISTS (
  SELECT 1 FROM events e
  WHERE e.user_id = u.user_id
    AND date_diff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) = g.d
)
""",
)
def u3_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: missing-epoch computation — expected sequence minus observed
    (back-fillers/validator-balances-backfiller.py:154) via
    sequence/explode + left_anti."""
    ev = load_table(spark, sf_dir, "events")
    present = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    )
    return missing_in_sequence(present, key="user_id", time="day_idx", lo=0, hi=29)


# ---------------------------------------------------------------------------
# F2–F9 — scalar kernel
# ---------------------------------------------------------------------------
@register(
    "f_scalar_kernel",
    oracle="""
SELECT o_orderkey,
       o_orderkey * 32 - 1 AS epoch_end_slot,
       o_orderkey // 32 AS slot_epoch,
       CASE WHEN o_totalprice < 5000 THEN 2
            WHEN o_totalprice < 10000 THEN 1
            ELSE 0 END AS health_score,
       CASE WHEN o_totalprice > 400000 THEN 'Red'
            WHEN o_totalprice > 250000 THEN 'Amber'
            ELSE 'Green' END AS band,
       lower(o_orderstatus) AS status_lower,
       str_split(o_orderstatus || '-' || o_orderpriority, '-')[1] AS tag_from,
       str_split(o_orderstatus || '-' || o_orderpriority, '-')[2] AS tag_to,
       md5(CAST(o_orderkey AS VARCHAR)) AS key_md5,
       year(o_orderdate) AS order_year,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(o_totalprice / 1000.0, 6) AS price_k
FROM orders
""",
)
def f_scalar_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2–F9 scalar kernel: epoch/slot arithmetic, CASE bands, string
    split/lower/hash, date extraction, unit scaling — all JVM-side
    column expressions (no UDFs), same op sequence as the oracle."""
    from stakehouse_etl_spark.functions.scalars import (
        epoch_end_slot,
        health_score,
        redemption_band,
        split_transfer_from,
        split_transfer_to,
    )

    orders = load_table(spark, sf_dir, "orders")
    tag = F.concat_ws("-", F.col("o_orderstatus"), F.col("o_orderpriority"))
    return orders.select(
        "o_orderkey",
        epoch_end_slot(F.col("o_orderkey")).alias("epoch_end_slot"),
        F.floor(F.col("o_orderkey") / 32).cast("long").alias("slot_epoch"),
        F.when(F.col("o_totalprice") < 5000, 2)
        .when(F.col("o_totalprice") < 10000, 1)
        .otherwise(0)
        .alias("health_score"),
        F.when(F.col("o_totalprice") > 400000, "Red")
        .when(F.col("o_totalprice") > 250000, "Amber")
        .otherwise("Green")
        .alias("band"),
        F.lower("o_orderstatus").alias("status_lower"),
        split_transfer_from(tag).alias("tag_from"),
        split_transfer_to(tag).alias("tag_to"),
        F.md5(F.col("o_orderkey").cast("string")).alias("key_md5"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.col("o_totalprice") / 1000.0, 6).alias("price_k"),
    )
