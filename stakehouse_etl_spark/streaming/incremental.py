"""Incremental-batch state management (SURVEY §2.9 T1–T5).

The reference is a micro-batch incremental system: progress ("runner")
tables remember the last processed epoch per key, each run processes a
bounded slice of new epochs, new keys bootstrap from their activation
epoch, and backfills replay the same deterministic job over an explicit
range. This module reproduces those primitives over a Parquet
warehouse:

- T1 watermarks: ``high_water_marks`` / ``coupled_high_water_mark`` —
  per-source progress derived from the data (MAX(epoch) per key) and
  the cross-source clamp (income ≤ min(balances head, withdrawals
  head), reference src/validator_income_handler.py:179).
- T2 bounded catch-up: ``clamp_range`` limits epochs-per-run
  (EPOCHS_PER_VALIDATOR_LIMIT analog).
- T3 bootstrap vs resume: ``incremental_income_run`` splits keys with /
  without state via left_anti and runs ONE windowed job with a per-key
  seed column (no per-key Python).
- T4 backfill: the same run invoked over an explicit epoch range —
  idempotent because of T5.
- T5 exactly-once-ish: idempotent upsert sink (io.sinks.write_upsert),
  deterministic recompute.

The incremental==batch equivalence is the contract:
``incremental_income_run`` applied run-after-run must produce exactly
the state a single full recompute would (tested in
tests/test_incremental.py and by the ``inc_income_3runs`` catalog
query whose oracle is the full-history SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io import sinks
from stakehouse_etl_spark.io.sinks import write_upsert
from stakehouse_etl_spark.operators.windows import cumulative_income

def high_water_marks(df: DataFrame, key: str = "bls_key", time: str = "epoch") -> DataFrame:
    """T1: per-key progress = MAX(time) observed (the reference derives
    watermarks from the data itself, src/extract_handler.py:54-60)."""
    return df.groupBy(key).agg(F.max(time).alias("hwm"))


def coupled_high_water_mark(*dfs: DataFrame, time: str = "epoch") -> int | None:
    """T1 cross-source clamp: the income head cannot pass the slowest
    upstream (min over sources of global MAX(epoch))."""
    heads = []
    for df in dfs:
        row = df.agg(F.max(time).alias("m")).collect()[0]
        if row["m"] is None:
            return None
        heads.append(row["m"])
    return min(heads)


def clamp_range(lo: int, hi: int, max_per_run: int) -> tuple[int, int]:
    """T2: bounded catch-up — process at most ``max_per_run`` steps."""
    return lo, min(hi, lo + max_per_run - 1)


def _write_income(
    spark: SparkSession,
    income: DataFrame,
    income_path: str,
    key: str,
    time: str,
    epochs_per_bucket: int | None,
) -> None:
    """T5: idempotent upsert of income rows — flat, or into the
    epoch-bucket partitioned layout when ``epochs_per_bucket`` is set."""
    if epochs_per_bucket is None:
        write_upsert(spark, income, income_path, keys=[key, time])
    else:
        sinks.write_time_partitioned(
            spark, income, income_path, [key, time], time, epochs_per_bucket
        )


def incremental_income_run(
    spark: SparkSession,
    balances: DataFrame,
    state_path: str,
    income_path: str,
    withdrawals: DataFrame | None = None,
    max_epochs_per_run: int | None = None,
    key: str = "bls_key",
    time: str = "epoch",
    money_scale: int | None = None,
    epochs_per_bucket: int | None = None,
) -> DataFrame:
    """One incremental run: resume seeded keys, bootstrap new keys,
    upsert income rows, advance the runner state. Returns the income
    rows produced by this run.

    The reference does this with one SQS message + Python loop per key
    (src/validator_income_handler.py:214-241); here both populations go
    through the SAME single windowed job — the seed join supplies
    per-key cumulative state where it exists and nulls where it
    doesn't, which is exactly the bootstrap semantics.

    ``epochs_per_bucket``: when set, the income table is written
    epoch-bucket PARTITIONED (``write_time_partitioned``) — each run
    merges and swaps only the buckets its new rows touch, so
    steady-state per-cycle write cost is bounded by the batch's epoch
    span, NOT by table history (the flat default re-merges the whole
    table every run — fine for tests, wrong for a long-lived
    warehouse; the soak pipeline measures the difference).
    """
    state = sinks.read_existing(spark, state_path)

    # T1 clamp at the withdrawals head. Every balances row is at or
    # below the balances head, so this equals the clamp at
    # min(balances head, withdrawals head) without a job over balances.
    work = balances
    if withdrawals is not None:
        head = coupled_high_water_mark(withdrawals, time=time)
        if head is None:
            return balances.limit(0)
        work = work.filter(F.col(time) <= head)
    if max_epochs_per_run is not None and state is not None:
        # T2: clamp each key's slice to max_epochs_per_run beyond its seed.
        work = work.join(state.select(key, "seed_epoch"), on=key, how="left").filter(
            F.col("seed_epoch").isNull()
            | (F.col(time) <= F.col("seed_epoch") + max_epochs_per_run)
        ).drop("seed_epoch")

    income = cumulative_income(
        work,
        withdrawals=withdrawals,
        key=key,
        time=time,
        seed=state,
        stop_at_gap=True,
        money_scale=money_scale,
    )

    income = income.cache()
    try:
        if income.limit(1).count() == 0:
            return income

        _write_income(spark, income, income_path, key, time, epochs_per_bucket)

        # Advance runner state to the last computed row per key (carrying
        # forward untouched keys' state unchanged).
        new_state = (
            income.groupBy(key)
            .agg(
                F.max(time).alias("seed_epoch"),
                F.max_by("earnings", time).alias("seed_earnings"),
                F.max_by("losses", time).alias("seed_losses"),
                F.max_by("epochs_since_active", time).alias("seed_epochs_since_active"),
            )
        )
        write_upsert(spark, new_state, state_path, keys=[key])
    finally:
        income.unpersist()
    return income


def backfill_income(
    spark: SparkSession,
    balances: DataFrame,
    income_path: str,
    lo: int,
    hi: int,
    withdrawals: DataFrame | None = None,
    key: str = "bls_key",
    time: str = "epoch",
    money_scale: int | None = None,
    epochs_per_bucket: int | None = None,
) -> DataFrame:
    """T4: repair = the same deterministic computation over an explicit
    range, upserted idempotently (partition replace). The reference's
    back-fillers replay data_handler over missing epochs
    (back-fillers/validator-balances-backfiller.py:127-189); here the
    cumulative recompute reads full history up to ``hi`` (correctness
    first), writes only [lo, hi].

    ``epochs_per_bucket`` must match the income table's layout: a
    backfill into an epoch-bucket-partitioned warehouse (the
    ``incremental_income_run`` option) rewrites exactly the repaired
    buckets; a flat upsert into a partitioned table would
    schema-mismatch on the partition column."""
    income = cumulative_income(
        balances.filter(F.col(time) <= hi),
        withdrawals=withdrawals,
        key=key,
        time=time,
        stop_at_gap=False,
        money_scale=money_scale,
    ).filter((F.col(time) >= lo) & (F.col(time) <= hi))
    _write_income(spark, income, income_path, key, time, epochs_per_bucket)
    return income
