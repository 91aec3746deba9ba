"""Structured Streaming + incremental-state tests.

Streaming queries are driven with bounded file sources split into
multiple files + maxFilesPerTrigger=1, so state genuinely crosses
micro-batch boundaries.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from stakehouse_etl_spark.operators.windows import cumulative_income
from stakehouse_etl_spark.streaming.incremental import (
    backfill_income,
    clamp_range,
    coupled_high_water_mark,
    high_water_marks,
    incremental_income_run,
)
from stakehouse_etl_spark.streaming.structured import (
    streaming_cumulative_income,
    windowed_event_aggregate,
)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batches(spark, workdir, frames):
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    for i, df in enumerate(frames):
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(workdir, f"tmp{i}"))
        part = [
            f
            for f in os.listdir(os.path.join(workdir, f"tmp{i}"))
            if f.endswith(".parquet")
        ][0]
        dest = os.path.join(src, f"batch{i}.parquet")
        shutil.copy(os.path.join(workdir, f"tmp{i}", part), dest)
        # The file source orders micro-batches by modification time;
        # spread mtimes so trigger order == batch index deterministically.
        base = 1_700_000_000
        os.utime(dest, (base + i * 10, base + i * 10))
    return src


def test_streaming_window_equals_batch(spark, workdir):
    rows = [
        (1, "2024-01-01 00:10:00", "a", 1.5),
        (2, "2024-01-01 00:50:00", "a", 2.0),
        (3, "2024-01-01 01:10:00", "b", 3.0),
        (4, "2024-01-01 02:10:00", "a", 4.25),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = _write_batches(spark, workdir, [df.filter("event_id <= 2"), df.filter("event_id > 2")])

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        windowed_event_aggregate(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_test")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["win_start_us"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("win_test").collect()
    }
    want = {
        (r["win_start_us"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_aggregate(df).collect()
    }
    assert got == want and len(want) == 3


def test_streaming_stateful_income_across_batches(spark, workdir):
    """applyInPandasWithState W1: state must carry across micro-batches
    and the final cumulative values must equal the batch window."""
    rows = [
        (1, "2024-01-01 00:00:01", 10.0),
        (1, "2024-01-01 00:00:02", 12.0),  # +2
        (1, "2024-01-01 00:00:03", 11.0),  # -1
        (1, "2024-01-01 00:00:04", 15.0),  # +4  (arrives in batch 2)
        (2, "2024-01-01 00:00:01", 5.0),
        (2, "2024-01-01 00:00:05", 4.0),  # -1  (batch 2)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    b1 = df.filter(F.col("ts") < "2024-01-01 00:00:04")
    b2 = df.filter(F.col("ts") >= "2024-01-01 00:00:04")
    src = _write_batches(spark, workdir, [b1, b2])

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_cumulative_income(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_test")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table("inc_test").collect()
    # progress info must show >1 micro-batch, else state wasn't exercised
    assert q.lastProgress["batchId"] >= 1
    final = {}
    for r in out:
        if r["user_id"] not in final or r["ts_us"] > final[r["user_id"]]["ts_us"]:
            final[r["user_id"]] = r
    assert final[1]["earnings"] == 6.0 and final[1]["losses"] == 1.0
    assert final[2]["earnings"] == 0.0 and final[2]["losses"] == 1.0
    # equals the batch windowed kernel
    batch = cumulative_income(
        df, key="user_id", time="ts", balance="value", stop_at_gap=False, money_scale=100
    )
    brow = {r["user_id"]: r for r in batch.collect() if r["epochs_since_active"] in (3.0, 1.0)}
    assert brow[1]["earnings"] == 6.0 and brow[2]["losses"] == 1.0


def test_hwm_helpers(spark):
    a = spark.createDataFrame([("k", 5), ("k", 9), ("j", 3)], "bls_key string, epoch long")
    b = spark.createDataFrame([("k", 7)], "bls_key string, epoch long")
    hwm = {r["bls_key"]: r["hwm"] for r in high_water_marks(a).collect()}
    assert hwm == {"k": 9, "j": 3}
    assert coupled_high_water_mark(a, b) == 7
    assert clamp_range(10, 100, 5) == (10, 14)


def test_backfill_repairs_gap(spark, workdir):
    """T4: a hole in the series stalls income at the gap; backfilling
    the missing epoch then re-running produces the full-history result."""
    state_path = os.path.join(workdir, "state")
    income_path = os.path.join(workdir, "income")
    full = spark.createDataFrame(
        [("k", e, 30.0 + e) for e in range(1, 11)],
        "bls_key string, epoch long, balance double",
    )
    holey = full.filter(F.col("epoch") != 5)

    incremental_income_run(spark, holey, state_path, income_path)
    got = spark.read.parquet(income_path)
    assert got.agg(F.max("epoch")).collect()[0][0] == 4  # stalled at the gap

    # repair: replay the deterministic job over the full range
    backfill_income(spark, full, income_path, lo=1, hi=10)
    repaired = spark.read.parquet(income_path)
    want = cumulative_income(full, stop_at_gap=True, compute_apr=True)
    w = {(r["bls_key"], r["epoch"]): (r["earnings"], r["losses"]) for r in want.collect()}
    g = {(r["bls_key"], r["epoch"]): (r["earnings"], r["losses"]) for r in repaired.collect()}
    assert g == w and len(g) == 10


def _wd_panel(spark):
    """Two keys over epochs 1..9 (``b`` from 3) with withdrawals that
    move the cumulative earnings."""
    bal = spark.createDataFrame(
        [("a", e, 32.0 + 0.25 * (e % 4)) for e in range(1, 10)]
        + [("b", e, 31.5 + 0.5 * (e % 3)) for e in range(3, 10)],
        "bls_key string, epoch long, balance double",
    )
    wd = spark.createDataFrame(
        [("a", 2, 0.75), ("a", 5, 1.25), ("b", 4, 0.5), ("a", 8, 0.25), ("b", 9, 2.0)],
        "bls_key string, epoch long, values_withdrawals double",
    )
    return bal, wd


def _income_rows(df):
    return {
        (r["bls_key"], r["epoch"]): (r["earnings"], r["losses"], r["epochs_since_active"])
        for r in df.collect()
    }


def test_incremental_with_withdrawals_equals_batch(spark, workdir):
    """T1/T3: three incremental cuts plus a replay of the last, each
    with the withdrawals known at that cut, give the batch result."""
    bal, wd = _wd_panel(spark)
    state_path = os.path.join(workdir, "state")
    income_path = os.path.join(workdir, "income")
    for cut in (3, 6, 9, 9):
        incremental_income_run(
            spark,
            bal.filter(F.col("epoch") <= cut),
            state_path,
            income_path,
            withdrawals=wd.filter(F.col("epoch") <= cut),
            money_scale=100,
        )
    want = cumulative_income(bal, wd, stop_at_gap=True, money_scale=100)
    got = _income_rows(spark.read.parquet(income_path))
    assert got == _income_rows(want) and len(got) == 16


def test_withdrawals_head_clamps_income_head(spark, workdir):
    """T1 cross-feed clamp (src/validator_income_handler.py:179,201):
    income never passes the slower of the balances and withdrawals
    heads; the next run, with withdrawals caught up, completes it."""
    bal, wd = _wd_panel(spark)
    state_path = os.path.join(workdir, "state")
    income_path = os.path.join(workdir, "income")
    out = incremental_income_run(
        spark, bal, state_path, income_path,
        withdrawals=wd.filter(F.col("epoch") <= 5), money_scale=100,
    )
    assert out.agg(F.max("epoch")).collect()[0][0] == 5
    assert spark.read.parquet(income_path).agg(F.max("epoch")).collect()[0][0] == 5
    incremental_income_run(
        spark, bal, state_path, income_path, withdrawals=wd, money_scale=100
    )
    want = cumulative_income(bal, wd, stop_at_gap=True, money_scale=100)
    assert _income_rows(spark.read.parquet(income_path)) == _income_rows(want)


def test_backfill_with_withdrawals_equals_batch(spark, workdir):
    """T4 over [lo, hi] with withdrawals: the written rows are the batch
    recompute's rows in that range."""
    bal, wd = _wd_panel(spark)
    income_path = os.path.join(workdir, "income")
    backfill_income(spark, bal, income_path, 4, 7, withdrawals=wd, money_scale=100)
    want = cumulative_income(
        bal.filter(F.col("epoch") <= 7), wd, stop_at_gap=False, money_scale=100
    ).filter(F.col("epoch") >= 4)
    got = _income_rows(spark.read.parquet(income_path))
    assert got == _income_rows(want) and len(got) == 8


def test_streaming_watermark_drops_too_late_rows(spark, workdir):
    """T4 late-data contract: a row older than the watermark must not
    mutate a finalized window. Batch 2 advances the watermark to 01:30
    (03:30 − 2h); batch 3 delivers a 00:20 straggler — the [00:00,01:00)
    window is emitted (append mode) with the straggler excluded."""
    schema = "event_id long, ts timestamp, event_type string, value double"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, t, g, v) for i, (t, g, v) in enumerate(rows)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1 = mk([("2024-01-01 00:10:00", "a", 1.5), ("2024-01-01 00:50:00", "a", 2.0)])
    b2 = mk([("2024-01-01 03:30:00", "b", 3.0)])
    # Late-row filtering uses the PREVIOUS batch's watermark (eviction
    # uses the updated one), so the straggler needs one batch between
    # it and the watermark-advancing row to be reliably dropped.
    b3 = mk([("2024-01-01 03:40:00", "b", 4.0)])
    b4 = mk([("2024-01-01 00:20:00", "a", 99.0)])  # too late: 00:20 < 01:30
    src = _write_batches(spark, workdir, [b1, b2, b3, b4])

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        windowed_event_aggregate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", os.path.join(workdir, "ckpt_late"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["win_start_us"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("late_test").collect()
    }
    midnight_us = 1704067200000000  # 2024-01-01 00:00:00 UTC
    assert got == {(midnight_us, "a"): (2, 3.5)}


def test_stream_funnel_final_rows_equal_batch_funnel(spark, sf_dir):
    """The stateful streaming funnel's last emitted row per user must
    equal the batch funnel query (ts_funnel_conversion) — the
    streaming/batch equivalence contract for sequence detection."""
    from stakehouse_etl_spark.queries.analytics2 import ts_funnel_conversion
    from stakehouse_etl_spark.queries.streaming import stream_funnel_stages

    stream_rows = stream_funnel_stages(spark, sf_dir).collect()
    last = {}
    for r in stream_rows:
        key = (r["ts_us"], r["event_id"])
        if r["user_id"] not in last or key > (
            last[r["user_id"]]["ts_us"],
            last[r["user_id"]]["event_id"],
        ):
            last[r["user_id"]] = r
    batch = {r["user_id"]: r for r in ts_funnel_conversion(spark, sf_dir).collect()}
    assert set(last) == set(batch)
    for uid, s in last.items():
        b = batch[uid]
        assert (
            s["first_view_us"],
            s["first_click_us"],
            s["first_purchase_us"],
            s["funnel_stage"],
        ) == (
            b["first_view_us"],
            b["first_click_us"],
            b["first_purchase_us"],
            b["funnel_stage"],
        ), uid
    # Stages only ever advance along the stream.
    per_user = {}
    for r in sorted(stream_rows, key=lambda r: (r["user_id"], r["ts_us"], r["event_id"])):
        prev = per_user.get(r["user_id"], 0)
        assert r["funnel_stage"] >= prev
        per_user[r["user_id"]] = r["funnel_stage"]
