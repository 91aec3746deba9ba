"""Operator-library unit tests on small hand-built frames."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from stakehouse_etl_spark.operators.aggregates import two_level_rollup
from stakehouse_etl_spark.operators.joins import (
    anti_join,
    asof_join,
    assign_intervals_to_timeline,
    intervals_from_events,
    latest_per_key,
    range_join,
    semi_join,
)
from stakehouse_etl_spark.operators.sets import missing_in_sequence, paginate
from stakehouse_etl_spark.operators.windows import (
    cumulative_income,
    spike_filter,
    top_k_per_group,
    trailing_delta,
    truncate_at_gap,
)


def rows(df, *cols):
    out = df.select(*cols).collect()
    return sorted(tuple(r) for r in out)


# ---------------------------------------------------------------- W1/W2
def test_cumulative_income_basic(spark):
    bal = spark.createDataFrame(
        [("k", 1, 32.0), ("k", 2, 33.0), ("k", 3, 31.5), ("k", 4, 34.0)],
        "bls_key string, epoch long, balance double",
    )
    out = {
        r["epoch"]: r
        for r in cumulative_income(bal, stop_at_gap=True, compute_apr=False).collect()
    }
    assert out[1]["earnings"] == 0.0 and out[1]["losses"] == 0.0
    assert out[2]["earnings"] == 1.0
    assert out[3]["losses"] == 1.5
    assert out[4]["earnings"] == pytest.approx(3.5)
    assert out[4]["epochs_since_active"] == 3.0


def test_cumulative_income_withdrawal_addback(spark):
    # balance drops by 2 but 2 was withdrawn → delta 0, no loss
    bal = spark.createDataFrame(
        [("k", 1, 32.0), ("k", 2, 30.0)], "bls_key string, epoch long, balance double"
    )
    wd = spark.createDataFrame(
        [("k", 2, 2.0, "0xr")],
        "bls_key string, epoch long, values_withdrawals double, withdrawal_recipient string",
    )
    out = cumulative_income(bal, withdrawals=wd, compute_apr=False).collect()
    last = max(out, key=lambda r: r["epoch"])
    assert last["earnings"] == 0.0 and last["losses"] == 0.0


def test_cumulative_income_gap_guard(spark):
    bal = spark.createDataFrame(
        [("k", 1, 32.0), ("k", 2, 33.0), ("k", 5, 40.0)],
        "bls_key string, epoch long, balance double",
    )
    out = cumulative_income(bal, stop_at_gap=True, compute_apr=False).collect()
    assert {r["epoch"] for r in out} == {1, 2}  # epoch 5 is beyond the gap


def test_cumulative_income_seeded_resume_equals_full(spark):
    """T3: resume-from-seed must equal full recompute — the incremental
    contract (src/validator_income_handler.py:103-107)."""
    data = [("k", e, 32.0 + (e % 5) - (2 if e % 7 == 0 else 0)) for e in range(1, 40)]
    bal = spark.createDataFrame(data, "bls_key string, epoch long, balance double")
    full = cumulative_income(bal, compute_apr=False)
    cut = 20
    state = full.filter(F.col("epoch") == cut).select(
        "bls_key",
        F.col("epoch").alias("seed_epoch"),
        F.col("earnings").alias("seed_earnings"),
        F.col("losses").alias("seed_losses"),
        F.col("epochs_since_active").alias("seed_epochs_since_active"),
    )
    resumed = cumulative_income(
        bal.filter(F.col("epoch") >= cut),  # incremental read includes seed row
        seed=state,
        compute_apr=False,
    )
    want = rows(full.filter(F.col("epoch") > cut), "epoch", "earnings", "losses", "epochs_since_active")
    got = rows(resumed, "epoch", "earnings", "losses", "epochs_since_active")
    assert got == want


def test_cumulative_income_bootstrap_from_activation_epoch(spark):
    """W1 bootstrap (src/validator_income_handler.py:141): a new key's
    ``epochs_since_active`` starts at ``first_epoch − activation_epoch``;
    a key with no activation row starts at 0."""
    bal = spark.createDataFrame(
        [("a", 10, 32.0), ("a", 11, 32.5), ("a", 12, 32.25),
         ("b", 3, 32.0), ("b", 4, 31.75)],
        "bls_key string, epoch long, balance double",
    )
    act = spark.createDataFrame([("a", 4)], "bls_key string, activation_epoch long")
    out = cumulative_income(bal, activation_epochs=act, compute_apr=False)
    assert rows(out, "bls_key", "epoch", "epochs_since_active") == [
        ("a", 10, 6.0), ("a", 11, 7.0), ("a", 12, 8.0), ("b", 3, 0.0), ("b", 4, 1.0),
    ]


def test_truncate_at_gap(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 4), ("a", 5), ("b", 7), ("b", 8)],
        "bls_key string, epoch long",
    )
    out = rows(truncate_at_gap(df), "bls_key", "epoch")
    assert out == [("a", 1), ("a", 2), ("b", 7), ("b", 8)]


# ---------------------------------------------------------------- W3-W5
def test_spike_filter_drops_isolated_spike(spark):
    df = spark.createDataFrame(
        [(1, 1, 100.0), (1, 2, 200.0), (1, 3, 101.0), (1, 4, 102.0)],
        "indexes long, epoch long, apr double",
    )
    out = rows(spike_filter(df), "epoch")
    assert (2,) not in out and len(out) == 3


def test_spike_filter_keeps_level_shift(spark):
    df = spark.createDataFrame(
        [(1, 1, 100.0), (1, 2, 200.0), (1, 3, 201.0)],
        "indexes long, epoch long, apr double",
    )
    assert len(spike_filter(df).collect()) == 3


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)] + [("b", 1, 5.0)],
        "k string, epoch long, v double",
    )
    out = top_k_per_group(df, "k", "epoch", 3)
    assert rows(out.filter(F.col("k") == "a"), "epoch") == [(7,), (8,), (9,)]
    assert out.filter(F.col("k") == "b").count() == 1


def test_trailing_delta(spark):
    df = spark.createDataFrame(
        [("k", e, float(e * 10)) for e in range(1, 21)],
        "bls_key string, epoch long, earnings double",
    )
    out = trailing_delta(df, window_len=5, min_rows=3).collect()
    assert len(out) == 1
    # slice = epochs 16..20, newest 200 − oldest 160
    assert out[0]["earnings_delta"] == 40.0
    df2 = spark.createDataFrame(
        [("k", 1, 1.0), ("k", 2, 2.0)], "bls_key string, epoch long, earnings double"
    )
    assert trailing_delta(df2, window_len=5, min_rows=3).count() == 0


# ---------------------------------------------------------------- joins
def test_latest_per_key_ties(spark):
    df = spark.createDataFrame(
        [("k", 1, "x"), ("k", 1, "y"), ("k", 0, "z")], "k string, t long, id string"
    )
    out = latest_per_key(df, "k", ["t", "id"]).collect()
    assert len(out) == 1 and out[0]["id"] == "y"


def test_anti_semi(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    right = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    assert rows(anti_join(left, right, "k"), "k") == [(1,)]
    assert rows(semi_join(left, right, "k"), "k") == [(2,), (3,)]


def test_asof_backward(spark):
    left = spark.createDataFrame(
        [("u", 5, "e1"), ("u", 15, "e2"), ("u", 25, "e3")], "k string, t long, id string"
    )
    right = spark.createDataFrame(
        [("u", 10, "s1"), ("u", 20, "s2")], "k string, t long, sid string"
    )
    out = {r["id"]: r["sid"] for r in asof_join(left, right, "k", "t", "t").collect()}
    assert out == {"e1": None, "e2": "s1", "e3": "s2"}


def test_asof_same_instant_matches(spark):
    left = spark.createDataFrame([("u", 10, "e")], "k string, t long, id string")
    right = spark.createDataFrame([("u", 10, "s")], "k string, t long, sid string")
    out = asof_join(left, right, "k", "t", "t").collect()
    assert out[0]["sid"] == "s"


def test_intervals_and_timeline(spark):
    """J9 end-to-end: transfer events → per-epoch index assignment."""
    events = spark.createDataFrame(
        [("k", 10, 1), ("k", 13, 2), ("k", 17, 3)],
        "bls_key string, block_number long, to_index long",
    )
    iv = intervals_from_events(events, order_col="block_number", value_col="to_index")
    tl = assign_intervals_to_timeline(
        iv, 8, 19, start_col="valid_from", end_col="valid_to", time_name="epoch"
    )
    got = {r["epoch"]: r["to_index"] for r in tl.collect()}
    # before first event: nothing; [10,13)→1, [13,17)→2, [17,∞)→3 clamped at 19
    assert got == {10: 1, 11: 1, 12: 1, 13: 2, 14: 2, 15: 2, 16: 2, 17: 3, 18: 3, 19: 3}


def test_range_join_bucketed_equals_naive(spark):
    points = spark.createDataFrame([(i,) for i in range(0, 100, 7)], "p long")
    ranges = spark.createDataFrame(
        [(0, 10, "a"), (5, 40, "b"), (90, 99, "c")], "lo long, hi long, tag string"
    )
    naive = rows(range_join(points, ranges, "p", "lo", "hi"), "p", "tag")
    bucketed = rows(range_join(points, ranges, "p", "lo", "hi", bucket_width=8), "p", "tag")
    assert naive == bucketed and len(naive) > 0


# ---------------------------------------------------------------- aggs/sets
def test_two_level_rollup(spark):
    df = spark.createDataFrame(
        [(1, 100, 5), (1, 100, 7), (1, 101, 1), (2, 100, 2)],
        "validator long, slot long, amount long",
    )
    out = two_level_rollup(
        df, ["validator", "slot"], ["validator"], "amount"
    ).collect()
    got = {r["validator"]: r["sum_amount"] for r in out}
    assert got == {1: 13, 2: 2}


def test_missing_in_sequence(spark):
    df = spark.createDataFrame(
        [("k", 1), ("k", 2), ("k", 4)], "bls_key string, epoch long"
    )
    out = rows(missing_in_sequence(df, "bls_key", "epoch", 1, 5), "epoch")
    assert out == [(3,), (5,)]


def test_paginate(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "c long")
    out = [r["c"] for r in paginate(df, "c", after=10, page_size=5).collect()]
    assert out == [11, 12, 13, 14, 15]


def test_asof_join_null_right_values_no_chimera(spark):
    """A right row with NULL fields is still THE as-of row (no
    skipping to an older non-null one, no stitching columns from
    different right rows) — merge_asof semantics."""
    from stakehouse_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame([("k", 6), ("k", 4)], "k string, t long")
    right = spark.createDataFrame(
        [("k", 3, 9, 2), ("k", 5, 1, None)],
        "k string, rt long, a long, b long",
    )
    out = {
        r.t: (r.a, r.b)
        for r in asof_join(
            left, right, key="k", left_time="t", right_time="rt"
        ).collect()
    }
    # t=6: latest right row is rt=5 -> (1, NULL), NOT (1, 2) chimera
    assert out[6] == (1, None)
    # t=4: rt=3 -> (9, 2)
    assert out[4] == (9, 2)


def test_asof_join_matches_naive_reference(spark):
    """Property-style check vs a naive per-key Python as-of, including
    duplicate right timestamps (deterministic max-struct winner) and
    left times before any right row (NULL attach)."""
    import random

    from stakehouse_etl_spark.operators.joins import asof_join

    rng = random.Random(13)
    keys = ["a", "b", "c"]
    right_rows = [
        (k, rng.randint(0, 20), rng.randint(0, 9), rng.randint(0, 9))
        for k in keys
        for _ in range(12)
    ]
    left_rows = [(k, rng.randint(0, 25)) for k in keys for _ in range(15)]
    # force duplicate right timestamps
    right_rows += [("a", 5, 1, 1), ("a", 5, 3, 0), ("a", 5, 3, 2)]

    left = spark.createDataFrame(left_rows, "k string, t long")
    right = spark.createDataFrame(right_rows, "k string, rt long, a long, b long")

    got = sorted(
        (r.k, r.t, r.a, r.b)
        for r in asof_join(
            left, right, key="k", left_time="t", right_time="rt"
        ).collect()
    )

    expect = []
    for k, t in left_rows:
        cands = [(rt, a, b) for (rk, rt, a, b) in right_rows if rk == k and rt <= t]
        if cands:
            rt, a, b = max(cands)  # max (time, struct) = the tiebreak rule
            expect.append((k, t, a, b))
        else:
            expect.append((k, t, None, None))
    assert got == sorted(expect)


def test_connected_components_fails_loud_on_iteration_exhaustion(spark):
    """A max_iter too small for the graph's diameter must raise, not
    return silently under-merged components."""
    import pytest

    from stakehouse_etl_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a long, b long"
    )
    # a 40-edge chain needs ~log2(40) ≈ 6 pointer-jumping passes
    # (driver_max_edges=None forces the distributed loop under test)
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(
            chain, src="a", dst="b", max_iter=2, driver_max_edges=None
        )
    # and with enough passes it resolves to one component
    comp = connected_components(
        chain, src="a", dst="b", max_iter=20, driver_max_edges=None
    )
    assert comp.select("component").distinct().count() == 1


def test_connected_components_driver_distributed_parity(spark):
    """The size-gated driver union-find fast path and the distributed
    pointer-jumping loop must label identically — chains (deep), stars
    (wide), reversed/duplicate edges, and a singleton pair."""
    from stakehouse_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(15)]          # chain 0..15
        + [(100, 100 + i) for i in range(1, 8)]  # star at 100
        + [(201, 200), (200, 201), (201, 200)]   # dup + reversed
        + [(300, 301)],
        "a long, b long",
    )
    fast = {
        (r.node, r.component)
        for r in connected_components(edges, src="a", dst="b").collect()
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(
            edges, src="a", dst="b", driver_max_edges=None
        ).collect()
    }
    assert fast == dist
    assert {c for _, c in fast} == {0, 100, 200, 300}
