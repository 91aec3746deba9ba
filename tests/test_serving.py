"""Serving-layer endpoint tests (SURVEY §3.3) on hand-built
reference-schema frames — semantics spot-checked against hand-computed
expectations (the operator kernels underneath are oracle-checked in the
catalog; these verify the endpoint compositions)."""

from __future__ import annotations

import pytest

from stakehouse_etl_spark.plans import serving


@pytest.fixture(scope="module")
def tables(spark):
    income = spark.createDataFrame(
        [
            # bls_key, epoch, balance, earnings, losses, apr, epochs_since_active
            ("a", 1, 32.0e9, 1.0e9, 0.0, 5.0, 1.0),
            ("a", 2, 32.1e9, 2.0e9, 0.0, 6.0, 2.0),
            ("a", 3, 31.9e9, 2.0e9, 0.2e9, 4.0, 3.0),
            ("b", 1, 31.5e9, 0.5e9, 0.0, 3.0, 1.0),
            ("b", 2, 31.6e9, 1.5e9, 0.0, 7.0, 2.0),
            ("c", 9, 30.0e9, 9.0e9, 1.0e9, 9.0, 9.0),
        ],
        "bls_key string, epoch long, balance double, earnings double, "
        "losses double, apr double, epochs_since_active double",
    )
    membership = spark.createDataFrame(
        [("a", 1, 10), ("a", 3, 20), ("b", 1, 10), ("b", 2, 10), ("c", 9, 30)],
        "bls_key string, epoch long, indexes long",
    )
    earnings_interface = spark.createDataFrame(
        [("a", 2.0e9, 0.2e9), ("b", 1.5e9, 0.0)],
        "bls_key string, earnings double, losses double",
    )
    threat = spark.createDataFrame(
        [("a", 0.9, 0.5, 24.0)],
        "bls_key string, dETHBacking double, samePosition double, dETHBalance double",
    )
    slot_wd = spark.createDataFrame(
        [(5, 100, 7, 1), (5, 132, 9, 2), (5, 164, 11, 3), (6, 100, 1, 4)],
        "validator long, slot long, amount long, withdrawal_index long",
    )
    return income, membership, earnings_interface, threat, slot_wd


def test_validator_epoch_apr_slice(spark, tables):
    income = tables[0]
    out = serving.validator_epoch_apr(income, "a", 2).collect()
    assert [r.epoch for r in out] == [3, 2]


def test_index_validators_uses_latest_membership(spark, tables):
    membership = tables[1]
    # 'a' moved from index 10 (epoch 1) to 20 (epoch 3): current members
    # of 10 are only 'b'.
    assert [r.bls_key for r in serving.index_validators(membership, 10).collect()] == ["b"]
    assert [r.bls_key for r in serving.index_validators(membership, 20).collect()] == ["a"]


def test_deth_earned_index(spark, tables):
    income, membership = tables[0], tables[1]
    # index 10 latest members = {b}; b's latest earnings = 1.5e9 gwei = 1.5 ETH
    out = serving.deth_earned_index(income, membership, 10).collect()[0]
    assert out.deth_earned == pytest.approx(1.5)


def test_indexes_apr_grouped(spark, tables):
    income, membership = tables[0], tables[1]
    out = {
        r.indexes: r
        for r in serving.indexes_apr_grouped(income, membership, [10, 20, 30]).collect()
    }
    assert out[20].n_validators == 1 and out[20].apr == pytest.approx(4.0)
    assert out[10].earnings == pytest.approx(1.5e9)
    assert out[30].apr == pytest.approx(9.0)


def test_user_apr_by_epoch(spark, tables):
    income = tables[0]
    out = {r.epoch: r.apr for r in serving.user_apr_by_epoch(income, ["a", "b"], 2).collect()}
    # a keeps epochs {2,3}, b keeps {1,2} → epoch 2 avg(6,7)=6.5
    assert out[2] == pytest.approx(6.5)
    assert out[3] == pytest.approx(4.0)
    assert out[1] == pytest.approx(3.0)


def test_threat_defaults(spark, tables):
    threat = tables[3]
    keys = spark.createDataFrame([("a",), ("zz",)], "bls_key string")
    out = {r.bls_key: r for r in serving.threat_with_defaults(threat, keys).collect()}
    assert out["a"].dETHBacking == pytest.approx(0.9)
    assert (out["zz"].dETHBacking, out["zz"].samePosition, out["zz"].dETHBalance) == (1.0, 1.0, 1.0)


def test_slot_withdrawals_pagination_and_bounds(spark, tables):
    wd = tables[4]
    page = serving.slot_withdrawals_page(wd, 5, 1, 2).collect()
    assert [r.withdrawal_index for r in page] == [2, 3]
    rng = serving.slot_withdrawals_range(wd, 5, 100, 140).collect()
    assert sorted(r.slot for r in rng) == [100, 132]
    bounds = serving.slot_withdrawal_bounds(wd, 5).collect()[0]
    assert (bounds.slot_lower, bounds.slot_upper) == (100, 164)


def test_lsd_score_bands(spark, tables):
    income = tables[0]
    out = {r.bls_key: r.score for r in serving.validator_lsd_score(income, ["a", "b", "c"]).collect()}
    # latest balances: a=31.9e9 → 1, b=31.6e9 → 2, c=30.0e9 → 2
    assert out == {"a": 1, "b": 2, "c": 2}


def test_user_income_composition(spark, tables):
    income, _, earn, threat, _ = tables
    out = {r.bls_key: r for r in serving.user_income(income, earn, threat, ["a", "b"], epochs=2).collect()}
    assert out["a"].earnings == pytest.approx(2.0e9)
    assert out["b"].dETHBacking == 1.0  # defaulted
    # avg over per-epoch avgs: epochs {1: 3.0, 2: 6.5, 3: 4.0} → 4.5
    assert out["a"].avg_apr == pytest.approx(4.5)


def test_top_indexes(spark):
    sess = spark
    daily = sess.createDataFrame(
        [("a", 1.0, 0.1, 5.0), ("b", 2.0, 0.0, 7.0), ("c", 4.0, 0.5, 1.0)],
        "bls_key string, earnings double, losses double, apr double",
    )
    imap = sess.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "bls_key string, savETHIndex long"
    )
    boards = serving.top_indexes(daily, imap, k=1)
    assert boards["top_earnings"].collect()[0].savETHIndex == 2
    assert boards["top_apr"].collect()[0].savETHIndex == 1


def test_index_redemption_rate(spark, tables):
    income, membership = tables[0], tables[1]
    out = serving.index_redemption_rate(membership, income, 10).collect()[0]
    # members of 10 = {b}: n=1, deth=1.5e9 → (24e9+1.5e9)/8e9 = 3.1875
    assert out.n == 1
    assert out.redemption_rate == pytest.approx(25.5e9 / 8e9)
    assert out.band == "Red"


def test_index_redemption_rate_slashing_and_topups(spark, tables):
    """F6 with the slashing/top-up dims: the denominator is
    ``8e9·n − max(0, slashing − topups)`` over the index's members
    (src/api_handler.py:480,498-502)."""
    income, membership = tables[0], tables[1]
    slashing = spark.createDataFrame(
        [("a", 0.1e9), ("b", 0.5e9), ("c", 4.0e9)], "bls_key string, amount double"
    )
    topups = spark.createDataFrame(
        [("a", 0.3e9), ("b", 0.2e9)], "bls_key string, amount double"
    )
    # index 10 = {b}: deth 1.5e9, slashing 0.5e9 − topups 0.2e9 = 0.3e9
    out = serving.index_redemption_rate(membership, income, 10, slashing, topups)
    assert out.collect()[0].redemption_rate == pytest.approx(25.5e9 / 7.7e9)
    # index 20 = {a}: topups exceed slashing, so nothing is subtracted
    out = serving.index_redemption_rate(membership, income, 20, slashing, topups)
    assert out.collect()[0].redemption_rate == pytest.approx(26.0e9 / 8e9)


def test_index_names_merged(spark):
    solo = spark.createDataFrame(
        [(1, "solo-1"), (2, "solo-2"), (3, "solo-3")], "indexes long, name string"
    )
    stakers = spark.createDataFrame(
        [(1, "stk-1"), (2, "stk-2")], "indexes long, name string"
    )
    liquid = spark.createDataFrame([(2,)], "indexes long")
    out = {
        r["indexes"]: r["name"]
        for r in serving.index_names_merged(solo, stakers, liquid).collect()
    }
    # liquid index 2 takes the staker name; others keep the solo name
    assert out == {1: "solo-1", 2: "stk-2", 3: "solo-3"}


def test_index_leaderboard_flags_and_keys(spark, tables):
    income, membership, earnings_interface, threat, slot_wd = tables
    index_apr = spark.createDataFrame(
        [(10, 1, 5.0, 1.0, 0.0), (10, 2, 6.0, 2.0, 0.0), (30, 9, 9.0, 3.0, 0.1)],
        "indexes long, epoch long, apr double, earnings double, losses double",
    )
    validator_indexes = spark.createDataFrame([(30,)], "indexes long")
    rows = {
        r["indexes"]: r
        for r in serving.index_leaderboard(
            index_apr, membership, validator_indexes
        ).collect()
    }
    assert rows[10]["epoch"] == 2 and rows[10]["validators"] == 1
    assert rows[30]["validators"] == 0
    # latest membership of "a" is index 20, so index 10 keeps only "b"
    assert rows[10]["bls_keys"] == ["b"]
    assert rows[30]["bls_keys"] == ["c"]


def test_per_key_ratio_block_mev_and_runner(spark, tables):
    income, membership, earnings_interface, threat, slot_wd = tables
    topups = spark.createDataFrame(
        [("a", 1.0)], "bls_key string, topup double"
    )
    slots = spark.createDataFrame(
        [("a", 2.0), ("b", 3.0)], "bls_key string, slot double"
    )
    mev = {
        r["bls_key"]: r
        for r in serving.per_key_ratio_block(
            earnings_interface, topups, slots
        ).collect()
    }
    # a: earnings 2.0e9 gwei -> 2 ETH, losses 0.2e9 -> 0.2, topup 1
    assert mev["a"]["redemption_rate"] == pytest.approx((24 + 2) / (8 - 0.2 + 1))
    assert mev["a"]["sETH"] == pytest.approx(((24 + 2) / 8) * 2.0)
    runner = {
        r["bls_key"]: r
        for r in serving.per_key_ratio_block(
            earnings_interface, topups, node_runner=True
        ).collect()
    }
    assert runner["b"]["validator_slot"] == pytest.approx(4 - 0.0 + 0.0)
    assert runner["b"]["sETH"] == pytest.approx(((24 + 1.5) / 8) * 4)


def test_lsd_wise_apr_zero_defaults(spark):
    tickers = spark.createDataFrame(
        [(10, "tETH"), (99, "xETH")], "indexes long, ticker string"
    )
    index_apr = spark.createDataFrame(
        [(10, 1, 5.0, 1.0, 0.0), (10, 2, 6.5, 2.5, 0.0)],
        "indexes long, epoch long, apr double, earnings double, losses double",
    )
    out = {
        r["indexes"]: r for r in serving.lsd_wise_apr(tickers, index_apr).collect()
    }
    assert out[10]["APR"] == 6.5 and out[10]["Earnings"] == 2.5
    assert out[99]["APR"] == 0.0 and out[99]["Earnings"] == 0.0  # inactive LSD
