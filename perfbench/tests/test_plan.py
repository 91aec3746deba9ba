"""Seed contract of the benchmark's operation sequences (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

import itertools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan import READS, query_passes, read_mixes  # noqa: E402

NAMES = ("w1_user_income", "w2_income_epoch_hourly", "j1_latest_order_per_customer",
         "j2_region_acctbal_rollup", "j3_order_lineitem_agg", "j9_asof_last_signup",
         "a1_pricing_summary")


def take(it, n):
    return list(itertools.islice(it, n))


def test_same_seed_same_query_order():
    assert take(query_passes(7, NAMES), 5) == take(query_passes(7, NAMES), 5)


def test_different_seeds_give_different_query_orders():
    orders = {tuple(map(tuple, take(query_passes(seed, NAMES), 3))) for seed in range(10)}
    assert len(orders) == 10


def test_every_pass_runs_every_query_once():
    for order in take(query_passes(3, NAMES), 20):
        assert sorted(order) == sorted(NAMES)


def test_same_seed_same_serving_mix():
    assert take(read_mixes(7, 50, 20), 10) == take(read_mixes(7, 50, 20), 10)


def test_different_seeds_give_different_serving_mixes():
    mixes = {repr(take(read_mixes(seed, 50, 20), 3)) for seed in range(10)}
    assert len(mixes) == 10


def test_every_mix_issues_every_read_once_with_valid_parameters():
    for mix in take(read_mixes(11, 50, 20), 50):
        assert sorted(read for read, _ in mix) == sorted(READS)
        params = dict(mix)
        assert 0 <= params["validator_epoch_apr"]["bls_key"] < 50
        assert 1 <= params["validator_epoch_apr"]["epochs"] <= 24
        keys = params["user_apr_by_epoch"]["bls_keys"]
        assert len(set(keys)) == 3 and all(0 <= k < 50 for k in keys)
        assert 0 <= params["deth_earned_index"]["index"] < 20
        assert 0 <= params["index_validators"]["index"] < 20
