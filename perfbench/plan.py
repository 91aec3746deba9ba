"""The seeded operation sequence of each workload. Pure Python, no Spark,
so the seed contract is testable on its own (``perfbench/tests``).

Every pass or cycle runs the same multiset of operations; the seed only
picks their order and parameters. That keeps the amount of work per run
independent of the seed, so runs with different seeds are comparable.
"""

from __future__ import annotations

import random
from typing import Iterator, Sequence

# Five reads (and five batch queries) so that the median operation of a
# run falls inside one operation's band of CPU cost, not on the border
# between two.
READS = ("validator_epoch_apr", "user_apr_by_epoch", "deth_earned_index", "index_validators", "leaderboard")


def query_passes(seed: int, names: Sequence[str]) -> Iterator[list[str]]:
    """Endless passes; each pass runs every query once, in seeded order."""
    rng = random.Random(f"queries:{seed}")
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def read_mixes(seed: int, n_keys: int, n_indexes: int) -> Iterator[list[tuple[str, dict]]]:
    """Endless per-cycle serving mixes; each mix issues every read in
    READS once, in seeded order with seeded parameters."""
    rng = random.Random(f"reads:{seed}")
    while True:
        mix = []
        for read in rng.sample(READS, len(READS)):
            if read == "validator_epoch_apr":
                params = {"bls_key": rng.randrange(n_keys), "epochs": rng.randint(1, 24)}
            elif read == "user_apr_by_epoch":
                params = {"bls_keys": sorted(rng.sample(range(n_keys), 3)), "epochs": rng.randint(1, 12)}
            elif read in ("deth_earned_index", "index_validators"):
                params = {"index": rng.randrange(n_indexes)}
            else:
                params = {"k": 7}
            mix.append((read, params))
        yield mix
