"""BPE trainer depth curve (VERDICT r7 task 4).

The r7 rework made BPE training incremental: iteration i recounts
pairs only inside words CONTAINING the merged pair and delta-merges
into the standing pair-count table, so per-iteration cost should be
flat-or-falling after iteration 1 (which pays the full corpus recount
and the first-plan codegen). That claim was measured only at k=3; a
real tokenizer build runs tens of thousands of merges, so the depth
curve is the evidence that the per-iteration shape holds as merges
proceed.

Runs ``_bpe_train_merges`` (the exact trainer behind the
``ml_bpe_train_merges`` / ``ml_bpe_train_merges_deep`` catalog
queries) at the given rung and depth, recording the wall seconds of
EVERY iteration (argmax collect — which forces the previous
iteration's lazy delta-merge — plus the next delta plan).

Usage: python tools/bpe_depth.py [sf_dir] [n_iters]
  defaults: localdata/sf3, 16. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stakehouse_etl_spark import measure  # noqa: E402
from stakehouse_etl_spark.caches import release_tracked  # noqa: E402
from stakehouse_etl_spark.queries.pipeline17 import (  # noqa: E402
    _bpe_train_merges,
)
from stakehouse_etl_spark.session import get_spark  # noqa: E402


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv else os.path.join(REPO, "localdata", "sf3")
    n_iters = int(argv[1]) if len(argv) > 1 else 16
    spark = get_spark("bpe_depth")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm(spark, sf_dir)

    walls: list[float] = []
    t0 = time.perf_counter()
    merges = _bpe_train_merges(spark, sf_dir, n_iters, iter_walls=walls)
    rows = merges.collect()
    total = time.perf_counter() - t0
    release_tracked()

    steady = walls[1:]
    rec = {
        "sf_dir": sf_dir,
        "n_iters": n_iters,
        "total_sec": round(total, 2),
        "iter_walls_sec": [round(w, 2) for w in walls],
        "iter1_sec": round(walls[0], 2) if walls else None,
        "steady_median_sec": (
            round(statistics.median(steady), 2) if steady else None
        ),
        "steady_max_sec": round(max(steady), 2) if steady else None,
        # flat-or-falling after iter 1: the steady max must not exceed
        # the full-recount first iteration — growth past it would mean
        # per-iteration cost scales with merge rank, the claim-killer.
        "steady_below_iter1": (
            bool(max(steady) <= walls[0]) if steady else None
        ),
        "merges": [
            {"rank": r.rank, "lhs": r.lhs, "rhs": r.rhs, "cnt": r.cnt}
            for r in rows
        ],
    }
    print(json.dumps(rec))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
