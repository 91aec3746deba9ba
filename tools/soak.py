"""Timed warehouse soak (VERDICT r2 task 4's measured artifact).

Runs the composed S1→W1→J3→serve incremental loop
(`queries/soak.run_soak_cycles`) at sf0.1 with per-cycle wall-clock
and file-census capture, and prints one JSON line:

  {"cycles": [{"i": 0, "sec": ..., "n_buckets": ..., "max_files": ...,
               "total_files": ...}, ...],
   "flatness": max_sec / median_sec, ...}

The claim under test: with the epoch-bucket-partitioned income sink,
per-cycle cost is bounded by the cycle's NEW data (flat across
cycles), and file counts are bounded by the data's epoch span — the
flat-upsert layout would instead re-merge the whole table every
cycle, with per-cycle time growing linearly in cycle number.
Recorded in BASELINE.md.

Usage: python tools/soak.py [sf_dir] [n_cycles]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stakehouse_etl_spark import measure  # noqa: E402
from stakehouse_etl_spark.queries.soak import (  # noqa: E402
    _hourly_balances,
    run_soak_cycles,
)
from stakehouse_etl_spark.session import get_spark  # noqa: E402


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    n_cycles = int(argv[1]) if len(argv) > 1 else 10
    spark = get_spark("soak")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm(spark)

    cycles: list[dict] = []

    def hook(i: int, sec: float, census: dict[str, int]) -> None:
        cycles.append(
            {
                "i": i,
                "sec": round(sec, 3),
                "n_buckets": len(census),
                "max_files": max(census.values(), default=0),
                "total_files": sum(census.values()),
            }
        )

    warehouse = tempfile.mkdtemp(prefix="soak_bench_")
    try:
        balances = _hourly_balances(spark, sf_dir)
        out = run_soak_cycles(
            spark, balances, warehouse, n_cycles=n_cycles, cycle_hook=hook
        )
        n_rollup = out.count()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)

    secs = [c["sec"] for c in cycles]
    # cycles 0-1 bootstrap the warehouse and JIT-compile the write
    # path — flatness is judged over the steady-state cycles.
    steady = secs[2:] if len(secs) > 4 else secs
    flatness = round(max(steady) / statistics.median(steady), 2)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "cycles": cycles,
                "steady_flatness_max_over_median": flatness,
                "rollup_rows": n_rollup,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
