"""Stage-level profile of one or more bench queries.

Runs each query through the noop sink (after one warm run, so codegen
compile and page-cache effects land outside the profiled run) and
prints a per-stage table read from the in-process status store:
summed task time, GC, shuffle read/write bytes, fetch wait, input
bytes, spill — the numbers that say WHERE a query's seconds go (guide
§1/§7 without a live UI or an event log; spark.ui is disabled in the
engine session).

Usage: python tools/profile_query.py <query> [query ...] [--sf DIR]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stakehouse_etl_spark import measure  # noqa: E402
from stakehouse_etl_spark.session import get_spark  # noqa: E402

WARMUPS = 1


def profile(names: list[str], sf_dir: str) -> None:
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm(spark, sf_dir)
    for name in names:
        for _ in range(WARMUPS):
            measure.run(spark, name, sf_dir)
        record = measure.run(spark, name, sf_dir)
        rows = measure.stage_metrics(spark, record)
        print(f"\n=== {name}  wall={record.wall_s:.2f}s ===")
        rows.sort(key=lambda d: -d["run_s"])
        print(f"{'sid':>5} {'tasks':>5} {'run_s':>7} {'gc_s':>6} "
              f"{'shR_MB':>7} {'shW_MB':>7} {'fetch_s':>7} {'in_MB':>7} "
              f"{'spill_MB':>8}  name")
        for d in rows[:14]:
            print(
                f"{d['stage_id']:>5} {d['tasks']:>5} {d['run_s']:>7.2f} "
                f"{d['gc_s']:>6.2f} "
                f"{d['shuffle_read_bytes']/1e6:>7.1f} "
                f"{d['shuffle_write_bytes']/1e6:>7.1f} "
                f"{d['fetch_wait_s']:>7.2f} {d['input_bytes']/1e6:>7.1f} "
                f"{d['spill_bytes']/1e6:>8.1f}  {d['name'][:60]}"
            )
        print(f"total task-seconds: {sum(d['run_s'] for d in rows):.1f}")
    spark.stop()


if __name__ == "__main__":
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i:i + 2]
    profile(args, sf_dir)
