"""Median-of-N timing for a subset of catalog queries (bench methodology).

Same session, noop sink, cache cleared between runs, warmup run
excluded, per-query median over RUNS (5) runs. For A/B during
optimization work — the committed pin stays bench.py's job.

Usage: python tools/time_query.py <query> [query ...] [--sf DIR]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stakehouse_etl_spark import measure  # noqa: E402
from stakehouse_etl_spark.session import get_spark  # noqa: E402

RUNS = 5


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    names = args
    spark = get_spark("time-query")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm(spark)

    out = {}
    for name in names:
        measure.run(spark, name, sf_dir)  # warmup (codegen, page cache)
        samples = [measure.run(spark, name, sf_dir).wall_s for _ in range(RUNS)]
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "min": round(min(samples), 3),
            "max": round(max(samples), 3),
            "runs": [round(s, 3) for s in samples],
        }
        print(name, json.dumps(out[name]), flush=True)
    print(json.dumps({n: v["median"] for n, v in out.items()}))


if __name__ == "__main__":
    main()
