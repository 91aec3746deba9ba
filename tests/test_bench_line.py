"""Spark-free guard: bench.py's printed line fits the capture window.

The caller keeps only the last 2000 chars of the bench's stdout, so the
printed line must stay parseable under 1900 chars even in the worst
case: every bench-flagged query at a six-digit timing and every one of
them listed in the regressions map.
"""

from __future__ import annotations

import json

import bench
from stakehouse_etl_spark.queries.catalog import QUERIES

WORST = 999.999
FULL_KEYS = {
    "metric", "value", "unit", "queries", "suite_total_sec", "sf", "cpus",
    "default_parallelism", "runs", "prev_round", "regressions",
    "loadavg_start", "loadavg_end",
}
SPEC_KEYS = {
    "metric", "value", "unit", "queries", "sf", "cpus", "default_parallelism",
}


def _record(names: list[str], regressed: list[str]) -> dict:
    return {
        "metric": "bench_headline_wall_sec",
        "value": WORST * len(bench.HEADLINE),
        "unit": "sec",
        "queries": {n: WORST for n in names},
        "suite_total_sec": WORST * len(names),
        "sf": 0.1,
        "cpus": 999,
        "default_parallelism": 999,
        "runs": 3,
        "prev_round": "BENCH_r99.json",
        "regressions": {
            n: {
                "prev": WORST,
                "cur": WORST,
                "best": WORST,
                "ratio_best": WORST,
                "ratio_median": WORST,
            }
            for n in regressed
        },
        "loadavg_start": [WORST] * 3,
        "loadavg_end": [WORST] * 3,
    }


def test_bench_line_keeps_todays_keys_when_nothing_regressed():
    names = [n for n, q in QUERIES.items() if q.bench]
    line = bench.bench_line(_record(names, []))
    parsed = json.loads(line)
    assert set(parsed) == FULL_KEYS
    assert set(parsed["queries"]) == set(names)
    assert len(line) <= 1900


def test_bench_line_fits_the_window_in_the_worst_case():
    names = [n for n, q in QUERIES.items() if q.bench]
    line = bench.bench_line(_record(names, names))
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert SPEC_KEYS <= set(parsed) <= FULL_KEYS
    assert set(parsed["queries"]) == set(names)
