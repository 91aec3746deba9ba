"""Local stand-in for the driver's correctness gate.

Runs every catalog query at the given scale factor, runs its DuckDB
oracle on the same parquet, and compares row count + column set +
(order-insensitively) values. Reports exact-match status and, for
floats, the max absolute deviation — the driver hashes values, so the
target is EXACT equality, not tolerance.

Every query's pandas frame also goes through the driver's own
canonicalization first: columns sorted by name, then a raw
``sort_values`` over all columns with no type coercion. ``normalize``
stringifies object columns before sorting, so an unsortable cell (an
array, say) passes the value comparison yet fails the driver; the raw
sort's ``TypeError`` (or, for a lone array column, ``ValueError``) is
reported as a failure here.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stakehouse_etl_spark.io.sources import TABLE_NAMES, _table_path  # noqa: E402
from stakehouse_etl_spark.queries.catalog import (  # noqa: E402
    EXPECTED_MIN_QUERIES,
    QUERIES,
)

# Catalog-shrink guard (VERDICT r1 'what's wrong' #3): a silent import
# failure must fail the gate, not shrink the query list.
assert len(QUERIES) >= EXPECTED_MIN_QUERIES, (
    f"catalog shrank: {len(QUERIES)} < {EXPECTED_MIN_QUERIES}"
)
from stakehouse_etl_spark.caches import release_tracked  # noqa: E402
from stakehouse_etl_spark.session import get_spark  # noqa: E402


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = _table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> str:
    problems = []
    if len(spark_pd) != len(duck_pd):
        problems.append(f"rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
    sc, dc = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
    if problems:
        return "; ".join(problems)

    s, d = normalize(spark_pd), normalize(duck_pd)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv.dtype) or pd.api.types.is_float_dtype(dv.dtype):
            a = sv.astype("float64").to_numpy()
            b = dv.astype("float64").to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            eq = (a == b) | both_nan
            if not eq.all():
                diff = np.nanmax(np.abs(np.where(eq, 0.0, a - b)))
                problems.append(f"col {c}: {int((~eq).sum())} diffs, max|Δ|={diff:.3e}")
        else:
            if not sv.equals(dv):
                n = int((sv != dv).sum())
                problems.append(f"col {c}: {n} non-float diffs (dtypes {sv.dtype}/{dv.dtype})")
    # dtype drift warnings (driver hash may be dtype-sensitive)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            problems.append(f"DTYPE {c}: spark={s[c].dtype} duck={d[c].dtype}")
    return "; ".join(problems)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check")
    con = duck_conn(sf_dir)
    failures = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pd = q.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        try:
            raw = spark_pd.reindex(sorted(spark_pd.columns), axis=1)
            raw.sort_values(by=list(raw.columns), kind="mergesort")
        except (TypeError, ValueError) as e:
            print(f"FAIL {name}: driver canonicalization: {e}")
            failures += 1
            continue
        if q.oracle is None:
            print(f"ok?  {name}: rows={len(spark_pd)} (no oracle, rows-only) [{t_spark:.1f}s]")
            continue
        try:
            duck_pd = con.execute(q.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        msg = compare(name, spark_pd, duck_pd)
        if msg:
            print(f"FAIL {name}: {msg}")
            failures += 1
        else:
            print(f"PASS {name}: rows={len(spark_pd)} [{t_spark:.1f}s]")
        # Release per-query persists (shingle tables etc.) — the cache
        # lifecycle ends at the query's action boundary, which is here.
        # persist_tracked caches release deterministically; clearCache
        # stays as a backstop for anything outside the registry.
        release_tracked()
        spark.catalog.clearCache()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
