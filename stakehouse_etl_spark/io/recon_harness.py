"""External golden-source reconciliation harness (VERDICT r3 missing #1).

The reference cross-checks its ETL output against two INDEPENDENT
live sources and writes a side-by-side diff file per key
(``reference/scripts/check-sweeps.js:49-140`` — SDK sweep reports vs
the beaconcha.in performance API; sample diff output in
``reference/README.md:130-178``). The DuckDB oracle layer is this
repo's functional analog for correctness, but a deployment also
needs the *reconciliation-shaped* harness: recompute per-key totals
from the warehouse, fetch the same totals from external sources,
full-outer-join, classify, report.

This module is that harness:

- a source is any location yielding JSON ``[{"key": ..., "value": N},
  ...]`` — an ``http(s)://`` endpoint (stdlib urllib, bounded
  timeout) or a local file path (fixtures / air-gapped runs);
- the diff engine is :func:`operators.reconcile.reconcile_keyed`
  (per-key audit rows, never aggregated away), one report per source
  plus a combined summary;
- ``tools/reconcile.py`` is the runnable entry: reads
  ``RECON_SOURCES`` (``name=location`` pairs), writes a JSONL diff
  report next to its summary, exits nonzero when the bad-key count
  crosses the budget. Unset env → clean skip, nothing fetched.

Scale: per-key totals are aggregates, so the full-outer join runs on
reduced tables; an external source bounded at ~1e6 keys rides a
broadcast, bigger sources shuffle on the key like any keyed join.
"""

from __future__ import annotations

import json
import os
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from stakehouse_etl_spark.operators.reconcile import (
    reconcile_keyed,
    reconcile_summary,
)

SOURCE_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("value", LongType(), True),
    ]
)


def load_source_totals(spark: SparkSession, location: str) -> DataFrame:
    """Per-key totals from an external source: ``[{"key": k,
    "value": v}, ...]`` JSON at an http(s) URL or local file path.
    Values land as integer cents (LongType) — the reconciliation
    contract is exact integer compare with an explicit ``tol``."""
    if location.startswith(("http://", "https://")):
        with urllib.request.urlopen(location, timeout=30) as r:
            body = json.loads(r.read().decode("utf-8"))
    else:
        with open(location, encoding="utf-8") as f:
            body = json.load(f)
    rows = [
        (int(d["key"]), int(d["value"]) if d.get("value") is not None else None)
        for d in body
    ]
    return spark.createDataFrame(rows, SOURCE_SCHEMA)


def warehouse_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse side of the sweep-reconciliation analog: each
    user's FINAL cumulative earnings (integer cents) from the W1
    income kernel — the per-validator "total swept" equivalent the
    reference reconciles per key."""
    from stakehouse_etl_spark.queries.catalog import QUERIES

    income = QUERIES["w1_user_income"].fn(spark, sf_dir)
    return income.groupBy(F.col("user_id").alias("key")).agg(
        F.round(F.max_by("earnings", "ts_us") * 100)
        .cast("long")
        .alias("warehouse_cents")
    )


def reconcile_against_sources(
    warehouse: DataFrame,
    sources: list[tuple[str, DataFrame]],
    tol: int = 0,
) -> DataFrame:
    """One per-key report per source, unioned with a ``source_name``
    column — the side-by-side shape of the reference's diff file."""
    out = None
    for name, src in sources:
        rep = reconcile_keyed(
            warehouse,
            src.withColumnRenamed("value", "source_cents"),
            keys=["key"],
            warehouse_col="warehouse_cents",
            source_col="source_cents",
            tol=tol,
        ).withColumn("source_name", F.lit(name))
        out = rep if out is None else out.unionByName(rep)
    if out is None:
        raise ValueError("reconcile_against_sources: no sources given")
    return out


def parse_sources_env(raw: str) -> list[tuple[str, str]]:
    """``name=location,name2=location2`` → pairs; malformed entries
    fail loud (a reconciliation run with a silently dropped source
    would report false confidence)."""
    pairs = []
    for part in raw.split(","):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise ValueError(
                f"RECON_SOURCES entry {part!r} is not name=location"
            )
        name, loc = part.split("=", 1)
        pairs.append((name.strip(), loc.strip()))
    if not pairs:
        raise ValueError("RECON_SOURCES set but contained no sources")
    return pairs


def run(
    spark: SparkSession,
    sf_dir: str,
    sources_spec: str,
    report_path: str,
    tol: int = 0,
    max_bad: int = 0,
) -> dict:
    """Full harness pass. Writes the per-key JSONL diff report and
    returns the summary dict; ``ok`` is False when mismatched +
    missing keys exceed ``max_bad`` across all sources."""
    named = parse_sources_env(sources_spec)
    sources = [(n, load_source_totals(spark, loc)) for n, loc in named]
    wh = warehouse_user_totals(spark, sf_dir)
    report = reconcile_against_sources(wh, sources, tol=tol)

    rows = report.collect()  # bounded: per-key aggregates × sources
    with open(report_path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r.asDict()) + "\n")

    summary = reconcile_summary(report).collect()[0].asDict()
    summary["n_sources"] = len(sources)
    summary["report_path"] = report_path
    summary["ok"] = (summary["n_mismatch"] + summary["n_missing"]) <= max_bad
    return summary


def main(argv: list[str] | None = None) -> int:
    """CLI entry (used by ``tools/reconcile.py``). Env-gated: without
    ``RECON_SOURCES`` it skips cleanly — the pattern every optional
    external arm in this repo follows."""
    spec = os.environ.get("RECON_SOURCES", "")
    if not spec:
        print(
            "reconcile: RECON_SOURCES not set — skipping (set "
            "name=location[,name2=location2] with http(s) URLs or "
            "file paths to enable)"
        )
        return 0
    from stakehouse_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tol = int(os.environ.get("RECON_TOLERANCE_CENTS", "0"))
    max_bad = int(os.environ.get("RECON_MAX_BAD", "0"))
    report_path = os.environ.get("RECON_REPORT", "recon_report.jsonl")
    spark = get_spark()
    summary = run(spark, sf_dir, spec, report_path, tol=tol, max_bad=max_bad)
    print(json.dumps(summary))
    return 0 if summary["ok"] else 1
