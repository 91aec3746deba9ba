"""Absent vs unreadable tables on the sink and state-reader paths.

Each truncation case builds a 1000-row table, truncates every data file
to half its bytes, and runs one more write against it. An unreadable
table must make the write raise and leave every file of the table
byte-identical — never be taken for a missing table and replaced. A
schema conflict must fail the same way. The last write case pins the
legitimate "absent" shape: a partitioned CDC write that deleted every
row leaves only ``_SUCCESS``, and the next write starts the table
afresh.
"""

from __future__ import annotations

import ast
import hashlib
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sinks import read_existing, write_cdc, write_upsert
from stakehouse_etl_spark.streaming.incremental import incremental_income_run

PKG = Path(__file__).resolve().parents[1] / "stakehouse_etl_spark"
CDC_SCHEMA = "k long, seq long, op string, pb long, v long"


def _data_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    ]


def _truncate_data_files(path: str) -> None:
    files = _data_files(path)
    assert files
    for p in files:
        with open(p, "r+b") as fh:
            fh.truncate(os.path.getsize(p) // 2)


def _digest(path: str) -> str:
    """sha256 over every file's relative path and content."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            h.update(Path(p).read_bytes())
    return h.hexdigest()


def _cdc_rows(spark, keys, seq: int, op: str):
    return spark.createDataFrame(
        [(k, seq, op, k % 4, None if op == "D" else k * 10) for k in keys], CDC_SCHEMA
    )


def test_upsert_into_unreadable_table_raises_and_leaves_it(spark, tmp_path):
    path = str(tmp_path / "t")
    write_upsert(spark, spark.range(1000).select(F.col("id").alias("k"), "id"), path, ["k"])
    _truncate_data_files(path)
    before = _digest(path)
    with pytest.raises(Exception):
        write_upsert(spark, spark.createDataFrame([(1, 1)], "k long, id long"), path, ["k"])
    assert _digest(path) == before


def test_upsert_into_schema_conflict_raises_and_leaves_it(spark, tmp_path):
    """One file whose ``v`` is a string among long-typed files: the read
    may succeed, the staged merge fails, and the table stays as it was."""
    path, odd = str(tmp_path / "t"), str(tmp_path / "odd")
    table = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    write_upsert(spark, table, path, ["k"])
    spark.createDataFrame([(2000, "x")], "k long, v string").coalesce(1).write.parquet(odd)
    (conflict,) = _data_files(odd)
    os.rename(conflict, os.path.join(path, "part-conflict.parquet"))
    before = _digest(path)
    with pytest.raises(Exception):
        write_upsert(spark, spark.createDataFrame([(1, 1)], "k long, v long"), path, ["k"])
    assert _digest(path) == before


def test_partitioned_cdc_into_unreadable_table_raises_and_leaves_it(spark, tmp_path):
    path = str(tmp_path / "t")
    cdc = dict(keys=["k"], seq_cols=["seq"], partition_cols=["pb"])
    write_cdc(spark, _cdc_rows(spark, range(1000), 1, "U"), path, **cdc)
    _truncate_data_files(path)
    before = _digest(path)
    with pytest.raises(Exception):
        write_cdc(spark, _cdc_rows(spark, [1], 2, "D"), path, **cdc)
    assert _digest(path) == before


def test_income_run_over_unreadable_state_raises(spark, tmp_path):
    state_path, income_path = str(tmp_path / "state"), str(tmp_path / "income")
    balances = spark.range(1000).crossJoin(spark.range(1, 4).withColumnRenamed("id", "epoch"))
    balances = balances.select(
        F.col("id").cast("string").alias("bls_key"),
        "epoch",
        (F.lit(32.0) + F.col("epoch") + F.col("id") / 1000).alias("balance"),
    )
    incremental_income_run(spark, balances.filter("epoch <= 2"), state_path, income_path)
    assert spark.read.parquet(state_path).count() == 1000
    _truncate_data_files(state_path)
    before = (_digest(state_path), _digest(income_path))
    with pytest.raises(Exception):
        incremental_income_run(spark, balances, state_path, income_path)
    assert (_digest(state_path), _digest(income_path)) == before


def test_income_run_over_unreadable_income_raises_and_releases_its_cache(spark, tmp_path):
    """The income write fails after the run has cached its income rows:
    the run must still release that cache."""
    state_path, income_path = str(tmp_path / "state"), str(tmp_path / "income")
    balances = spark.createDataFrame(
        [(k, e, 32.0 + e + i / 10) for i, k in enumerate("abc") for e in (1, 2, 3)],
        "bls_key string, epoch long, balance double",
    )
    incremental_income_run(spark, balances.filter("epoch <= 2"), state_path, income_path)
    _truncate_data_files(income_path)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(Exception):
        incremental_income_run(spark, balances, state_path, income_path)
    assert persistent().size() == before


def test_cdc_after_deleting_every_row_starts_afresh(spark, tmp_path):
    path = str(tmp_path / "t")
    cdc = dict(keys=["k"], seq_cols=["seq"], partition_cols=["pb"])
    write_cdc(spark, _cdc_rows(spark, range(1000), 1, "U"), path, **cdc)
    write_cdc(spark, _cdc_rows(spark, range(1000), 2, "D"), path, **cdc)
    assert _data_files(path) == []
    assert read_existing(spark, path) is None
    write_cdc(spark, _cdc_rows(spark, [5, 6], 3, "U"), path, **cdc)
    got = {(r.k, r.pb, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(5, 1, 50), (6, 2, 60)}


def _reads_parquet(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet"
        and isinstance(n.func.value, ast.Attribute)
        and n.func.value.attr == "read"
        for n in ast.walk(node)
    )


def _catches_everything(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    return t is None or (isinstance(t, ast.Name) and t.id in ("Exception", "BaseException"))


def test_no_catch_all_around_a_table_read():
    """A ``spark.read.parquet`` wrapped in a bare or ``except Exception``
    handler turns an unreadable table into a missing one: use
    ``sinks.read_existing``. Spark-free scan of the package."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Try)
                and any(_reads_parquet(stmt) for stmt in node.body)
                and any(_catches_everything(h) for h in node.handlers)
            ):
                sites.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert sites == [], "catch-all around a table read:\n" + "\n".join(sites)
