"""The bounded-stream scaffold (streaming/staging.py) and what rides on it.

- A memory-sink query leaves the session as it found it: no temp view
  and no active stream survives a run.
- The whole-events stream queries read their source through
  ``load_table``, so an ``events`` table written as a directory of
  part files gives the same rows as the single-file layout.
- The scaffold lives in one module: a source scan forbids hand-rolled
  chunk mtimes, drains and memory sinks anywhere else in the package,
  and keeps ``_table_path`` private to ``io/sources.py``.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from stakehouse_etl_spark.queries.catalog import QUERIES

PKG = Path(__file__).resolve().parents[1] / "stakehouse_etl_spark"
SCAFFOLD = PKG / "streaming" / "staging.py"
SOURCES = PKG / "io" / "sources.py"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _active_streams(spark) -> set[str]:
    return {q.id for q in spark.streams.active}


def test_memory_sink_runs_leave_no_view_or_stream(spark, sf_dir):
    views, active = _temp_views(spark), _active_streams(spark)
    for name in ("stream_windowed_counts", "stream_windowed_counts", "stream_cusum_drift"):
        assert QUERIES[name].fn(spark, sf_dir).count() > 0
    assert _temp_views(spark) == views
    assert _active_streams(spark) == active


@pytest.fixture()
def multi_file_sf(tmp_path, sf_dir):
    """``sf_dir`` with ``events.parquet/`` rewritten as a directory of
    two pyarrow part files; every other table is a symlink."""
    for entry in os.listdir(sf_dir):
        if entry != "events.parquet":
            (tmp_path / entry).symlink_to(os.path.join(sf_dir, entry))
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    half = events.num_rows // 2
    parts = tmp_path / "events.parquet"
    parts.mkdir()
    pq.write_table(events.slice(0, half), parts / "part-0.parquet")
    pq.write_table(events.slice(half), parts / "part-1.parquet")
    return str(tmp_path)


@pytest.mark.parametrize(
    "name", ["stream_windowed_counts", "stream_observe_metrics", "stream_rocksdb_state"]
)
def test_multi_file_events_layout_matches_single_file(spark, sf_dir, multi_file_sf, name):
    fn = QUERIES[name].fn
    single = sorted(fn(spark, sf_dir).collect())
    assert single
    assert sorted(fn(spark, multi_file_sf).collect()) == single


def _scaffold_uses(tree: ast.AST):
    """(line, what) for every call that belongs to the stream scaffold."""
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        if f.attr == "utime" and isinstance(f.value, ast.Name) and f.value.id == "os":
            yield node.lineno, "os.utime"
        elif f.attr == "processAllAvailable":
            yield node.lineno, ".processAllAvailable()"
        elif (
            f.attr == "format"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "memory"
        ):
            yield node.lineno, '.format("memory")'


def _table_path_imports(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and any(
            a.name == "_table_path" for a in node.names
        ):
            yield node.lineno, "import _table_path"


def test_stream_scaffold_lives_only_in_staging():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        uses = [] if path == SCAFFOLD else list(_scaffold_uses(tree))
        if path != SOURCES:
            uses += _table_path_imports(tree)
        found += [f"{path.relative_to(PKG)}:{line} {what}" for line, what in uses]
    assert found == []
