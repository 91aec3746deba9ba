"""io/sources.py contracts.

``table_num_rows`` feeds input-scaled sizing decisions (partition
counts for near-unique-key aggs, guard bounds); ADVICE r8 found it
silently returned 0 for the partitioned (subdirectory) layout the
module docstring promises loaders accept — collapsing every sizing
decision to its 32-partition minimum, the exact sf30 hash-agg spill
the sizing was added to fix.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from stakehouse_etl_spark.io.sources import table_num_rows


def _write_chunk(path: str, n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"x": list(range(n))}), path)


def test_num_rows_single_file(tmp_path):
    _write_chunk(str(tmp_path / "t.parquet"), 7)
    assert table_num_rows(str(tmp_path), "t") == 7


def test_num_rows_flat_directory(tmp_path):
    d = tmp_path / "t"
    _write_chunk(str(d / "part-0.parquet"), 3)
    _write_chunk(str(d / "part-1.parquet"), 4)
    assert table_num_rows(str(tmp_path), "t") == 7


def test_num_rows_partitioned_layout(tmp_path):
    # The time-bucket subdirectory layout: footers live one (or more)
    # levels down. The pre-fix walk summed only top-level files → 0.
    d = tmp_path / "t"
    _write_chunk(str(d / "bucket=1" / "part-0.parquet"), 5)
    _write_chunk(str(d / "bucket=2" / "part-0.parquet"), 6)
    _write_chunk(str(d / "bucket=2" / "part-1.parquet"), 2)
    assert table_num_rows(str(tmp_path), "t") == 13


def test_num_rows_is_zero_without_footers(tmp_path):
    # A footerless or missing layout sizes to 0 (every caller's
    # partition count then takes its minimum) instead of crashing the
    # query; the scan itself reports the real error.
    d = tmp_path / "t"
    os.makedirs(d / "empty_sub")
    with open(d / "README.txt", "w") as f:
        f.write("no parquet here")
    assert table_num_rows(str(tmp_path), "t") == 0
    shutil.rmtree(d)
    assert table_num_rows(str(tmp_path), "t") == 0


def test_num_rows_or_degrades_not_crashes(tmp_path):
    # Sizing call sites take the count as-is: a missing table degrades
    # to 0 instead of crashing the query, a present one sizes exactly.
    assert table_num_rows(str(tmp_path), "missing") == 0
    _write_chunk(str(tmp_path / "t.parquet"), 7)
    assert table_num_rows(str(tmp_path), "t") == 7
