"""Spark-free: ``tools/scaling.py`` picks its rungs from localdata/ by
the disambiguated rung key."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from scaling import select_rungs  # noqa: E402


def _localdata(tmp_path, *dirs: str) -> str:
    for d in dirs:
        (tmp_path / d).mkdir()
    return str(tmp_path)


def test_local_key_selects_any_localdata_dir(tmp_path):
    root = _localdata(tmp_path, "sf1", "sf10", "sf30")
    assert select_rungs("local_sf10", root) == [
        ("local_sf10", os.path.join(root, "sf10"))
    ]


def test_bare_name_selects_only_the_shipped_rung(tmp_path):
    root = _localdata(tmp_path, "sf0.1")
    rungs = select_rungs("sf0.1", root)
    assert [k for k, _ in rungs] == ["sf0.1"]
    assert not rungs[0][1].startswith(root)


def test_default_ladder_leaves_out_opt_in_rungs(tmp_path):
    root = _localdata(tmp_path, "sf0.1", "sf1", "sf3", "sf10", "zipf_sf1")
    local = [k for k, d in select_rungs(None, root) if d.startswith(root)]
    assert local == ["local_sf0.1", "local_sf1", "local_sf3"]
