"""Guard: no module nothing imports, no public name nothing uses.

Spark-free static scan of the repository's ``.py`` and ``.sh`` files:

- every ``queries/*.py`` family module is listed in
  ``catalog._QUERY_MODULES`` (an unlisted one registers nothing);
- every other package module is imported by some other file;
- every public top-level function or class under ``functions/``,
  ``operators/``, ``plans/``, ``io/`` and ``streaming/`` is named at
  least once outside its own ``def``/``class`` statement, anywhere in
  the repository (tests, tools, perfbench and its own module count;
  a package ``__init__.py`` does not — a re-export alone is no use);
- every public top-level constant (``Assign`` / ``AnnAssign`` target)
  in those packages is read somewhere: a loaded name or an attribute.
  Its own assignment target, an import and a string do not count.

A reference is a Python identifier or attribute, an imported name, or
a string constant equal to the name (``getattr`` / patch lookups and
``__all__`` exports). Comments and docstrings do not count. Shell
files count by word.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "stakehouse_etl_spark"
SCANNED_PACKAGES = ("functions", "operators", "plans", "io", "streaming")
# queries/ infrastructure, not query families
QUERY_INFRA = {"__init__", "catalog", "registry"}
_MODULE_RE = r"stakehouse_etl_spark(?:\.\w+)+"


def _repo_files(suffix: str) -> list[Path]:
    """Every ``*suffix`` file outside hidden directories (.git, work dirs)."""
    return sorted(
        p
        for p in ROOT.rglob(f"*{suffix}")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts[:-1])
    )


@functools.cache
def _loads() -> set[str]:
    """Names read anywhere in the repository's Python: loaded
    identifiers and attribute names."""
    out: set[str] = set()
    for path in _repo_files(".py"):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


def _py_refs(path: Path) -> tuple[set[str], set[str]]:
    """(names used, modules imported) of one Python file. The repository
    uses absolute imports only."""
    names: set[str] = set()
    imports: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
            if re.fullmatch(_MODULE_RE, node.value):
                imports.add(node.value)
        elif isinstance(node, ast.Import):
            for a in node.names:
                imports.add(a.name)
                names.add(a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom):
            imports.add(node.module)
            for a in node.names:
                imports.add(f"{node.module}.{a.name}")
                names.add(a.name)
    return names, imports


@functools.cache
def _scan() -> dict[Path, tuple[set[str], set[str]]]:
    """(names used, modules imported) per repository file."""
    refs = {path: _py_refs(path) for path in _repo_files(".py")}
    for path in _repo_files(".sh"):
        text = path.read_text()
        refs[path] = set(re.findall(r"\w+", text)), set(re.findall(_MODULE_RE, text))
    return refs


def _query_modules() -> list[str]:
    tree = ast.parse((PKG / "queries" / "catalog.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_QUERY_MODULES" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("catalog._QUERY_MODULES not found")


def test_every_query_module_is_in_the_catalog():
    listed = set(_query_modules())
    families = {p.stem for p in (PKG / "queries").glob("*.py")} - QUERY_INFRA
    assert families - listed == set(), "query modules the catalog never imports"
    assert listed - families == set(), "catalog lists missing query modules"


def test_every_package_module_is_imported_elsewhere():
    family = {f"stakehouse_etl_spark.queries.{m}" for m in _query_modules()}
    unimported = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        mod = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        if mod in family:
            continue
        if not any(mod in imps for p, (_, imps) in _scan().items() if p != path):
            unimported.append(mod)
    assert unimported == [], "imported by no other file:\n" + "\n".join(unimported)


def test_every_public_top_level_name_is_used():
    used: set[str] = set().union(
        *(names for p, (names, _) in _scan().items() if p.name != "__init__.py")
    )
    unused = []
    for pkg in SCANNED_PACKAGES:
        for path in sorted((PKG / pkg).glob("*.py")):
            for node in ast.parse(path.read_text()).body:
                if not isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    continue
                if node.name.startswith("_") or node.name in used:
                    continue
                unused.append(f"{path.relative_to(ROOT)}:{node.name}")
    assert unused == [], "named nowhere else:\n" + "\n".join(unused)


def test_every_public_top_level_constant_is_read():
    unread = []
    for pkg in SCANNED_PACKAGES:
        for path in sorted((PKG / pkg).glob("*.py")):
            for node in ast.parse(path.read_text()).body:
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, ast.AnnAssign):
                    targets = [node.target]
                else:
                    continue
                for t in targets:
                    for name in ast.walk(t):
                        if (
                            isinstance(name, ast.Name)
                            and isinstance(name.ctx, ast.Store)
                            and not name.id.startswith("_")
                            and name.id not in _loads()
                        ):
                            unread.append(f"{path.relative_to(ROOT)}:{name.id}")
    assert unread == [], "read nowhere:\n" + "\n".join(unread)
