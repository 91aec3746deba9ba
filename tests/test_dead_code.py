"""Guard: no module nothing imports, no public name nothing uses, no
option nothing sets.

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
  Its own assignment target, an import and a string do not count;
- every parameter with a non-string default of a package function that
  some call names is passed by some call, and every ``SPARK_GRAFT_*``
  variable the package reads is named outside the package;
- every top-level import of a package module is read by that module;
- every ``QueryDef`` field is read off a registered query outside the
  registry;
- no package ``try`` catches ``ImportError``: an arm that runs only
  where an optional dependency is installed is an arm this environment
  can never run.

A reference is a Python identifier or attribute, an imported name, or
a string constant equal to the name (``getattr`` / patch lookups and
``__all__`` exports). Comments and docstrings do not count. Shell
files count by word.
"""

from __future__ import annotations

import ast
import dataclasses
import functools
import re
from pathlib import Path

from stakehouse_etl_spark.queries.registry import QueryDef

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


def _is_str_default(node: ast.expr) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _options(fn: ast.FunctionDef | ast.AsyncFunctionDef, method: bool):
    """(name, positional index or None) of every parameter of ``fn``
    whose default is not a string. A method's index counts from the
    first argument after ``self``/``cls``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list
    )
    skip = 1 if method and not static and positional else 0
    out = []
    for i, (arg, default) in enumerate(
        zip(positional[len(positional) - len(a.defaults):], a.defaults),
        start=len(positional) - len(a.defaults),
    ):
        if not _is_str_default(default):
            out.append((arg.arg, i - skip))
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None and not _is_str_default(default):
            out.append((arg.arg, None))
    return out


@functools.cache
def _calls() -> dict[str, list[ast.Call]]:
    """Every call in the repository's Python, keyed by the called name
    (``f(...)`` and ``x.f(...)`` both key ``f``)."""
    out: dict[str, list[ast.Call]] = {}
    for path in _repo_files(".py"):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    out.setdefault(name, []).append(node)
    return out


def _passes(call: ast.Call, name: str, index: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return index is not None and index < len(call.args)


def test_every_option_is_set_somewhere():
    """A parameter with a non-string default is an option: some call
    in the repository must pass it, or it is a constant. A function no
    call names directly (a catalog entry, a callback) is not checked.
    Every ``SPARK_GRAFT_*`` variable the package reads must be named in
    a ``.py`` or ``.sh`` file outside the package."""
    unset = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        methods = {
            id(fn)
            for cls in ast.walk(tree)
            if isinstance(cls, ast.ClassDef)
            for fn in cls.body
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = _calls().get(fn.name, [])
            if not calls:
                continue
            for name, index in _options(fn, id(fn) in methods):
                if not any(_passes(c, name, index) for c in calls):
                    unset.append(f"{path.relative_to(ROOT)}:{fn.name}({name})")

    outside = set()
    for path in _repo_files(".py") + _repo_files(".sh"):
        if PKG not in path.parents:
            outside |= set(re.findall(r"SPARK_GRAFT_\w+", path.read_text()))
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.fullmatch(r"SPARK_GRAFT_\w+", node.value)
                and node.value not in outside
            ):
                unset.append(f"{path.relative_to(ROOT)}:{node.value}")
    assert unset == [], "set by nothing:\n" + "\n".join(unset)


def test_every_module_import_is_read():
    """A top-level import in a package module is read by that module: a
    loaded name (the base of an attribute chain is one) or an
    ``__all__`` entry. ``__init__.py`` re-exports and ``from
    __future__`` are exempt."""
    unread = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        loaded = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                loaded |= set(ast.literal_eval(node.value))
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in loaded:
                        unread.append(f"{path.relative_to(ROOT)}:{bound}")
    assert unread == [], "imported, never read:\n" + "\n".join(unread)


def _querydef_reads(tree: ast.AST) -> set[str]:
    """Attributes one module reads off a ``QueryDef``: ``QUERIES[...].f``,
    or ``v.f`` where ``v`` is bound from ``QUERIES[...]``,
    ``QUERIES.values()`` or the value of ``QUERIES.items()``. An
    ``import QUERIES as x`` alias counts as ``QUERIES``."""
    aliases = {"QUERIES"} | {
        a.asname
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.name == "QUERIES" and a.asname
    }

    def is_entry(n: ast.expr) -> bool:
        return (
            isinstance(n, ast.Subscript)
            and isinstance(n.value, ast.Name)
            and n.value.id in aliases
        )

    bound: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.For, ast.comprehension)):
            it, target = node.iter, node.target
            if not (
                isinstance(it, ast.Call)
                and isinstance(it.func, ast.Attribute)
                and isinstance(it.func.value, ast.Name)
                and it.func.value.id in aliases
            ):
                continue
            if it.func.attr == "items" and isinstance(target, ast.Tuple):
                target = target.elts[-1]
            elif it.func.attr != "values":
                continue
            if isinstance(target, ast.Name):
                bound.add(target.id)
        elif isinstance(node, ast.Assign) and is_entry(node.value):
            bound |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return {
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.ctx, ast.Load)
        and (
            is_entry(node.value)
            or (isinstance(node.value, ast.Name) and node.value.id in bound)
        )
    }


def test_every_querydef_field_is_read():
    """A registry field nothing reads is a value every registration
    sets for no one: the ``QUERIES`` key already carries the name."""
    read: set[str] = set()
    for path in _repo_files(".py"):
        if path != PKG / "queries" / "registry.py":
            read |= _querydef_reads(ast.parse(path.read_text(), filename=str(path)))
    unread = sorted(f.name for f in dataclasses.fields(QueryDef) if f.name not in read)
    assert unread == [], "QueryDef fields read nowhere: " + ", ".join(unread)


def test_no_optional_import_gate():
    """Every module the package imports is installed where it runs: a
    ``try`` that catches ``ImportError`` / ``ModuleNotFoundError``
    selects an arm one of the two environments can never execute."""
    gates = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Try, ast.TryStar)) and any(
                h.type is not None
                and any(
                    isinstance(n, ast.Name)
                    and n.id in ("ImportError", "ModuleNotFoundError")
                    for n in ast.walk(h.type)
                )
                for h in node.handlers
            ):
                gates.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert gates == [], "optional-import gates:\n" + "\n".join(gates)
