"""Guard: every package module is reachable through imports from an entry
point.

The roots are what actually runs the engine: the driver contract
(``__spark_entry__.py``), ``bench.py``, the scripts and the benchmark
harness. A module that none of them reaches is surface that only its own
tests call; it should be deleted with those tests, or listed in ``ALLOWED``
with the reason it stays.

Source-only: the imports are read from the AST (module-level and function-
local ``import`` / ``from ... import`` statements), nothing is imported and
no Spark starts.
"""

from __future__ import annotations

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ad_hoc_olap_query_processing_engine_spark"

# package-relative module prefixes that may stay unreached, with the reason
ALLOWED = {
    "plans": "plan-inspection helpers used only by tests (tests/test_plans.py "
    "and the plan snapshots assert on executed plans through them)",
    "cli": "the query-file front end, itself an entry point "
    "(python -m ...cli); reference operators O13/O14 in COVERAGE.md",
    "sources.io": "read_jdbc, the reference's JDBC source (reference operator "
    "O1 in COVERAGE.md); no registered query reads over JDBC",
}


def _root_files() -> list[str]:
    roots = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for d in ("scripts", "olapbench"):
        full = os.path.join(REPO, d)
        roots += sorted(
            os.path.join(full, f) for f in os.listdir(full) if f.endswith(".py")
        )
    return roots


def _package_modules() -> dict[str, str]:
    """Dotted module name → file, for every module of the package."""
    mods: dict[str, str] = {}
    base = os.path.join(REPO, PKG)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, REPO).replace(os.sep, ".")
        for f in filenames:
            if not f.endswith(".py"):
                continue
            name = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
            mods[name] = os.path.join(dirpath, f)
    return mods


def _imported(path: str, module: str | None, is_pkg: bool, mods: dict[str, str]) -> set[str]:
    """Package modules that the file at ``path`` imports, anywhere in its body.
    ``import a.b`` also imports ``a``; ``from a import b`` imports ``a`` and,
    if ``a.b`` is a module, ``a.b``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    # the package a relative import resolves against
    pkg = module if is_pkg else (module.rpartition(".")[0] if module else "")
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = pkg.split(".")
                anchor = ".".join(parts[: len(parts) - node.level + 1])
                src = f"{anchor}.{node.module}" if node.module else anchor
            else:
                src = node.module or ""
            names.add(src)
            names.update(f"{src}.{a.name}" for a in node.names)
    out: set[str] = set()
    for n in names:
        parts = n.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                out.add(prefix)
    return out


def reachable_modules() -> tuple[set[str], dict[str, str]]:
    mods = _package_modules()
    seen: set[str] = set()
    todo = [m for r in _root_files() for m in _imported(r, None, False, mods)]
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        path = mods[m]
        todo += _imported(path, m, path.endswith("__init__.py"), mods)
    return seen, mods


def _under(module: str, prefix: str) -> bool:
    rel = module.removeprefix(PKG).lstrip(".")
    return rel == prefix or rel.startswith(prefix + ".")


def test_every_package_module_is_reachable_from_an_entry_point():
    seen, mods = reachable_modules()
    orphans = sorted(
        m for m in mods if m not in seen and not any(_under(m, p) for p in ALLOWED)
    )
    assert not orphans, (
        f"package modules no entry point imports: {orphans}. Delete them "
        f"with the tests that only exercise them, or add them to ALLOWED "
        f"with the reason they stay."
    )


@pytest.mark.parametrize("prefix", sorted(ALLOWED))
def test_allow_list_entries_exist_and_are_unreached(prefix):
    """A stale allow-list entry would hide a future orphan under its name."""
    seen, mods = reachable_modules()
    listed = [m for m in mods if _under(m, prefix)]
    assert listed, f"ALLOWED names {prefix!r}, which is not a package module"
    assert not any(m in seen for m in listed), (
        f"{prefix!r} is reached from an entry point; drop it from ALLOWED"
    )
