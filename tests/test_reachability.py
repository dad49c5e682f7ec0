"""Every package module is reachable from an entry point.

Walks the import closure of the entry points (``__spark_entry__.py``,
``bench.py``, ``run_*.py`` and ``tierbench/``) over the source's AST, so
no Spark session starts: every ``import`` / ``from ... import`` node
counts, function-local and relative ones included. A package module the
walk does not reach is code no workload, CLI, gate query or benchmark
runs; it fails here instead of growing tests of its own.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "workbook_exporter_fe_spark"
# tierbench's scripts import each other as top-level modules
SEARCH = (REPO, os.path.join(REPO, "tierbench"))

#: reached by tests only, each with its reason
UNREACHED = {
    # ROADMAP item 5: the snapshot-log streaming source and the
    # continuous tier rollup are to join the ingest path or go
    "sources/snapshot_source.py",
    "streaming/stream_rollup.py",
}


def _entry_points() -> list[str]:
    top = [f for f in os.listdir(REPO)
           if f in ("__spark_entry__.py", "bench.py")
           or (f.startswith("run_") and f.endswith(".py"))]
    bench = [os.path.join("tierbench", f)
             for f in os.listdir(os.path.join(REPO, "tierbench")) if f.endswith(".py")]
    return [os.path.join(REPO, f) for f in top + bench]


def _module_file(name: str) -> str | None:
    parts = name.split(".")
    for root in SEARCH:
        base = os.path.join(root, *parts)
        for f in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(f):
                return f
    return None


def _package_of(path: str) -> str:
    rel = os.path.relpath(os.path.dirname(path), REPO)
    return "" if rel == "." else rel.replace(os.sep, ".")


def _imports(path: str):
    """The module names ``path`` imports; for ``from X import n`` both
    ``X`` and ``X.n`` (``n`` may be a submodule)."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = _package_of(path).split(".")
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(p for p in (*pkg, base) if p)
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _closure() -> set[str]:
    seen: set[str] = set()
    todo = _entry_points()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imports(path):
            parts = name.split(".")
            # importing a.b.c imports the packages a and a.b too
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f is not None and f not in seen:
                    todo.append(f)
    return seen


def test_every_package_module_is_reached():
    pkg = os.path.join(REPO, PACKAGE)
    modules = {
        os.path.relpath(os.path.join(d, f), pkg)
        for d, _, files in os.walk(pkg) for f in files if f.endswith(".py")
    }
    reached = {os.path.relpath(f, pkg) for f in _closure()
               if f.startswith(pkg + os.sep)}
    assert UNREACHED <= modules, UNREACHED - modules
    assert UNREACHED.isdisjoint(reached), UNREACHED & reached
    orphans = sorted(modules - reached - UNREACHED)
    assert not orphans, f"no entry point imports {orphans}"
