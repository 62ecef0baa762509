"""Every module of the package is imported, transitively, from a
non-test entry point: the CLI, the Python worker daemon, the Spark
entry, the benchmarks or a tool. A module only tests import is a
second copy of behaviour that nothing runs or measures; it is
either deleted or listed in ALLOWED with the reason it stays.

Pure AST, no Spark: imports are read from the source (function-level
imports included), never executed."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "osmgraft"

# the Python worker daemon is named by string in session.py
# (spark.python.daemon.module), not imported
ENTRY_MODULES = ("osmgraft.cli", "osmgraft._worker")
ENTRY_FILES = sorted(
    [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    + [
        p
        for d in ("tools", "perfbench")
        for p in (ROOT / d).glob("*.py")
        if not p.name.startswith("test_")
    ]
)

# modules that hold reference semantics and that only tests reach
ALLOWED = {
    "osmgraft.geo.rings": "SURVEY G9 multipolygon ring assembly, "
    "checked by tests/test_rings_differential.py",
    "osmgraft.operators.rings_op": "SURVEY G9 ring assembly as a "
    "Spark operator, checked by tests/test_rings_differential.py",
    "osmgraft.updateplan": "C2 cascade planner of osmupdate, "
    "checked by tests/test_updateplan.py",
}


def _module_files() -> dict[str, pathlib.Path]:
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = p
    return out


def _imports(path: pathlib.Path, name: str | None) -> set[str]:
    """Absolute names of every module `path` imports. `name` is the
    file's own module name (None outside the package); a package's
    __init__ resolves relative imports against itself."""
    base = (name or "").split(".")
    if path.name != "__init__.py":
        base = base[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                head = base[: len(base) - node.level + 1]
                mod = ".".join(head + [node.module or ""]).strip(".")
            else:
                mod = node.module or ""
            out.add(mod)
            # `from pkg import sub` may name a submodule
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _reached(modules: dict[str, pathlib.Path]) -> set[str]:
    seen: set[str] = set()
    todo = [(p, None) for p in ENTRY_FILES] + [
        (modules[m], m) for m in ENTRY_MODULES
    ]
    seen.update(ENTRY_MODULES)
    while todo:
        path, name = todo.pop()
        for imp in _imports(path, name):
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in modules and m not in seen:
                    seen.add(m)
                    todo.append((modules[m], m))
    return seen


def test_every_module_reached_from_an_entry_point():
    modules = _module_files()
    for m in list(ENTRY_MODULES) + list(ALLOWED):
        assert m in modules, f"{m} is gone"
    reached = _reached(modules)
    orphans = sorted(set(modules) - reached - set(ALLOWED))
    assert not orphans, (
        "modules only tests import (delete them, or give an entry "
        f"point a use for them): {orphans}"
    )
    stale = sorted(m for m in ALLOWED if m in reached)
    assert not stale, f"reached, so drop from ALLOWED: {stale}"
