"""Every package module is reached from a declared entry point.

The closure is computed from source with ``ast`` (no Spark, no
imports): start at ``ROOTS``, follow every relative and absolute
import of a package module, function-local ones included, and add the
parent packages each import runs. A module outside the closure fails
the test unless ``ALLOWLIST`` names it with a reason; an entry that is
reached, or that names no module, fails it too.

A new module is wired from a root, or gets an allowlist entry in
``tools/exec_closure.py::REFERENCE_ROWS`` if it is a reference row.
"""

from __future__ import annotations

import ast
import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# module -> the SURVEY.md §2.1 reference row it is the engine's only
# implementation of; tools/exec_closure.py allowlists the same modules
from tools.exec_closure import REFERENCE_ROWS as ALLOWLIST  # noqa: E402

PACKAGE = "real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark"
PKG_DIR = Path(__file__).resolve().parents[1] / PACKAGE

# module (dotted, relative to the package; "" is the package) -> why it is a root
ROOTS = {
    "": "`import <package>`: every caller's first import (get_spark)",
    "__main__": "the CLI, `python -m <package>`",
    "plans": "the query registry that bench.py and __spark_entry__.py import",
    "streaming": "the streaming pipelines its __init__ exports",
    "sources.tables": "loaded by name in perfbench/run.py",
    "streaming.crowd_density": "loaded by name in perfbench/run.py",
    "streaming.pipeline": "loaded by name in perfbench/run.py",
}


def _modules() -> dict[str, Path]:
    """Dotted module name -> source file, for every module in the package."""
    out = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = path.relative_to(PKG_DIR).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that importing ``name`` can import directly."""
    here = [PACKAGE] + (name.split(".") if name else [])
    if path.name != "__init__.py":
        here.pop()  # a plain module's relative imports start at its package
    targets = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level + 1] if node.level else []
            base = ".".join(base + ([node.module] if node.module else []))
            # `from x import y` imports x, and x.y too when y is a module
            targets += [base] + [f"{base}.{a.name}" for a in node.names]
    found = set()
    for target in targets:
        parts = target.split(".")
        if parts[0] != PACKAGE:
            continue
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[1:i])
            if mod in modules:
                found.add(mod)
    return found


def _closure(modules: dict[str, Path]) -> set[str]:
    seen, todo = set(), list(ROOTS)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(mod, modules[mod], modules) - seen)
    return seen


def test_roots_exist():
    modules = _modules()
    assert not [r for r in ROOTS if r not in modules]


def test_every_module_is_reached_or_allowlisted():
    modules = _modules()
    unreached = sorted(set(modules) - _closure(modules) - set(ALLOWLIST))
    assert not unreached, (
        f"modules no entry point imports: {unreached}; wire each from a "
        "root, give it an ALLOWLIST entry with its reason, or delete it"
    )


def test_allowlist_is_not_stale():
    modules = _modules()
    reached = _closure(modules)
    stale = sorted(m for m in ALLOWLIST if m not in modules or m in reached)
    assert not stale, f"allowlist entries that are reached or missing: {stale}"
