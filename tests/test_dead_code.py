"""Dead-code guard: every top-level function and class in the package must
be referenced somewhere other than its own definition.

A pure AST scan, no Spark. References are names and attribute accesses in
the package, jobs/, tools/, perfbench/, tests/, bench.py and
__spark_entry__.py. ``__init__`` re-exports do not count: a re-export is
not a caller. Matching is by bare name, so a definition shadowed by another
symbol of the same name can slip through — the guard errs toward passing.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_profiler_spark"
REFERENCE_SOURCES = [
    *(ROOT / d for d in ("data_profiler_spark", "jobs", "tools", "perfbench", "tests")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# name -> why it may stay without a caller. Keep empty: delete dead code.
ALLOWLIST: dict[str, str] = {}


def _py_files(src: Path):
    return [src] if src.is_file() else sorted(src.rglob("*.py"))


def _package_defs() -> dict[str, list[str]]:
    defs: dict[str, list[str]] = {}
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append(f"{path.relative_to(ROOT)}:{node.lineno}")
    return defs


def _references() -> Counter:
    """Name/attribute references, minus those inside the referenced name's
    own top-level package definition (recursion is not a caller)."""
    refs: Counter = Counter()

    def walk(node, own: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Name) and child.id != own:
                refs[child.id] += 1
            elif isinstance(child, ast.Attribute) and child.attr != own:
                refs[child.attr] += 1
            walk(child, own)

    for src in REFERENCE_SOURCES:
        for path in _py_files(src):
            if path.name == "__init__.py":
                continue
            in_package = PACKAGE in path.parents
            for node in ast.parse(path.read_text()).body:
                walk(node, node.name if in_package and isinstance(node, DEFS) else None)
    return refs


def test_no_uncalled_package_definitions():
    refs = _references()
    dead = {
        name: where
        for name, where in _package_defs().items()
        if refs[name] == 0 and name not in ALLOWLIST
    }
    assert not dead, f"top-level definitions nothing references: {dead}"

