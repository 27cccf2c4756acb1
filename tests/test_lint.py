"""Stdlib lint over the package, the tests and the scripts.

Two checks, both from the AST alone (no third-party linter needed):
- an import whose name is never used, at module level or inside a
  function; a ``# noqa: F401`` on the import's lines keeps it (an import
  made for its side effect or as an availability probe);
- a top-level ``def`` or ``class`` name defined twice in one file, so the
  second silently replaces the first (a shadowed test never runs).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DIRS = ("classification_problem_with_pyspark_spark", "tests", "scripts")


def _files() -> list[Path]:
    return sorted(p for d in DIRS for p in (ROOT / d).rglob("*.py"))


def _used_names(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            used.add(n.value)  # a name listed in __all__
    return used


def _unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()

    def noqa(imp: ast.AST) -> bool:
        return any("noqa: F401" in lines[i - 1] for i in range(imp.lineno, imp.end_lineno + 1))

    scopes = [(tree, tree.body)] + [
        (fn, fn.body)
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    found = []
    for scope, body in scopes:
        imports = [s for s in body if isinstance(s, (ast.Import, ast.ImportFrom))]
        if not imports:
            continue
        used = _used_names(scope)
        for imp in imports:
            if noqa(imp) or (isinstance(imp, ast.ImportFrom) and imp.module == "__future__"):
                continue
            for alias in imp.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in used:
                    found.append(f"{path.relative_to(ROOT)}:{imp.lineno} {name}")
    return found


def _redefined(path: Path) -> list[str]:
    seen: dict[str, int] = {}
    found = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in seen:
                found.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name} (first at {seen[node.name]})")
            seen.setdefault(node.name, node.lineno)
    return found


def test_no_unused_imports():
    found = [f for p in _files() for f in _unused_imports(p)]
    assert not found, "unused imports:\n" + "\n".join(found)


def test_no_top_level_name_defined_twice():
    found = [f for p in _files() for f in _redefined(p)]
    assert not found, "redefined top-level names:\n" + "\n".join(found)
