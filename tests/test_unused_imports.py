"""No package module imports a name it never uses.

No linter runs on this tree, so this test is the gate: every module
under ``tomasz_weight_tracker_spark/`` is parsed with ``ast`` and each
name an import binds must be referenced in the module, as a name or
inside a string annotation.  ``__init__.py`` files are exempt: their
imports are re-exports.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "tomasz_weight_tracker_spark"


def _imported(tree: ast.Module) -> dict[str, int]:
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    out[a.asname or a.name] = node.lineno
    return out


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _referenced(tree: ast.Module) -> set[str]:
    used = _names(tree)
    annotations = []
    for node in ast.walk(tree):
        if isinstance(node, ast.arg):
            annotations.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annotations.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
    for ann in annotations:
        for c in ast.walk(ann) if ann is not None else ():
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                used |= _names(ast.parse(c.value, mode="eval"))
    return used


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of every imported name ``source`` never references."""
    tree = ast.parse(source)
    used = _referenced(tree)
    return sorted((line, name) for name, line in _imported(tree).items() if name not in used)


def test_package_has_no_unused_imports():
    found = [
        f"{path.relative_to(PKG.parent)}:{line}: {name}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for line, name in unused_imports(path.read_text())
    ]
    assert not found, "unused imports:\n" + "\n".join(found)


def test_checker_reads_string_annotations():
    source = (
        "from typing import Any, Dict\nimport os.path\n"
        "def f(x: 'Dict[str, Any]') -> None:\n    pass\n"
    )
    assert unused_imports(source) == [(2, "os")]
