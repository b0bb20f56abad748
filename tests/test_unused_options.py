"""No package function has a defaulted parameter that no call passes.

An option that every caller leaves at its default serves one value, and
that value belongs in the body as a constant.  No linter runs on this
tree, so this test is the gate: the package, ``tests/``, ``tools/``,
``perfbench/`` and the two top-level scripts are parsed with ``ast``,
calls are resolved by function name, and every defaulted parameter of a
package function must be passed by at least one call, by keyword or by
position.

Exempt, because a name-based scan cannot see their callers: functions
whose name is defined more than once in the package, functions called
with a ``*`` or ``**`` argument, and functions referenced as a value
(passed as a callback, stored in a table) rather than called.
"""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "tomasz_weight_tracker_spark"
CALLERS = (ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
           ROOT / "bench.py", ROOT / "__spark_entry__.py")

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(fn: ast.FunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index or None) of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if method and positional else 0
    out = [(p.arg, i - skip)
           for i, p in enumerate(positional) if i >= len(positional) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _defs(tree: ast.Module):
    """Yield (function, is_method) for every def in ``tree``, nested ones too."""
    methods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, _FUNCS) and not any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in item.decorator_list):
                    methods.add(item)
    for node in ast.walk(tree):
        if isinstance(node, _FUNCS):
            yield node, node in methods


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def unused_options(package: dict[str, str], callers: dict[str, str]) -> list[str]:
    """``file:line: function(param)`` for every defaulted parameter that no call passes.

    ``package`` maps file names to the sources whose functions are
    checked; ``callers`` maps file names to further sources whose calls
    count.
    """
    trees = {name: ast.parse(src) for name, src in {**callers, **package}.items()}
    defs = defaultdict(list)
    for name in package:
        for fn, method in _defs(trees[name]):
            defs[fn.name].append((name, fn, method))

    passed = defaultdict(set)          # function name -> {keyword} | {positional count}
    starred, as_value = set(), set()
    for tree in trees.values():
        called = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (name := _callee(node)) is not None:
                called.add(id(node.func))
                if any(isinstance(a, ast.Starred) for a in node.args) or any(
                        k.arg is None for k in node.keywords):
                    starred.add(name)
                passed[name] |= {k.arg for k in node.keywords}
                passed[name].add(len(node.args))
        for node in ast.walk(tree):
            if id(node) in called:
                continue
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                as_value.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                as_value.add(node.attr)

    found = []
    for fname, sites in defs.items():
        if len(sites) > 1 or fname in starred or fname in as_value:
            continue
        (file, fn, method), = sites
        counts = {p for p in passed[fname] if isinstance(p, int)}
        for param, index in _defaulted(fn, method):
            by_position = index is not None and any(c > index for c in counts)
            if param not in passed[fname] and not by_position:
                found.append(f"{file}:{fn.lineno}: {fname}({param})")
    return sorted(found)


def _sources(paths) -> dict[str, str]:
    out = {}
    for p in paths:
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            out[str(f.relative_to(ROOT))] = f.read_text()
    return out


def test_package_has_no_unused_options():
    package = _sources([PKG])
    found = unused_options(package, _sources(CALLERS))
    assert not found, "defaulted parameters no call passes:\n" + "\n".join(found)


def test_checker_reads_keywords_positions_and_exemptions():
    package = {"m.py": (
        "def f(a, b=1, c=2, *, d=3):\n    return a\n"
        "def g(x=1):\n    return x\n"
        "def h(y=1):\n    return y\n"
        "class K:\n    def m(self, z=1):\n        return z\n"
        "def use():\n    f(0, 5, d=4)\n    K().m()\n    run(g)\n    h(*[])\n"
    )}
    callers = {"t.py": "from m import f\nf(0, c=9)\n"}
    assert unused_options(package, callers) == ["m.py:8: m(z)"]
    callers = {"t.py": "K().m(2)\n"}
    assert unused_options(package, callers) == ["m.py:1: f(c)"]
