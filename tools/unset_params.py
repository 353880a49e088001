"""List the defaulted parameters of engine functions that no call sets.

A defaulted parameter that no call in the repository ever passes is a
constant written as an option: every run uses the default. This scan
finds them so they can be turned into the constants they are.

Scope: every function defined exactly once (by name) under
``sentiflow_spark/``; calls are collected from ``sentiflow_spark/``,
``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``. A call is matched by the called name, written
bare (``f(...)``), as an attribute (``m.f(...)``), through an import
alias (``from m import f as g``) or through ``DataFrame.transform(f,
...)``. A parameter counts as set when a call passes it by keyword or by
position; a ``*args`` or ``**kwargs`` at the call counts as setting
every parameter it can reach.

The scan iterates to a fixpoint: an argument that merely forwards an
enclosing function's own unset parameter (``g(df, text_col)`` inside a
function whose ``text_col`` nobody sets) carries the default too, so it
does not count as setting ``g``'s parameter.

Usage: ``python tools/unset_params.py [REPO_ROOT]``. Prints one
``<path> <function> <parameter>`` line per unset parameter and exits 1
when there is any, 0 otherwise.
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

ENGINE = "sentiflow_spark"
CALLER_SCOPE = (ENGINE, "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _py_files(root: str, rel: str):
    path = os.path.join(root, rel)
    if path.endswith(".py"):
        if os.path.exists(path):
            yield path
        return
    for d, _, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(d, n)


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [p.arg for p in pos[len(pos) - len(a.defaults):]] if a.defaults else []
    out += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


class _Calls(ast.NodeVisitor):
    """Every call in one file as (called name, positional args, keyword
    args, enclosing function defs — innermost last)."""

    def __init__(self, aliases: dict[str, str]):
        self.aliases = aliases
        self.stack: list[ast.FunctionDef] = []
        self.calls: list[tuple[str, list, list, tuple, bool]] = []

    def visit_FunctionDef(self, node):
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _name(self, fn) -> str | None:
        if isinstance(fn, ast.Name):
            return self.aliases.get(fn.id, fn.id)
        if isinstance(fn, ast.Attribute):
            return fn.attr
        return None

    def visit_Call(self, node):
        name = self._name(node.func)
        via_attr = isinstance(node.func, ast.Attribute)
        if name is not None:
            self.calls.append((name, node.args, node.keywords, tuple(self.stack), via_attr))
        # df.transform(f, a, b) calls f(df, a, b)
        if via_attr and node.func.attr == "transform" and node.args:
            inner = self._name(node.args[0])
            if inner is not None:
                self.calls.append(
                    (inner, [node.func.value] + node.args[1:], node.keywords,
                     tuple(self.stack), False)
                )
        self.generic_visit(node)


def scan(root: str) -> list[tuple[str, str, str]]:
    # one parse per file, so a caller's enclosing function is the very
    # node its definition was collected from
    trees = {
        path: ast.parse(open(path).read(), path)
        for rel in CALLER_SCOPE
        for path in _py_files(root, rel)
    }
    defs: dict[str, list[tuple[str, ast.FunctionDef, bool]]] = defaultdict(list)
    for path in _py_files(root, ENGINE):
        tree = trees[path]
        for parent in ast.walk(tree):
            for node in ast.iter_child_nodes(parent):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs[node.name].append(
                        (os.path.relpath(path, root), node, isinstance(parent, ast.ClassDef))
                    )
    unique = {n: d[0] for n, d in defs.items() if len(d) == 1 and _defaulted(d[0][1])}

    calls = []
    for tree in trees.values():
        aliases = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        v = _Calls(aliases)
        v.visit(tree)
        calls += [c for c in v.calls if c[0] in unique]

    # (function def node id, parameter) pairs no call sets; shrinks to a
    # fixpoint as forwarding of unset parameters stops counting
    unset = {(id(node), p) for _, node, _ in unique.values() for p in _defaulted(node)}

    def forwards_unset(arg, stack) -> bool:
        if not isinstance(arg, ast.Name):
            return False
        for fn in reversed(stack):
            a = fn.args
            params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            if arg.id in params:
                return (id(fn), arg.id) in unset
        return False

    while True:
        is_set = set()
        for name, args, keywords, stack, via_attr in calls:
            _, node, is_method = unique[name]
            a = node.args
            names = [p.arg for p in a.posonlyargs + a.args]
            off = 1 if via_attr and is_method and names[:1] in (["self"], ["cls"]) else 0
            for kw in keywords:
                if kw.arg is None:
                    is_set.update((id(node), p) for p in _defaulted(node))
                elif not forwards_unset(kw.value, stack):
                    is_set.add((id(node), kw.arg))
            for i, arg in enumerate(args):
                if isinstance(arg, ast.Starred):
                    is_set.update((id(node), p) for p in names[off + i:])
                    break
                if off + i < len(names) and not forwards_unset(arg, stack):
                    is_set.add((id(node), names[off + i]))
        still = unset - is_set
        if still == unset:
            break
        unset = still

    return sorted(
        (path, name, p)
        for name, (path, node, _) in unique.items()
        for p in _defaulted(node)
        if (id(node), p) in unset
    )


def main(argv: list[str]) -> int:
    root = argv[1] if len(argv) > 1 else os.path.join(os.path.dirname(__file__), os.pardir)
    found = scan(os.path.abspath(root))
    for row in found:
        print(*row)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
