"""Every top-level function, class and constant of the engine package is
named somewhere outside its own body — in the package, the entry point
(``__spark_entry__.py``), ``perfbench/``, ``scripts/`` or ``tests/``. A
definition that nothing names is dead code: no root reaches it and no
test checks it. Checked by parsing the sources with ``ast``, without
importing them or starting Spark. Names count when code uses them (a
load, an attribute or an import), not when a docstring or comment
mentions them. Registry queries (``@register``) and dunders count as
used: the registry and Python reach them by decorator and by protocol."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "etl_adsbx_spark")


def _sources() -> list[str]:
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for d in (PACKAGE, *(os.path.join(REPO, d) for d in ("perfbench", "scripts", "tests"))):
        paths += glob.glob(os.path.join(d, "**", "*.py"), recursive=True)
    return sorted(paths)


def _references(tree: ast.AST):
    """(name, line) of every name the code uses."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and (getattr(d.func, "id", None) or getattr(d.func, "attr", None)) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _definitions(tree: ast.Module):
    """(name, statement) of every top-level function, class and constant."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        yield name.id, node


def test_every_package_definition_is_named_outside_its_body():
    trees, uses = {}, {}
    for path in _sources():
        with open(path) as f:
            trees[path] = tree = ast.parse(f.read(), path)
        for name, line in _references(tree):
            uses.setdefault(name, []).append((path, line))
    dead = []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for name, node in _definitions(tree):
            if (name.startswith("__") and name.endswith("__")) or _is_registered(node):
                continue
            if not any(
                p != path or not node.lineno <= line <= node.end_lineno
                for p, line in uses.get(name, ())
            ):
                dead.append(f"{os.path.relpath(path, REPO)}:{node.lineno} {name}")
    assert not dead, "defined but never named outside their own body:\n" + "\n".join(dead)
