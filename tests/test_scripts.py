"""Every script under scripts/ imports only what exists: each module it
imports resolves, and so does each name it takes from a repo-local one
(the engine package, a root module, a sibling script). Checked by parsing the
scripts and importing their modules, without starting Spark — a script
that no test runs otherwise breaks silently when a module it leans on is
deleted or renamed."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS_DIR = os.path.join(REPO, "scripts")
SCRIPTS = sorted(glob.glob(os.path.join(SCRIPTS_DIR, "*.py")))


def _is_local(module: str) -> bool:
    top = module.split(".")[0]
    return any(
        os.path.exists(os.path.join(d, name))
        for d in (REPO, SCRIPTS_DIR)
        for name in (top, top + ".py")
    )


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(path, monkeypatch):
    # a script runs with its own directory on sys.path and inserts the root
    monkeypatch.syspath_prepend(REPO)
    monkeypatch.syspath_prepend(SCRIPTS_DIR)
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                assert importlib.util.find_spec(alias.name), (path, alias.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            assert importlib.util.find_spec(node.module), (path, node.module)
            if not _is_local(node.module):
                continue
            module = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(module, alias.name) or importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ), (path, f"{node.module}.{alias.name}")
