"""Every ``dataframework_spark`` or ``tools`` name a tool or example imports
exists.

The scripts under ``tools/`` and ``examples/`` are not run by the test
suite, and most import engine names inside functions, so a plain module
import would not notice a deleted or renamed name.  This walks each
script's syntax tree and resolves every ``from dataframework_spark… import
name``, ``from tools.<module> import name`` and ``import …`` of either,
function-level ones included.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, ROOT)
    for d in ("tools", "examples")
    for p in glob.glob(os.path.join(ROOT, d, "*.py"))
)


_PREFIXES = ("dataframework_spark", "tools.")


def _engine_imports(path: str):
    with open(os.path.join(ROOT, path)) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(_PREFIXES):
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PREFIXES):
                    yield node.lineno, alias.name, None


def test_scripts_found():
    assert any(p.startswith("tools") for p in SCRIPTS)
    assert any(p.startswith("examples") for p in SCRIPTS)


@pytest.mark.parametrize("script", SCRIPTS)
def test_engine_imports_resolve(script):
    missing = []
    for lineno, module, name in _engine_imports(script):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # ``from package import submodule``
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{script}:{lineno}: {module}.{name}")
    assert not missing, missing
