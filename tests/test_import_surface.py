"""Every package name the entry points and scripts import must exist.

Scripts under ``scripts/`` and ``perfbench/`` are not run by the test
suite, and most of their package imports sit inside functions, so a
renamed or deleted API name breaks them silently. This walks their ASTs
(function-local imports included) and resolves every
``from etl_pipeline_last_fm_spark... import name`` without starting
Spark."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_pipeline_last_fm_spark"


def _sources() -> list[str]:
    files = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for pattern in ("scripts/*.py", "perfbench/*.py"):
        files += sorted(glob.glob(os.path.join(ROOT, pattern)))
    return [f for f in files if os.path.exists(f)]


def _package_imports(path: str) -> list[tuple[int, str, str]]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                out += [(node.lineno, node.module, a.name) for a in node.names]
    return out


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize(
    "path", _sources(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_package_imports_resolve(path):
    missing = [
        f"{os.path.relpath(path, ROOT)}:{line}: from {module} import {name}"
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)
