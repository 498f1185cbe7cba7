"""The package's import surface: exported names, the names the
benchmark's traced run wraps, and the names the examples import.

A rename that breaks any of them fails here, in tier-1, instead of in a
benchmark run or an example nobody runs. No Spark session is needed."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "tia_data_pipeline_spark"


@pytest.mark.parametrize("pkg", ["operators", "streaming"])
def test_all_names_resolve(pkg):
    mod = importlib.import_module(f"{PKG}.{pkg}")
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, f"{pkg}.__all__ names that do not resolve: {missing}"


def _wraps() -> tuple:
    tree = ast.parse(open(os.path.join(ROOT, "perfbench", "layers.py")).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "WRAPS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/layers.py defines no WRAPS")


def test_traced_run_wraps_resolve():
    wraps = _wraps()
    assert wraps
    missing = [
        f"{mod}.{attr}"
        for mod, attr, *_ in wraps
        if not hasattr(importlib.import_module(f"{PKG}.{mod}"), attr)
    ]
    assert not missing, f"perfbench WRAPS entries that do not resolve: {missing}"


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(ROOT, "examples", "*.py"))), ids=os.path.basename
)
def test_example_imports_resolve(path):
    missing = []
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(mod, alias.name):
                    try:
                        importlib.import_module(f"{node.module}.{alias.name}")
                    except ImportError:
                        missing.append(f"{node.module}.{alias.name}")
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    importlib.import_module(alias.name)
    assert not missing, f"{os.path.basename(path)} imports names that do not resolve: {missing}"
