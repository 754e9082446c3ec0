"""Every engine name that the tools, the benchmarks and ``__spark_entry__.py``
import must exist: a deletion that breaks one of them fails here, before the
benchmark or a tool run finds out."""

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "quadtree_block_compression_spark"
SOURCES = ["tools/*.py", "perfbench/*.py", "__spark_entry__.py", "bench.py",
           "bench_extra.py"]


def _engine_imports(path):
    """(module, name) per ``from quadtree_block_compression_spark… import
    name`` anywhere in the file, function bodies included."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return [(node.module, alias.name)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.level == 0
            and (node.module or "").split(".")[0] == PKG
            for alias in node.names]


def _resolves(module, name):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule not yet imported by its package
        importlib.import_module(f"{module}.{name}")
        return True
    except ModuleNotFoundError:
        return False


def test_engine_names_imported_by_tools_and_benchmarks_resolve():
    imports = []
    for pattern in SOURCES:
        paths = sorted(glob.glob(os.path.join(ROOT, pattern)))
        assert paths, pattern
        for path in paths:
            rel = os.path.relpath(path, ROOT)
            imports += [(rel, m, n) for m, n in _engine_imports(path)]
    assert any(rel.startswith("perfbench/") for rel, _, _ in imports)
    missing = [f"{rel}: from {m} import {n}" for rel, m, n in imports
               if not _resolves(m, n)]
    assert not missing, missing
