"""Every engine name that the tools, the benchmarks and ``__spark_entry__.py``
import must exist, and every call they make to one must fit its signature:
a deletion or a removed parameter that breaks one of them fails here, before
the benchmark or a tool run finds out."""

import ast
import glob
import importlib
import inspect
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


def _lookup(module, name):
    """The object ``from module import name`` binds, or None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # a submodule not yet imported by its package
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


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
               if _lookup(m, n) is None]
    assert not missing, missing


def _scope_bindings(node):
    """(engine imports, other names) bound directly in the scope ``node``:
    imports of nested functions and classes belong to those scopes."""
    imports, other = {}, set()
    stack = list(ast.iter_child_nodes(node))
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
            other.add(n.name)
            continue
        if isinstance(n, ast.ImportFrom) and n.level == 0:
            for a in n.names:
                if (n.module or "").split(".")[0] == PKG:
                    imports[a.asname or a.name] = (n.module, a.name)
                else:
                    other.add(a.asname or a.name)
        elif isinstance(n, ast.Import):
            other.update((a.asname or a.name).split(".")[0] for a in n.names)
        elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            other.add(n.id)
        stack.extend(ast.iter_child_nodes(n))
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        a = node.args
        other.update(x.arg for x in a.posonlyargs + a.args + a.kwonlyargs)
        other.update(x.arg for x in (a.vararg, a.kwarg) if x)
    return imports, other


def _engine_calls(tree):
    """(engine function, call node) per call whose callee is an engine name
    imported in an enclosing scope, or an attribute of an imported engine
    module."""
    out = []

    def visit(node, visible):
        imports, other = _scope_bindings(node)
        visible = {k: v for k, v in visible.items() if k not in other}
        # a name bound both ways in one scope is ambiguous: skip it
        visible.update({k: v for k, v in imports.items() if k not in other})
        stack = list(ast.iter_child_nodes(node))
        while stack:
            n = stack.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
                visit(n, visible)
                continue
            stack.extend(ast.iter_child_nodes(n))
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            if isinstance(f, ast.Name) and f.id in visible:
                out.append((_lookup(*visible[f.id]), n))
            elif (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                  and f.value.id in visible):
                mod = _lookup(*visible[f.value.id])
                if inspect.ismodule(mod):
                    out.append((_lookup(mod.__name__, f.attr), n))

    visit(tree, {})
    return out


def test_engine_calls_in_tools_and_benchmarks_fit_signatures():
    """A keyword that names no parameter, or a positional count the
    signature cannot take, fails here instead of mid-benchmark."""
    checked, bad = 0, []
    for pattern in SOURCES:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            rel = os.path.relpath(path, ROOT)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for fn, call in _engine_calls(tree):
                if (not inspect.isfunction(fn)
                        or any(isinstance(a, ast.Starred) for a in call.args)
                        or any(k.arg is None for k in call.keywords)):
                    continue
                checked += 1
                try:
                    inspect.signature(fn).bind(
                        *call.args, **{k.arg: None for k in call.keywords})
                except TypeError as e:
                    bad.append(f"{rel}:{call.lineno} "
                               f"{ast.unparse(call.func)}: {e}")
    assert checked > 100, checked
    assert not bad, bad
