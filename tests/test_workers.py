"""Python kernels and the per-task cost of a reused Python worker.

Every task on a reused worker ends its setup in
``importlib.invalidate_caches()``, which re-reads the directory of each
zip archive a zipimporter in ``sys.path_importer_cache`` covers
(``pyspark.zip``, the py4j zip, the spark-core jar). Every kernel the
package ships to workers therefore starts with ``drop_zip_importers()``
(see ``session._zip_importer_dropper``)."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

import pandas as pd

from trading212_etl_spark.session import drop_zip_importers

PACKAGE = Path(__file__).resolve().parent.parent / "trading212_etl_spark"

# methods whose first argument is a function run on Python workers
_KERNEL_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
_HELPER = "drop_zip_importers"


def _is_pandas_udf(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(target, ast.Name) and target.id == "pandas_udf") or (
        isinstance(target, ast.Attribute) and target.attr == "pandas_udf"
    )


def _starts_with_helper(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
        and len(body) > 1
    ):
        body = body[1:]  # a docstring may come first
    first = body[0]
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == _HELPER
        and not first.value.args
        and not first.value.keywords
    )


class _Kernels(ast.NodeVisitor):
    """Collects the worker-side kernels of one module: the functions
    passed to the kernel methods (resolved by name through the
    enclosing scopes) and the ``pandas_udf``-decorated functions.
    A kernel argument this scan cannot resolve to a function defined
    in the module is recorded as unresolved, which fails the check."""

    def __init__(self):
        self.scopes: list[dict[str, ast.FunctionDef]] = []
        self.kernels: dict[int, ast.FunctionDef] = {}
        self.unresolved: list[str] = []

    @staticmethod
    def _defs(body) -> dict[str, ast.FunctionDef]:
        # function defs of one scope, including those nested in
        # if/with/try blocks but not inside other functions or classes
        found = {}
        stack = list(body)
        while stack:
            node = stack.pop()
            if isinstance(node, ast.FunctionDef):
                found[node.name] = node
            elif not isinstance(node, (ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)):
                stack.extend(ast.iter_child_nodes(node))
        return found

    def visit_Module(self, node):
        self.scopes.append(self._defs(node.body))
        self.generic_visit(node)
        self.scopes.pop()

    def visit_FunctionDef(self, node):
        if any(_is_pandas_udf(d) for d in node.decorator_list):
            self.kernels[id(node)] = node
        self.scopes.append(self._defs(node.body))
        self.generic_visit(node)
        self.scopes.pop()

    def visit_Call(self, node):
        func = node.func
        if isinstance(func, ast.Attribute) and func.attr in _KERNEL_METHODS:
            arg = node.args[0] if node.args else None
            fn = None
            if isinstance(arg, ast.Name):
                fn = next(
                    (s[arg.id] for s in reversed(self.scopes) if arg.id in s), None
                )
            if fn is None:
                self.unresolved.append(f"line {node.lineno}: {func.attr}")
            else:
                self.kernels[id(fn)] = fn
        self.generic_visit(node)


def _package_kernels():
    kernels, unresolved = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        scan = _Kernels()
        scan.visit(ast.parse(path.read_text()))
        rel = path.relative_to(PACKAGE.parent)
        kernels += [(f"{rel}:{fn.lineno} {fn.name}", fn) for fn in scan.kernels.values()]
        unresolved += [f"{rel} {u}" for u in scan.unresolved]
    return kernels, unresolved


def test_every_kernel_first_drops_zip_importers():
    kernels, unresolved = _package_kernels()
    assert not unresolved, unresolved
    per_module = defaultdict(int)
    for where, _ in kernels:
        per_module[where.split(":")[0]] += 1
    # the scan must see the kernels it guards, or it proves nothing
    assert per_module["trading212_etl_spark/operators/multimodal.py"] >= 9, per_module
    assert per_module["trading212_etl_spark/operators/similarity.py"] >= 5, per_module
    missing = [where for where, fn in kernels if not _starts_with_helper(fn)]
    assert not missing, f"kernels that do not start with {_HELPER}(): {missing}"


def test_drop_helper_ships_by_value():
    # workers cannot import the package: a closure that is not
    # reachable by its qualified name is pickled by value
    assert "<locals>" in drop_zip_importers.__qualname__


def test_reused_worker_skips_archive_reread(spark):
    """A task on a reused worker finds no zipimporter left for its
    ``invalidate_caches()`` to re-read. A fresh worker's first task
    finds the 16 it was forked with, and what runs after the call in
    that task can re-create the 3 top-level ones, so its second task
    may still find those; every later task must find none. The probe
    (2 x cores tasks) repeats until some worker has run three tasks:
    the daemon hands tasks to its idle workers in turn, and a session
    that ran chained kernels before keeps more workers than cores."""
    cores = spark.sparkContext.defaultParallelism

    def probe(batches):
        import os
        import sys
        import time
        import zipimport

        started = time.monotonic_ns()
        found = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        drop_zip_importers()
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "t": [started], "zipimporters": [found]}
        )

    rows = []
    for _ in range(8):
        rows += (
            spark.range(0, 4000, numPartitions=2 * cores)
            .mapInPandas(probe, "pid long, t long, zipimporters long")
            .collect()
        )
        seen = defaultdict(list)  # per worker, in the order its tasks ran
        for r in sorted(rows, key=lambda r: r.t):
            seen[r.pid].append(r.zipimporters)
        if any(len(found) >= 3 for found in seen.values()):
            break
    reused = {pid: found for pid, found in seen.items() if len(found) >= 3}
    assert reused, f"no Python worker ran three tasks: {dict(seen)}"
    stale = {pid: found for pid, found in reused.items() if any(found[2:])}
    assert not stale, f"workers that re-read archives after two tasks: {stale}"
