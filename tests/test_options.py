"""Every option has two values in use: in the near-dup and vector
operators and their oracle builders, a parameter with a default stays
only if code that is not a test passes at least two different values
to it. A call that omits the argument passes the default. A literal
argument is its value; any other argument counts as a value of its own
at every call site. A value only tests vary is a module constant the
test monkeypatches, not a parameter."""

from __future__ import annotations

import ast
from collections import defaultdict
from collections.abc import Iterator
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "trading212_etl_spark"

# module -> the functions in scope (None: every function in it)
SCOPE: dict[str, set[str] | None] = {
    "operators/dedup.py": None,
    "operators/similarity.py": None,
    "operators/graph.py": None,
    "operators/quality.py": {"entity_pairs_blocked"},
    "plans/curate.py": {"curate_corpus"},
    "registry/_core.py": {"_lsh_oracle_banded"},
    "registry/llm.py": {
        "_minhash_md5_cand_ctes",
        "_minhash_md5_oracle",
        "_simhash_md5_oracle",
        "_pq_oracle",
        "_pq_adc_oracle",
        "_knn_outlier_oracle",
        "_incremental_md5_oracle",
    },
}


def _caller_files() -> Iterator[Path]:
    yield from sorted(PACKAGE.rglob("*.py"))
    yield from sorted(
        p for p in (REPO / "perfbench").rglob("*.py") if not p.name.startswith("test_")
    )
    yield from sorted((REPO / "tools").glob("*.py"))
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"


def _scoped_functions() -> list[tuple[str, ast.FunctionDef]]:
    """(``file:line``, def) of every function in SCOPE, nested ones
    included where a whole module is in scope."""
    found = []
    for rel, names in SCOPE.items():
        tree = ast.parse((PACKAGE / rel).read_text())
        nodes = ast.walk(tree) if names is None else tree.body
        for node in nodes:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if names is None or node.name in names:
                found.append((f"{rel}:{node.lineno}", node))
    wanted = {n for names in SCOPE.values() if names for n in names}
    missing = wanted - {fn.name for _, fn in found}
    assert not missing, sorted(missing)
    return found


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str, ast.expr]]:
    """(positional index or None, name, default) of each parameter
    with a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [
        (first + i, positional[first + i].arg, d) for i, d in enumerate(a.defaults)
    ]
    out += [
        (None, arg.arg, d)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _value(node: ast.expr, where: str) -> str:
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return f"<expression at {where}>"


def _calls() -> dict[str, list[tuple[ast.Call, str]]]:
    """Non-test call sites by called name (a bare name or an
    attribute), with ``file:line``."""
    calls = defaultdict(list)
    for path in _caller_files():
        rel = path.relative_to(REPO)
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name:
                calls[name].append((node, f"{rel}:{node.lineno}:{node.col_offset}"))
    return calls


def _values_in_use(
    fn: ast.FunctionDef, calls: list[tuple[ast.Call, str]]
) -> dict[str, set[str]]:
    params = _defaulted(fn)
    values = {name: set() for _, name, _ in params}
    for call, where in calls:
        starred = next(
            (i for i, a in enumerate(call.args) if isinstance(a, ast.Starred)), None
        )
        kw = {k.arg: k.value for k in call.keywords if k.arg is not None}
        splat = any(k.arg is None for k in call.keywords)
        for idx, name, default in params:
            if name in kw:
                values[name].add(_value(kw[name], where))
            elif idx is not None and starred is not None and idx >= starred:
                values[name].add(f"<*args at {where}>")
            elif idx is not None and idx < len(call.args):
                values[name].add(_value(call.args[idx], where))
            elif splat:
                values[name].add(f"<**kwargs at {where}>")
            else:
                values[name].add(_value(default, "default"))
    return values


def single_valued() -> list[str]:
    """``file:line function(param)`` for each defaulted parameter in
    scope that non-test code sets to fewer than two values."""
    calls = _calls()
    out = []
    for where, fn in _scoped_functions():
        for name, vals in _values_in_use(fn, calls.get(fn.name, [])).items():
            if len(vals) < 2:
                out.append(f"{where} {fn.name}({name}) values={sorted(vals)}")
    return out


def test_every_option_has_two_values_in_use():
    # the scan must see the scoped modules, not pass on an empty walk
    assert len(_scoped_functions()) > 40, len(_scoped_functions())
    found = single_valued()
    assert not found, "\n".join(found)
