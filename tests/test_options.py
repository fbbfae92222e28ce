"""Every option has two values in use: in every module of the package,
a parameter with a default stays only if code that is not a test
passes at least two different values to it. A call that omits the
argument passes the default. A literal argument is its value; any
other argument counts as a value of its own at every call site. A
value only tests vary is a module constant the test monkeypatches,
not a parameter.

Calls are matched to definitions by name: a bare-name call, or an
attribute call whose base is a name the calling file imports (a
module alias such as ``textual.tokens``). A method call on any other
value (``"x".encode()``, ``df.select(...)``) is not a call of a
package function that happens to share its name."""

from __future__ import annotations

import ast
from collections import defaultdict
from collections.abc import Iterator
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "trading212_etl_spark"

# every module of the package, nested functions included
SCOPE = sorted(p.relative_to(PACKAGE).as_posix() for p in PACKAGE.rglob("*.py"))

# ``module function(param)`` -> why the parameter stays settable with
# fewer than two values in use. An entry whose parameter gains a
# second value, or disappears, is stale and fails the guard.
EXEMPT: dict[str, str] = {
    "session.py get_session(master)": (
        "deployment address: the cluster a session runs on is the "
        "deployer's choice, not the code's"
    ),
    "__main__.py main(argv)": "the command line",
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
    """(module, def) of every function in SCOPE, nested ones
    included."""
    found = []
    for rel in SCOPE:
        for node in ast.walk(ast.parse((PACKAGE / rel).read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found.append((rel, node))
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


def _imported_names(tree: ast.Module) -> set[str]:
    """Names an import binds anywhere in the file."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                names.add((alias.asname or alias.name).split(".")[0])
    return names


def _calls() -> dict[str, list[tuple[ast.Call, str]]]:
    """Non-test call sites by called name, with ``file:line``: bare-name
    calls, and attribute calls on an imported name."""
    calls = defaultdict(list)
    for path in _caller_files():
        rel = path.relative_to(REPO)
        tree = ast.parse(path.read_text())
        imported = _imported_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                name = f.id
            elif (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id in imported
            ):
                name = f.attr
            else:
                continue
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


def _scan() -> list[tuple[str, int, set[str]]]:
    """(``module function(param)``, line of the def, the values
    non-test code passes) for every defaulted parameter in scope."""
    calls = _calls()
    return [
        (f"{rel} {fn.name}({name})", fn.lineno, vals)
        for rel, fn in _scoped_functions()
        for name, vals in _values_in_use(fn, calls.get(fn.name, [])).items()
    ]


def single_valued() -> list[str]:
    """Each defaulted parameter in scope, exemptions aside, that
    non-test code sets to fewer than two values."""
    return [
        f"{key} line {line} values={sorted(vals)}"
        for key, line, vals in _scan()
        if len(vals) < 2 and key not in EXEMPT
    ]


def test_every_option_has_two_values_in_use():
    # the scan must see the package, not pass on an empty walk
    assert len(_scoped_functions()) > 400, len(_scoped_functions())
    found = single_valued()
    assert not found, "\n".join(found)


def test_exemptions_are_single_valued_parameters():
    scan = _scan()
    stale = [
        key
        for key in EXEMPT
        if not any(k == key and len(vals) < 2 for k, _, vals in scan)
    ]
    assert not stale, stale
