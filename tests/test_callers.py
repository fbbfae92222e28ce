"""Every public function has a caller: each public top-level function
of the package is referenced by name from code that is not a test (the
package itself, perfbench/, tools/, bench.py or __spark_entry__.py).
A re-export in an ``__init__.py`` or a name in ``__all__`` is not a
caller; neither is a function's own body. Registry programs
(``@register``) are reached through the registry, and the CLI's
``main`` through ``python -m``, so both are skipped."""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "trading212_etl_spark"


def _caller_files() -> Iterator[Path]:
    yield from sorted(PACKAGE.rglob("*.py"))
    yield from sorted(
        p for p in (REPO / "perfbench").rglob("*.py") if not p.name.startswith("test_")
    )
    yield from sorted((REPO / "tools").glob("*.py"))
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` loads, as a bare name or as an attribute."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
    return out


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(target, ast.Name) and target.id == "register"


def _public_functions() -> list[tuple[str, str]]:
    """(name, ``file:line`` of its def) of every public top-level
    function in the package."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or any(
                _is_register(d) for d in node.decorator_list
            ):
                continue
            if path == PACKAGE / "__main__.py" and node.name == "main":
                continue
            found.append((node.name, f"{path.relative_to(REPO)}:{node.lineno}"))
    return found


def _referenced() -> set[str]:
    """Names loaded by caller code, outside ``__init__.py`` re-exports
    and ``__all__``, and not counting a top-level function's
    references to itself."""
    refs = set()
    for path in _caller_files():
        body = ast.parse(path.read_text()).body
        if path.name == "__init__.py":
            body = [
                n
                for n in body
                if not isinstance(n, (ast.Import, ast.ImportFrom))
                and not (
                    isinstance(n, ast.Assign)
                    and any(
                        isinstance(t, ast.Name) and t.id == "__all__"
                        for t in n.targets
                    )
                )
            ]
        for node in body:
            names = _names(node)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.discard(node.name)
            refs |= names
    return refs


def test_every_public_function_has_a_caller():
    public = _public_functions()
    # the scan must see the package, not pass on an empty walk
    assert len(public) > 100, len(public)
    refs = _referenced()
    missing = [f"{where} {name}" for name, where in public if name not in refs]
    assert not missing, missing
