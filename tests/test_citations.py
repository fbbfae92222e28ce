"""No comment cites an artefact that does not exist: every repo path
that the package, the tests and bench.py cite (a tool script, a file
under plans/, a root document) resolves under the repo root or the
package root. ``plans/curate.py`` is the package module."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "trading212_etl_spark"

_CITED = re.compile(
    r"(?<![\w./-])"
    r"(tools/[\w./-]+?\.py|plans/[\w./-]*\w|[A-Z][A-Z0-9_]*\.(?:md|json))"
    r"(?![\w/])"
)


def _sources():
    yield from sorted(PACKAGE.rglob("*.py"))
    yield from sorted((REPO / "tests").glob("*.py"))
    yield REPO / "bench.py"


def test_cited_paths_exist():
    missing = [
        f"{path.relative_to(REPO)}:{n}: {cited}"
        for path in _sources()
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for cited in _CITED.findall(line)
        if not (REPO / cited).exists() and not (PACKAGE / cited).exists()
    ]
    assert not missing, missing
