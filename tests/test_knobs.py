"""Every knob has a caller: the engine reads no session conf of its
own, and only the environment variables that some caller outside the
package sets. A new switch must come with a caller and an entry here."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "trading212_etl_spark"

ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",  # perfbench/run.py and bench.py size local[cores]
    "SPARK_GRAFT_DRIVER_MEM",  # perfbench/run.py sizes the driver heap
    "SPARK_GRAFT_PAIRS_TOP_K",  # tools/sweep_sf.py bounds the pair entries
}

_CONF_KEY = re.compile(r"spark\.trading212\.[\w.]*")
_ENV_READ = re.compile(
    r"""(?:environ\.get\(|environ\[|getenv\()\s*["']([A-Za-z_]\w*)["']"""
)


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE.parent), path.read_text()


def test_no_engine_session_confs():
    found = {
        f"{rel}: {key}"
        for rel, text in _sources()
        for key in _CONF_KEY.findall(text)
    }
    assert not found, sorted(found)


def test_env_reads_are_exactly_the_called_ones():
    names = set()
    for rel, text in _sources():
        for n, line in enumerate(text.splitlines(), 1):
            if "environ" not in line and "getenv" not in line:
                continue
            read = _ENV_READ.findall(line)
            # an environment access this scan cannot name is a failure,
            # not a pass: spell the variable out at the read
            assert read, f"{rel}:{n}: unrecognized environment access: {line}"
            names.update(read)
    assert names == ALLOWED_ENV
