"""Output check: row count plus an order-insensitive hash of a result,
computed by DuckDB the same way for the engine's output and for the
oracle SQL over the same generated inputs."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_harness():
    """``tests/oracle_harness.py`` loaded by path, so the benchmark's
    own modules never shadow the repository's ``tests`` package."""
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(ROOT, "tests", "oracle_harness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def connect(data_dir: str):
    """DuckDB connection with one view per input table (the oracle
    harness's), timestamps read and printed in UTC."""
    con = _oracle_harness().duckdb_conn(data_dir)
    con.execute("SET TimeZone = 'UTC'")
    return con


def _canon(col: str, duck_type: str) -> str:
    q = '"' + col.replace('"', '""') + '"'
    t = duck_type.upper()
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        # 8 significant digits: a sum over many rows changes in its last
        # bits with the order it is added in (row order, partitioning,
        # threads), which a fixed number of decimals does not absorb on
        # large values; + 0.0 folds -0.0 into 0.0
        return f"printf('%.7e', CAST({q} AS DOUBLE) + 0.0)"
    if t.startswith("TIMESTAMP"):
        return f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({q} AS VARCHAR)"


def digest(con, relation: str) -> dict:
    """``{"rows", "hash", "columns"}`` of a relation (a table function
    call or a query); the hash sums one hash per row, so row order does
    not matter, and each column is hashed in a type-neutral form."""
    sql = relation.strip().rstrip(";")
    if not sql.lower().startswith("read_parquet"):
        sql = f"({sql})"
    rel = con.sql(f"SELECT * FROM {sql}")
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    cols = sorted(types)
    row_hash = "hash(" + ", ".join(_canon(c, types[c]) for c in cols) + ")"
    rows, h = con.sql(
        f"SELECT count(*), coalesce(sum({row_hash}), 0) FROM {sql}"
    ).fetchone()
    return {"rows": int(rows), "hash": str(h), "columns": cols}
