"""Command-line runner: execute any registry query by name.

    python -m trading212_etl_spark <query> [--sf-dir DIR] [--limit N]
    python -m trading212_etl_spark --list [PREFIX]
    python -m trading212_etl_spark <query> --explain

The CLI is the switch-over affordance for a user of the reference
script: every operator the engine implements is runnable by name
against any corpus directory, with the same session defaults the
benchmark uses (AQE on, UTC, local[cores] with shuffle partitions
from the corpus bytes and core count — session.shuffle_partitions_for).
`--explain` prints the formatted physical plan instead of rows, which
is the first thing to read before running anything at scale."""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m trading212_etl_spark",
        description="Run a registry query against a corpus directory.",
    )
    parser.add_argument("query", nargs="?", help="registry query name")
    parser.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="corpus directory of parquet tables (default sf0.01)",
    )
    parser.add_argument(
        "--limit", type=int, default=20, help="rows to show (default 20)"
    )
    parser.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows",
    )
    parser.add_argument(
        "--list",
        nargs="?",
        const="",
        metavar="PREFIX",
        help="list query names (optionally filtered by prefix)",
    )
    args = parser.parse_args(argv)

    from .registry import ORACLES, QUERIES

    if args.list is not None:
        for name in QUERIES:
            if name.startswith(args.list):
                mark = "oracle" if name in ORACLES else "rows-only"
                print(f"{name}  [{mark}]")
        return 0

    if not args.query:
        parser.error("a query name (or --list) is required")
    if args.query not in QUERIES:
        near = [n for n in QUERIES if args.query in n]
        hint = f" Did you mean: {', '.join(near[:5])}?" if near else ""
        print(f"unknown query {args.query!r}.{hint}", file=sys.stderr)
        return 2

    from .session import get_session

    spark = get_session(app_name=f"run:{args.query}")
    try:
        df = QUERIES[args.query](spark, args.sf_dir)
        if args.explain:
            df.explain(mode="formatted")
        else:
            # One execution: take(limit+1) both feeds the display and
            # reveals truncation — show() + count() would run the
            # whole job twice.
            rows = df.take(args.limit + 1)
            shown = rows[: args.limit]
            spark.createDataFrame(shown, df.schema).show(
                args.limit, truncate=False
            )
            if len(rows) > args.limit:
                print(f"(truncated at {args.limit} rows; more exist)")
            else:
                print(f"({len(rows)} rows total)")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
