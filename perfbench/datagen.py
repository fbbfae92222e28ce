"""Seeded input generator for the benchmark.

The inputs are the sf0.1 test corpus (the ten tables of the star schema
described in TESTDATA.md), kept in ``perfbench/corpus`` as zstd Parquet
with rows and schema unchanged. The seed draws only a row shuffle: every
table is written as one Parquet file whose rows are in an order drawn
from ``seed``. The same seed always gives byte-identical files.

Usage: python3 perfbench/datagen.py --seed 1 --out .perfbench/data/x
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
ROW_GROUP_ROWS = 65_536


def version() -> str:
    """Hash of everything the generated files depend on besides the
    seed: this module's source and the corpus files."""
    h = hashlib.sha256()
    for path in [os.path.abspath(__file__)] + [
        os.path.join(CORPUS, f"{t}.parquet") for t in TABLES
    ]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the corpus, rows shuffled by ``seed``, into ``out_dir`` as
    ``<table>.parquet`` files; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(CORPUS, f"{name}.parquet"))
        t = t.take(rng.permutation(t.num_rows))
        pq.write_table(
            t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP_ROWS
        )
        counts[name] = t.num_rows
    return counts


def parquet_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    for name, n in generate(args.out, args.seed).items():
        print(f"{name}: {n} rows")


if __name__ == "__main__":
    main()
