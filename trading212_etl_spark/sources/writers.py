"""Sinks.

The reference's sink is a replace-write of the final table into a
Google Sheet (trading212.py:136, SURVEY §2.1 S8). The engine's storage
substrate is Parquet (BASELINE.json ``spark_approach``): columnar,
splittable, predicate-pushdown-capable — the format that makes the
100 TB read side work at all.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite-write Parquet, optionally hive-partitioned.

    ``partition_by`` is the principled version of the reference's
    manual 365-day window chunking (trading212.py:86-97, SURVEY §2.9
    T1): writing ``partitionBy("dt")`` gives every later reader
    partition pruning for free instead of hand-scheduled date loops.
    The frame is first clustered on the partition columns with a
    rebalance hint, so each hive partition's rows reach one write task
    and land in one file instead of one file per input task. AQE
    splits a partition larger than ``advisoryPartitionSizeInBytes``
    across several tasks (``optimizeSkewsInRebalancePartitions``), so
    a hot partition never funnels through a single task the way a
    plain ``repartition(col)`` would.
    """
    if partition_by:
        df = df.hint("rebalance", *partition_by)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    else:
        df.write.mode("overwrite").parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet directory
    into ~``target_file_bytes`` files and return the number of files
    written. The operational pass every long-lived table needs —
    streaming ingest and over-parallel writes leave thousands of tiny
    files, and at 100 TB the scan cost becomes footer-fetch-bound
    (one metadata round-trip per file) while the NameNode/listing
    layer degrades long before the data does.

    Sizing comes from the SOURCE bytes (a recursive driver-side
    listing — a metadata operation, not a data read): output file
    count = ceil(total_bytes / target). The rewrite coalesces the
    scan's partitions without a shuffle, so every output file is a
    concatenation of whole input files and keeps their sorted runs
    (and with them Parquet's dictionary/RLE compression). A
    hive-partitioned source keeps its layout: it is rewritten through
    :func:`write_parquet` on the discovered partition columns, one
    file per partition unless AQE splits an oversized one. Use
    zorder_write instead when the table has hot filter columns.
    """
    total, partition_cols = _parquet_layout(src_path)
    df = spark.read.parquet(src_path)
    if partition_cols:
        write_parquet(df, dst_path, partition_by=partition_cols)
    else:
        n_files = max(1, math.ceil(total / target_file_bytes))
        df.coalesce(n_files).write.mode("overwrite").parquet(dst_path)
    return len(_parquet_files(dst_path))


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def _parquet_layout(path: str) -> tuple[int, list[str]]:
    """Total bytes of the parquet files under ``path`` (recursively)
    and the hive partition columns their ``col=value`` directories
    name, outermost first (empty for a flat directory)."""
    files = _parquet_files(path)
    cols: list[str] = []
    if files:
        rel = os.path.relpath(os.path.dirname(files[0]), path)
        cols = [d.split("=", 1)[0] for d in rel.split(os.sep) if "=" in d]
    return sum(os.path.getsize(f) for f in files), cols


def zvalue16_expr(x: str, y: str) -> str:
    """SQL expression interleaving the low 16 bits of two integer
    columns into a 32-bit Morton (Z-order) value — ``x`` takes the
    even bit positions, ``y`` the odd.

    Emitted as portable shift/mask arithmetic (32 terms summed), so
    the IDENTICAL string runs on Spark and on the DuckDB oracle —
    cross-engine exact because it is pure integer arithmetic. Codegen
    collapses it into one fused projection; it never leaves the JVM.
    """
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


# files of a zorder_write: the range partitions of the Morton value
ZORDER_FILES = 8


def zorder_write(df: DataFrame, x: str, y: str, path: str) -> None:
    """Z-order-clustered Parquet write: range-partition on the Morton
    value of (``x``, ``y``) into ``ZORDER_FILES`` files and sort
    within each file, so parquet row-group/file min-max stats become
    tight on BOTH columns at once — a reader filtering on either
    dimension skips most files.

    This is the layout lever for the 100 TB read side: unlike
    ``partitionBy`` (one hierarchy, directory explosion per extra
    column) or ``sortBy`` one column (skipping on the second column
    degrades to nothing), Z-order gives multi-dimensional skipping
    from ONE range-shuffle + local sort. The same recipe is what
    Delta/Iceberg OPTIMIZE ZORDER runs under the hood;
    tests/test_plans.py proves the skipping effect on this writer's
    files by diffing per-file footer spans against a row-order write.

    Both columns are first scaled onto the full 16-bit range (exact
    integer arithmetic from a min/max pre-pass): raw interleaving of
    unequal-width keys puts all significant z-bits on the wider key
    and the curve degenerates to a single-column sort — the reason
    Delta rank-normalizes before Z-ordering. The pre-pass is one
    2-column scan (min/max are footer-answerable on parquet inputs);
    at extreme scale substitute a sampled quantile estimate, the
    layout only needs approximate bounds.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(x).alias("__xmin"),
        F.max(x).alias("__xmax"),
        F.min(y).alias("__ymin"),
        F.max(y).alias("__ymax"),
    )

    def scaled(col: str, lo: str, hi: str):
        return F.expr(
            f"CAST(({col} - {lo}) * 65535 DIV greatest({hi} - {lo}, 1) AS BIGINT)"
        )

    (
        df.crossJoin(F.broadcast(stats))
        .withColumn("__sx", scaled(x, "__xmin", "__xmax"))
        .withColumn("__sy", scaled(y, "__ymin", "__ymax"))
        .withColumn("__z", F.expr(zvalue16_expr("__sx", "__sy")))
        .repartitionByRange(ZORDER_FILES, "__z")
        .sortWithinPartitions("__z")
        .drop("__sx", "__sy", "__z", "__xmin", "__xmax", "__ymin", "__ymax")
        .write.mode("overwrite")
        .parquet(path)
    )
