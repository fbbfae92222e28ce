"""Relational operators: projections/filters (SURVEY §2.2), set ops
(§2.7), sorts/limits (§2.6), joins (§2.3).

Everything here is a composition of native DataFrame ops — lazy,
codegen-eligible, shuffle-aware. Scale levers are explicit parameters
(broadcast, salting) rather than hidden policy.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def filter_isin(df: DataFrame, col: str, values: list) -> DataFrame:
    """P1/P2 — IN-list row selection (``isin(['Buy','Sell'])``,
    trading212.py:120, 66-67). Catalyst pushes this into the Parquet
    scan (PushedFilters: In(col, ...)), so at 100 TB the filter runs
    in the reader, not after it."""
    return df.filter(F.col(col).isin(values))


def union_all(*dfs: DataFrame) -> DataFrame:
    """U1/U2 — the reference's accumulate-by-append loop
    (trading212.py:59, 110) as a single lazy n-ary union. No O(n^2)
    recopying: Spark unions are plan nodes, and adjacent unions
    collapse into one physical ``Union`` operator."""
    return reduce(lambda a, b: a.unionByName(b), dfs)


def union_outer(*dfs: DataFrame) -> DataFrame:
    """U3 — ``pd.concat(sort=False)`` outer union with schema
    alignment (trading212.py:127): columns missing on one side
    null-fill via ``allowMissingColumns``."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """O1+O2 — global top-k. ``orderBy().limit(k)`` compiles to
    ``TakeOrderedAndProject``: each partition keeps a k-row heap and
    only k rows per partition reach the driver-side merge — no global
    sort shuffle at any scale."""
    return df.orderBy(*order).limit(k)


def broadcast_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """§2.3 — fact⋈dim with the dim side broadcast: the intended
    semantics of the reference's broken account-id enrichment
    (trading212.py:109). Broadcasting the small side removes the
    fact-side shuffle entirely — the single most important join lever
    at 100 TB (dims here are KBs-MBs; the fact table is the 100 TB)."""
    return fact.join(F.broadcast(dim), on, "inner")


def salted_join(big: DataFrame, skewed: DataFrame, key: str) -> DataFrame:
    """Skew-mitigated inner equi-join: explode the build side into
    ``partitioning.SALT_BUCKETS`` replicas and scatter the probe side's
    hot keys across them, so one hot key becomes that many shuffle
    partitions instead of one straggler task. AQE's skew-join handles
    moderate skew automatically; this is the explicit lever for
    pathological keys (SURVEY §7 scale hardening).
    """
    from ..partitioning import SALT_BUCKETS

    salt = (
        F.crc32(F.col(key).cast("string")) + F.monotonically_increasing_id()
    ) % SALT_BUCKETS
    big_s = big.withColumn("__salt", salt.cast("int"))
    skewed_s = skewed.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    out = big_s.join(skewed_s, [key, "__salt"], "inner")
    return out.drop("__salt")


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """MERGE / upsert without a table format: apply ``changes`` onto
    ``base``, keeping per key the row with the highest ``version_col``
    (changes win ties — they are the later write). The principled form
    of the reference's union-with-manual-sheet (trading212.py:127),
    which simply stacked conflicting records.

    Plan shape: union + one keyed window (single shuffle on the merge
    keys) — the same shape Delta/Iceberg MERGE lowers to when the
    target isn't clustered. At 100 TB: bucket both sides by the keys to
    make the exchange a no-op, and prune base partitions by the change
    set's key range before the union.
    """
    tagged_base = base.withColumn("__src", F.lit(0))
    tagged_changes = changes.withColumn("__src", F.lit(1))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(version_col).desc(), F.col("__src").desc())
    )
    return (
        tagged_base.unionByName(tagged_changes)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def scd2_build(
    changes: DataFrame,
    key: str,
    ts_col: str,
    attrs: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change log:
    collapse consecutive observations whose tracked ``attrs`` are
    unchanged, then emit one validity interval per surviving state —
    ``effective_from`` (inclusive), ``effective_to`` (exclusive, null
    for the open current row) and ``is_current``.

    The standard warehouse dimension-history pattern (Kimball SCD
    type 2), built from two stacked windows over the SAME partition
    key: (1) ``lag`` over ``attrs`` to drop no-op changes, (2)
    ``lead(ts)`` over the survivors for the interval close. Catalyst
    plans both windows after ONE exchange on ``key`` (the second
    window reuses the partitioning and only re-sorts if needed), so
    the whole build is a single shuffle — at 100 TB, bucket the change
    log by ``key`` and even that exchange disappears.

    Tie policy: observations are ordered by (ts, attrs) so same-ts
    duplicates order deterministically; an exact duplicate of its
    predecessor is dropped by the change filter.
    """
    state = F.struct(*[F.col(a) for a in attrs])
    w_ord = Window.partitionBy(key).orderBy(F.col(ts_col), *[F.col(a) for a in attrs])
    changed = (
        changes.select(key, ts_col, *attrs)
        .withColumn("__prev", F.lag(state).over(w_ord))
        # null-safe: first row per key (prev null) and any attr-null
        # transition must both count as "changed" (IS DISTINCT FROM)
        .filter(~F.col("__prev").eqNullSafe(state))
        .drop("__prev")
    )
    w2 = Window.partitionBy(key).orderBy(F.col(ts_col), *[F.col(a) for a in attrs])
    return (
        changed.withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
        .drop(ts_col)
    )
