"""Partitioning helpers: the scale levers SURVEY §7 step 7 calls for.

Two distinct hazards at the two ends of the scale spectrum:

- **Under-split input** (bench/local): a small parquet file arrives as
  ONE split, so a CPU-heavy operator (regex shingling, MinHash, Arrow
  decode) serializes on one core while the session's other cores
  idle. ``fan_out`` widens the plan to cluster parallelism (one
  round-robin shuffle, each row moved once).
- **Skewed shuffle keys** (cluster): one hot key turns a shuffle stage
  into a single straggler task. ``with_salt``/``salted_agg`` implement
  two-phase salted aggregation; AQE's skew-join splitting (enabled in
  session.py) covers the join case.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure ``df`` has at least cluster-parallelism partitions before
    CPU-bound per-row work.

    The round-robin repartition shuffle moves each row once — trivially
    amortized when downstream does regex/hash/codec work per row. It
    widens unconditionally: a width check
    (``df.rdd.getNumPartitions() >= defaultParallelism``) would force a
    full physical-plan translation on the driver on EVERY call — pure
    driver-side overhead for the many operators that wrap their input
    in ``fan_out``.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _has_checkpoint_dir(df: DataFrame) -> bool:
    """True when the session has a reliable checkpoint location
    (``sparkContext.setCheckpointDir`` — Spark's own deployment
    setting, an HDFS/S3 path on a cluster)."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def materialize(df: DataFrame) -> DataFrame:
    """Eager, lineage-cutting materialization for multi-consumer and
    iterative plan nodes (e.g. connected_components, whose round-N
    plan would otherwise embed rounds 1..N-1).

    With a checkpoint directory set, ``checkpoint()`` writes the blocks
    there, so they survive executor loss. Without one,
    ``localCheckpoint()`` keeps them on the executors — the right call
    locally, and the path every caller takes unless the deployment
    sets a directory.
    """
    if _has_checkpoint_dir(df):
        return df.checkpoint()
    return df.localCheckpoint()


# -- pin lifecycle ----------------------------------------------------------
# freeze_partitions takes a lazy persist, which is a CacheManager entry
# until someone unpersists it. Left alone, every registry invocation
# would add MEMORY_AND_DISK blocks for the life of the session, and the
# CacheManager's canonicalized-plan lookup runs against every cached
# entry on every query (~1.3-1.5x tax on untouched queries at ~100
# pins, r5 measured). So while a registry build is open
# (``serial_pins``), freeze_partitions records its pins in that build's
# list, and the next build unpersists them. A pin taken outside a
# registry build is not recorded: it belongs to its caller, like any
# ``df.persist()``. Eager localCheckpoint/checkpoint blocks are never
# recorded: they live outside the CacheManager and are reclaimed by the
# ContextCleaner when their RDD is garbage-collected. Every pin is a
# performance cache only: no plan in the package reads a result that
# depends on which cached partition a row sits in, so releasing a pin
# early costs a recompute, never a wrong row. A build still frees only
# the previous build's pins, which are dead once the next build starts.

# the open build's pin list, or None outside a registry build
_BUILD_PINS: list[DataFrame] | None = None


@contextmanager
def serial_pins(held: list[DataFrame]):
    """Pins for callers that run build -> action -> build -> action
    serially (the registry): on entry, unpersist the pins ``held``
    took in the previous block — dead by the time the next build
    starts — then record into ``held`` the pins this block takes.
    Blocks do not nest: nothing builds a registry entry inside
    another build."""
    global _BUILD_PINS
    for df in held:
        df.unpersist(blocking=False)
    held.clear()
    _BUILD_PINS = held
    try:
        yield
    finally:
        _BUILD_PINS = None


def bounded_bucket(col: str) -> Column:
    """Non-foldable pseudo-constant partition key for windows over
    DOMAIN-BOUNDED frames — day/month/hour/dimension-indexed
    aggregates whose cardinality grows with calendar time or model
    width, not data volume.

    ``Window.orderBy`` without a partition is correct on such frames
    but logs the scary ``WindowExec: No Partition Defined`` warning on
    every query, burying real warnings in the bench tail.
    ``partitionBy(floor(col / 1e6))`` yields ONE partition for any
    domain below the 1M cap (identical frames, identical results) while
    surviving the optimizer — a literal key is constant-folded away
    and the warning returns. The cap sits safely above the domain's
    reachable range (1M day indices = year 4707; 1M embedding dims),
    because a domain that outgrows it would SPLIT the window. The column passed
    here must be an integer index with a hard domain bound, never a
    data-scaling key — and it must be NON-NEGATIVE: ``floor(-1/cap)``
    is ``-1``, so a signed index (e.g. a day epoch anchored mid-range)
    would silently split the window at zero. Current call sites are
    all unix_date/month/hour/dimension indices (>= 0 by construction);
    a future negative-capable epoch must be shifted non-negative
    first."""
    return F.floor(F.col(col) / F.lit(1_000_000))


def scalar_bucket(col: str) -> Column:
    """Non-foldable pseudo-constant partition key for windows over
    DOMAIN-BOUNDED frames whose key is a string/band column with no
    integer index (``bounded_bucket`` needs one). ``crc32`` of any
    value is < 2^32 by construction, so ``floor(crc32(col) / 2^32)``
    is 0 for EVERY row at EVERY scale — unlike ``bounded_bucket``
    there is no cap a growing domain can outgrow — while surviving
    the optimizer (a column-dependent expression cannot be
    constant-folded, so the window keeps a partition spec and the
    "No Partition Defined" warning never fires). Same scale contract
    as ``bounded_bucket``: the FRAME under the window must be
    domain-bounded (an already-aggregated band/brand/dimension
    frame), because all its rows still land on one partition. For a
    global scalar over such a frame this is CHEAPER than the
    persist + 1-row-broadcast-cross-join pattern: one small window
    exchange instead of a cached branch plus a broadcast job (the
    r6 bench regression on the heavy-hitters/chi-square pair was
    exactly that overhead)."""
    return F.floor(F.crc32(F.col(col).cast("string")) / F.lit(2**32))


def freeze_partitions(df: DataFrame) -> DataFrame:
    """Cache a frame that several plan branches consume, so its subtree
    runs once instead of once per consumer — the cheap sibling of
    ``materialize`` for plans whose cost is duplicated work, not
    lineage blow-up. The pin is a performance cache only: every
    consumer computes the same rows without it.

    Lazy ``persist(MEMORY_AND_DISK)`` fills on the first action, where
    an eager ``localCheckpoint`` costs a whole extra job per call. With
    a checkpoint directory set, the pin is a fault-tolerant
    ``checkpoint()`` instead (an executor-loss recompute is then a
    checkpoint read).

    Inside a registry build the persist is recorded and the next build
    unpersists it (``serial_pins``). A pin taken outside a registry
    build is the caller's to unpersist, like any ``df.persist()``.
    """
    if _has_checkpoint_dir(df):
        return df.checkpoint()
    from pyspark import StorageLevel

    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    if _BUILD_PINS is not None:
        _BUILD_PINS.append(pinned)
    return pinned


# Catalyst input estimate above which freeze_when_heavy pins. 16 MB
# splits the driver-bench corpora (sf0.1 documents ≈ 0.6 MB, events
# ≈ 2 MB) from the at-scale ones (125× documents ≈ 97 MB, events
# ≈ 152 MB) with two orders of magnitude of slack on either side.
_FREEZE_AUTO_BYTES = 16 << 20


def freeze_when_heavy(df: DataFrame) -> DataFrame:
    """``freeze_partitions``, applied only when the frame's Catalyst
    size estimate clears a threshold — the scale-adaptive pin for
    multi-consumer subtrees whose duplication is FREE on an idle
    cluster but ~linear CPU on a saturated one.

    Rationale (r14, guide §1.2/§2.1): sibling consumers of an
    unpinned frame re-execute its subtree as INDEPENDENT stages, and
    a scheduler with idle cores runs them concurrently — at bench SF
    the duplicated work costs almost no wall while the pin's cache
    materialization serializes the chain and adds real overhead
    (measured: the DSIR 3-consumer tokenize chain was ~1.9× slower
    pinned at sf0.1, but 0.94× at 125×; substring-span's 2-consumer
    window chain 0.50× at 125×). Once cores saturate — 125× locally,
    always at 100 TB — every duplicated pass is paid in full, and the
    pin wins. The decision input is the Catalyst ``sizeInBytes``
    estimate (derived from leaf file sizes — deterministic per
    corpus), compared against ``_FREEZE_AUTO_BYTES``, so the same code
    self-tunes from laptop to cluster.
    """
    return freeze_partitions(df) if is_heavy(df) else df


def is_heavy(df: DataFrame) -> bool:
    """True when ``df``'s Catalyst size estimate clears the
    ``freeze_when_heavy`` threshold — exposed for operators that
    switch between a light shape and a pinned at-scale shape (DSIR)
    rather than merely toggling one pin."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # noqa: BLE001 — no estimate: assume heavy (scale-safe)
        return True
    return size >= _FREEZE_AUTO_BYTES


# Salt width of the skew levers: a hot key spreads over this many
# shuffle partitions (salted_agg here, relational.salted_join)
SALT_BUCKETS = 16


def with_salt(df: DataFrame, n_buckets: int) -> DataFrame:
    """Attach a uniform salt column ``__salt`` in [0, n_buckets).
    Deterministic per row is NOT required (salt only spreads rows);
    monotonically_increasing_id avoids an RNG so re-runs of a stage
    stay stable."""
    return df.withColumn(
        "__salt", (F.monotonically_increasing_id() % n_buckets).cast("int")
    )


def salted_agg(
    df: DataFrame, keys: list[str], aggs: dict[str, tuple[str, str]]
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {sum, count, min, max}. Phase 1 aggregates on (keys + salt) —
    spreading a hot key over ``SALT_BUCKETS`` tasks — phase 2 re-combines
    per key (sum/count combine via sum; min/max via themselves).
    Associative-only by construction; avg = sum/count downstream.
    """
    first = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    salted = with_salt(df, SALT_BUCKETS)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[first[fn](col).alias(out) for out, (col, fn) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[recombine[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )


# Equi-width buckets per shuffle partition in ordered_prefix: the hash
# exchange on the bucket spreads about this many buckets over each
# partition, so uneven bucket sizes even out across tasks, while the
# per-bucket totals stay a metadata-sized frame.
_BUCKETS_PER_PARTITION = 64


_NUMERIC_TYPES = {"byte", "short", "integer", "long", "decimal", "float", "double"}


def _with_sort_bucket(
    df: DataFrame, order_by: list[Column], n_buckets: int
) -> DataFrame:
    """``df`` plus ``__bucket``, each row's bucket under ``order_by``: a
    pure function of the row's leading sort key that never decreases
    along the sort order.

    The key maps to a double that never decreases as it grows (dates
    through ``unix_date``, timestamps through ``unix_micros``) and is
    cut into ``n_buckets`` equal-width buckets between its smallest
    and largest finite value, read from a one-row aggregate broadcast
    onto every row (a broadcast stage starts with the input's own
    stages; a scalar subquery would start only once the bucket stage
    is planned, measured 0.1-0.2 s slower per call at sf0.1).
    The ends get their own buckets: nulls first or last as the order
    places them, NaN above +inf (Spark sorts it above every number),
    and -inf/+inf share the lowest/highest value bucket. Halving both
    operands keeps ``pos - lo`` finite for any pair of doubles.
    """
    # analysing df.orderBy(order_by[0]) resolves a plain column and a
    # desc() / asc_nulls_last() form alike, with Spark's own defaults
    order = df.orderBy(order_by[0])._jdf.queryExecution().analyzed().order().head()
    utils = df.sparkSession._jvm.org.apache.spark.sql.classic.ExpressionUtils
    key = Column(utils.column(order.child()))
    type_name = order.child().dataType().typeName()
    ascending = bool(order.isAscending())
    nulls_first = order.nullOrdering().sql() == "NULLS FIRST"
    if type_name == "date":
        pos = F.unix_date(key).cast("double")
    elif type_name == "timestamp":
        pos = F.unix_micros(key).cast("double")
    elif type_name.split("(")[0] in _NUMERIC_TYPES:
        pos = key.cast("double")
    else:
        raise ValueError(
            "ordered_prefix buckets on a numeric, date or timestamp leading "
            f"sort key, not {type_name}"
        )
    floating = type_name in ("float", "double")
    inf = F.lit(float("inf"))
    finite = F.when(~F.isnan(pos) & (F.abs(pos) < inf), pos) if floating else pos
    lo, hi = F.col("__lo"), F.col("__hi")
    span = F.when(hi > lo, hi / 2 - lo / 2).otherwise(F.lit(1.0))
    idx = F.least(
        F.floor((pos / 2 - lo / 2) / span * n_buckets), F.lit(n_buckets - 1)
    )
    if floating:
        idx = F.when(pos == -inf, 0).when(pos == inf, n_buckets - 1).otherwise(idx)
    # 0: nulls first; 1: NaN descending; 2 .. n+1: values in sort
    # order; n+2: NaN ascending; n+3: nulls last
    bucket = F.when(pos.isNull(), 0 if nulls_first else n_buckets + 3)
    if floating:
        bucket = bucket.when(F.isnan(pos), n_buckets + 2 if ascending else 1)
    bucket = bucket.otherwise(2 + (idx if ascending else n_buckets - 1 - idx))
    bounds = df.agg(F.min(finite).alias("__lo"), F.max(finite).alias("__hi"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__bucket", bucket.cast("bigint"))
        .drop("__lo", "__hi")
    )


def ordered_prefix(
    df: DataFrame,
    order_by: list[Column],
    *,
    sum_cols: list[str] | None = None,
    rn_name: str | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """Distributed ORDER BY scan: global ``row_number`` and/or running
    sums over a total order WITHOUT a single-partition WindowExec.

    The naive ``Window.orderBy(...)`` moves the entire frame through
    one task ("No Partition Defined"). This is the two-pass rewrite:

    1. each row gets an equal-width bucket of its LEADING sort key
       between the key's min and max (``_with_sort_bucket``), a pure
       function of the row's data that never decreases along the sort
       order, so bucket *b* holds a contiguous stretch of the order
       wholly below bucket *b+1*;
    2. one hash exchange on the bucket feeds a per-bucket window
       (``row_number`` and running sums, parallel across the cluster)
       and the per-bucket totals;
    3. the totals (at most ``_BUCKETS_PER_PARTITION`` x shuffle
       partitions rows, plus the null/NaN end buckets: METADATA, not
       data) are cascaded into exclusive offsets and broadcast-joined
       back.

    No branch depends on partition ids, sampled range bounds or a
    cache: re-executing any subtree, with or without exchange reuse
    or AQE coalescing, assigns every row the same bucket. The bucket
    count is ``spark.sql.shuffle.partitions`` x
    ``_BUCKETS_PER_PARTITION``.

    The skew trade: all rows with one leading value land in one
    bucket, so a hot leading value is one task's window, where a range
    partitioner could split it on the tiebreaker. The leading key must
    be numeric, a date or a timestamp.

    ``order_by`` must define a TOTAL order (include a unique
    tiebreaker), or equal sort keys get an arbitrary order.
    ``sum_cols`` get running sums as ``run_<col>`` (inclusive, or
    exclusive of the current row with ``exclusive=True``; null cells
    count as 0); ``rn_name`` adds the global row number. The
    per-bucket totals also yield grand totals, emitted as
    ``total_<col>`` / ``total_n`` on every row.

    Cost: one full-width shuffle (the bucket hash), one extra read of
    the input for the min/max aggregate, two broadcasts.
    """
    from pyspark.sql import Window

    sum_cols = list(sum_cols or [])
    reserved = {"__bucket", "__lo", "__hi", "__rn", "__cnt", "__off_n"} | {
        p + c for c in sum_cols for p in ("__run_", "__off_", "__sum_")
    }
    if rn_name in reserved:
        raise ValueError(f"rn_name {rn_name!r} shadows an internal column")
    existing = set(df.columns)
    # Public outputs must not silently overwrite caller columns
    # (withColumn replaces in place): the ranks/totals contract is
    # additive, so a collision is always a caller bug.
    outputs = {rn_name} if rn_name else set()
    outputs |= {f"run_{c}" for c in sum_cols}
    outputs |= {f"total_{c}" for c in sum_cols} | {"total_n"}
    clash = outputs & existing
    if clash:
        raise ValueError(
            f"ordered_prefix outputs {sorted(clash)} collide with input "
            "columns — rename them upstream"
        )
    n_buckets = _BUCKETS_PER_PARTITION * int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    bucketed = _with_sort_bucket(df, order_by, n_buckets).repartition("__bucket")
    local = Window.partitionBy("__bucket").orderBy(*order_by)
    running = bucketed.withColumn("__rn", F.row_number().over(local))
    for c in sum_cols:
        running = running.withColumn(
            f"__run_{c}",
            F.sum(c).over(local.rowsBetween(Window.unboundedPreceding, 0)),
        )

    # Totals from the window's output, already clustered on __bucket:
    # max(__rn) keeps the window, so this branch reads the sort and sum
    # columns through the same exchange as the rows, and when those are
    # all of df's columns the two branches share one shuffle (an
    # aggregate straight off ``bucketed`` prunes to the sum columns and
    # re-executes df up to its last exchange).
    totals = running.groupBy("__bucket").agg(
        F.max("__rn").cast("bigint").alias("__cnt"),
        *[F.sum(c).alias(f"__sum_{c}") for c in sum_cols],
    )
    # Exclusive cascade over the per-bucket totals, a metadata-sized
    # frame, so one window partition is the right scale class. The
    # partition key must survive the optimizer (a literal is folded
    # away, reverting to the "No Partition Defined" plan):
    # scalar_bucket is 0 on every row.
    zero = scalar_bucket("__bucket")
    cascade = Window.partitionBy(zero).orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    grand = Window.partitionBy(zero)
    offsets = totals.select(
        "__bucket",
        F.coalesce(F.sum("__cnt").over(cascade), F.lit(0)).alias("__off_n"),
        F.sum("__cnt").over(grand).alias("total_n"),
        *[
            F.coalesce(F.sum(f"__sum_{c}").over(cascade), F.lit(0)).alias(
                f"__off_{c}"
            )
            for c in sum_cols
        ],
        *[
            F.sum(f"__sum_{c}").over(grand).alias(f"total_{c}")
            for c in sum_cols
        ],
    )

    out = running.join(F.broadcast(offsets), "__bucket")
    if rn_name is not None:
        out = out.withColumn(rn_name, F.col("__rn") + F.col("__off_n"))
    for c in sum_cols:
        # coalesce: a bucket whose rows so far are all null has a null
        # window sum; the prefix before it still counts
        run = F.coalesce(F.col(f"__run_{c}"), F.lit(0)) + F.col(f"__off_{c}")
        if exclusive:
            run = run - F.coalesce(F.col(c), F.lit(0))
        out = out.withColumn(f"run_{c}", run)
    drop = ["__bucket", "__rn", "__off_n"]
    drop += [f"__run_{c}" for c in sum_cols] + [f"__off_{c}" for c in sum_cols]
    return out.drop(*drop)


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """Exact ``ntile(k)`` from a global row number and total count —
    the projection that replaces a global ntile window once
    ``ordered_prefix`` has produced the rank.

    SQL ntile semantics: with ``n = k*size + rem``, the first ``rem``
    buckets take ``size + 1`` rows, the rest ``size``. Pure integer
    arithmetic (ceil(a/b) = (a + b - 1) div b), so it matches both
    engines bit-for-bit; when n < k the first branch covers every row
    (size = 0, rem = n) and each row lands in its own bucket = rn,
    which is exactly SQL's answer.
    """
    size = F.floor(n / k)
    rem = n % k
    head = rn <= rem * (size + 1)
    head_bucket = F.floor((rn + size) / (size + 1))
    tail_bucket = rem + F.floor((rn - rem * (size + 1) + size - 1) / size)
    return F.when(head, head_bucket).otherwise(tail_bucket).cast("int")
