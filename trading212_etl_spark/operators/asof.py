"""Time-series joins Spark has no native operator for: as-of join and
interval range join.

The reference has no joins at all (SURVEY §2.3); these are the
extension operators a market-data/trading engine actually needs —
"price as of this fill's timestamp" is THE canonical query over the
reference's domain (Trading 212 transaction exports).

Scale design: the as-of join is built as a tagged union + one keyed
window — a single shuffle on the join key, linear per-row state, no
range-condition join that Spark would plan as a broadcast-nested-loop
or explode into per-bucket cross products. The range join keeps an
equi-key conjunct so Catalyst plans a hash join (shuffled or
broadcast), with the range as a cheap post-filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    left_by: str,
    right_by: str,
    value_cols: list[str],
    right_order: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row gains ``value_cols`` from the
    *latest* right row with ``right_ts <= left_ts`` (``direction=
    "backward"``, the pandas ``merge_asof`` / DuckDB ``ASOF LEFT
    JOIN`` default, tie-inclusive) or the *earliest* right row with
    ``right_ts >= left_ts`` (``direction="forward"``), at equal key.
    Unmatched left rows keep nulls.

    Plan shape: tag-union both sides onto one (key, ts) spine, then
    one conditional-carry window per key; the side-tag sorts right
    rows into the frame so equal timestamps match inclusively. BOTH
    directions run ``last(ignorenulls)`` over an unbounded-PRECEDING
    running frame — forward simply REVERSES every sort key. The naive
    forward form (``first(ignorenulls)`` over unbounded-FOLLOWING) is
    semantically identical but Spark's UnboundedFollowing frame
    re-aggregates the remaining partition per row — O(rows²) on a hot
    key (the 30%-hot-key skew corpus pinned one straggler task at
    13+ CPU-minutes), while the running frame updates incrementally,
    O(rows). One exchange on the key; window state is one row; at
    100 TB this is shuffle + sort, never a range-join blowup.

    ``right_order`` breaks ties among right rows sharing (key, ts) —
    backward keeps the max (sorted last ⇒ picked by ``last``),
    forward the min (sorted first ⇒ picked by ``first``). Pass it
    whenever (key, ts) is not unique on the right, or the result is
    plan-dependent.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    backward = direction == "backward"
    rv = F.struct(*[F.col(c) for c in value_cols]).alias("__rv")
    order_tail = [F.col("__rord").asc()] if right_order else []
    # backward: right(0) sorts before left(1) at equal ts so ties fall
    # inside the preceding frame; forward: left(0) before right(1) so
    # ties fall inside the following frame
    r_tag, l_tag = (0, 1) if backward else (1, 0)
    r = right.select(
        F.col(right_by).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(r_tag).alias("__tag"),
        (F.col(right_order) if right_order else F.lit(0)).alias("__rord"),
        rv,
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(  # noqa: E741
        F.col(left_by).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(l_tag).alias("__tag"),
        # typed to the right side's order column (may be a struct for
        # composite tiebreaks); the value is irrelevant — __tag already
        # separates the sides, so __rord only orders right-row ties
        F.lit(None).cast(r.schema["__rord"].dataType).alias("__rord"),
        F.lit(None).cast(r.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    if backward:
        w = Window.partitionBy("__k").orderBy(
            F.col("__ts").asc(), F.col("__tag").asc(), *order_tail
        )
    else:
        # forward = backward over the REVERSED order: ts desc puts
        # future rows in the preceding frame; tag desc puts equal-ts
        # right rows (tag 1) ahead of left (tag 0), keeping >= ties
        # inclusive; __rord desc makes last() pick the MIN tiebreak,
        # matching what first() picked in the ascending form.
        w = Window.partitionBy("__k").orderBy(
            F.col("__ts").desc(),
            F.col("__tag").desc(),
            *([F.col("__rord").desc()] if right_order else []),
        )
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carry = F.last("__rv", ignorenulls=True)
    carried = r.unionByName(l).withColumn("__match", carry.over(w))
    return carried.filter(F.col("__tag") == l_tag).select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col("__match")[c].alias(c) for c in value_cols],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    left_by: str,
    right_by: str,
    value_cols: list[str],
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')``): each left row gains the right row whose timestamp
    is closest in absolute time at equal key; equal distance prefers
    the backward (earlier-or-equal) match, the pandas tie rule.

    Built on the same single spine as :func:`asof_join`: both the
    backward carry (``last(ignorenulls)`` over unbounded-preceding)
    and the forward carry (``first(ignorenulls)`` over
    unbounded-following) run over ONE exchange on the key — the two
    window frames differ only in sort tiebreak, so the plan is one
    shuffle + two sorts, never a range join. The carried struct
    includes the right timestamp so the pick is a pure projection.

    ``right``'s ``o_orderkey`` breaks ties among right rows sharing
    (key, ts): both directions pick the max (matching an oracle that
    pre-dedupes to the greatest tiebreak value).
    """
    rv = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c) for c in value_cols],
    ).alias("__rv")
    r = right.select(
        F.col(right_by).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.col("o_orderkey").alias("__rord"),
        rv,
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(  # noqa: E741
        F.col(left_by).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(0).alias("__rord"),
        F.lit(None).cast(r.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    # Backward: right(0) before left(1) at equal ts ⇒ ties land in the
    # preceding frame with distance 0 — they win the nearest pick, so
    # the forward frame correctly excluding them is immaterial.
    # __rord asc ⇒ last() keeps the max at equal (key, ts); the
    # forward sort flips to __rord desc so first() also keeps the max.
    wb = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc(), F.col("__rord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward carry as a RUNNING frame over the reversed order (the
    # asof_join rationale: first()-over-unbounded-FOLLOWING
    # re-aggregates the tail per row, O(rows²) on a hot key): ts desc
    # brings future rows into the preceding frame; tag desc keeps
    # equal-ts right rows (tag 0) OUT of a left row's frame (left
    # tag 1 sorts first), preserving the strict > the ascending form
    # had; __rord asc makes last() pick the max tiebreak, matching
    # first() over __rord desc.
    wf = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").desc(), F.col("__tag").desc(), F.col("__rord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        r.unionByName(l)
        .withColumn("__back", F.last("__rv", ignorenulls=True).over(wb))
        .withColumn("__fwd", F.last("__rv", ignorenulls=True).over(wf))
    )

    # Exact integer time axis for the distance compare: µs for
    # timestamps, days for dates, the raw value for numerics — a
    # double axis would let sub-µs representation error flip a tie.
    from pyspark.sql import types as T

    ts_type = right.schema[right_ts].dataType
    if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        def _axis(c):
            return F.unix_micros(c)
    elif isinstance(ts_type, T.DateType):
        def _axis(c):
            return F.unix_date(c)
    else:
        def _axis(c):
            return c.cast("long")

    dist_b = _axis(F.col("__ts")) - _axis(F.col("__back")["__rts"])
    dist_f = _axis(F.col("__fwd")["__rts"]) - _axis(F.col("__ts"))
    match = (
        F.when(F.col("__back").isNull(), F.col("__fwd"))
        .when(F.col("__fwd").isNull(), F.col("__back"))
        .when(dist_b <= dist_f, F.col("__back"))
        .otherwise(F.col("__fwd"))
    )
    return (
        carried.filter(F.col("__tag") == 1)
        .withColumn("__match", match)
        .select(
            *[F.col(f"__l_{c}").alias(c) for c in left.columns],
            *[F.col("__match")[c].alias(c) for c in value_cols],
        )
    )


def interval_range_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    lower: Column,
    upper: Column,
) -> DataFrame:
    """Left-join rows whose ``right`` timestamp falls in a
    per-``left``-row interval, anchored by an equi-key conjunct; a
    ``left`` row with no match keeps null ``right`` columns.

    ``on`` must be an equality (the hash-join key); ``lower <= x <
    upper`` is applied as the join's residual condition. Keeping the
    equality separate is what lets Catalyst pick SortMergeJoin /
    broadcast instead of BroadcastNestedLoopJoin — the difference
    between O(n log n) and O(n*m) at 100 TB. A pure range join (no
    equi-key) should bucket the time axis first and equi-join on the
    bucket (see streaming/windows.py tumbling logic).
    """
    return left.join(right, on & lower & upper, "left")
