"""Event-table operators (SURVEY §2.9): the batch forms of the
reference's incremental-processing intent.

T1 (chunked 365-day window extraction, trading212.py:89-97) becomes a
declarative tumbling window; the poll-until-ready ingestion loop (T2,
trading212.py:100-111) becomes a Structured Streaming file source in
``streaming/`` — these batch forms stay DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_agg(
    events: DataFrame, duration: str, slide: str | None = None
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) event-time window
    aggregate. ``F.window`` computes the bucket per row — fully
    parallel, no driver loop, and at scale the groupBy shuffle is the
    only exchange."""
    w = F.window("ts", duration, slide) if slide else F.window("ts", duration)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def label_sessions(events: DataFrame, gap_minutes: int) -> DataFrame:
    """Row-level session labeling: append ``session_seq`` (per-user
    session ordinal) to every event. A new session starts when the gap
    to the previous event of the same user exceeds ``gap_minutes``
    (strict ``>``; ties broken by event_id).

    This is THE sessionization rule — :func:`sessionize` and the
    session-path miner (registry ``events_session_paths``) both build
    on it, so a change to the gap comparison or tiebreak lands
    everywhere at once. lag → gap flag → running sum; both window
    passes share the (user_id, ts) partitioning, so Catalyst reuses
    one shuffle.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    is_new = F.when(gap_s.isNull() | (gap_s > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(is_new).over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )


def sessionize(events: DataFrame, gap_minutes: int) -> DataFrame:
    """Gap-based sessionization: per-session aggregate over
    :func:`label_sessions` labels. This is the batch twin of
    Structured Streaming's ``session_window`` (see
    streaming/windows.py).
    """
    return (
        label_sessions(events, gap_minutes).groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


# inactivity gap that closes a session (session_window_agg and its
# streaming twin)
SESSION_GAP_MIN = 30
# retention_cohorts' activity bucket and its width in seconds
RETENTION_BUCKET = "week"
RETENTION_BUCKET_S = 7 * 86400


def session_window_agg(events: DataFrame) -> DataFrame:
    """Session windows via the native ``F.session_window`` expression
    (the same operator Structured Streaming uses for stateful
    sessionization, here in its batch form).

    Merge semantics: each event opens ``[ts, ts+gap)`` with gap =
    ``SESSION_GAP_MIN`` minutes; overlapping windows merge, so a gap
    of *exactly* ``gap`` starts a new session (strict ``<`` overlap).
    The oracle's lag-based rewrite must use ``>=`` on the gap to
    match. Window end = last event + gap.
    """
    gap = f"{SESSION_GAP_MIN} minutes"
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    max_gap_minutes: int | None = None,
) -> DataFrame:
    """Ordered funnel analysis: per user, the furthest step reached,
    where step k counts only if it first occurs at or after the user's
    qualifying occurrence of step k-1 (classic product-analytics
    funnel). With ``max_gap_minutes``, step k must additionally occur
    within that many minutes of step k-1 — the conversion-window form
    ("purchased within an hour of clicking"), which plain sequence
    funnels overstate.

    Plan shape: ONE shuffle regardless of step count — per user,
    collect the sorted timestamp list of each step type in a single
    aggregate, then resolve the step ordering in array higher-order
    functions (element_at of the filtered list). The alternative
    self-join-per-step formulation shuffles the full event table k-1
    times; the gap constraint is a pure extra lambda conjunct.

    Each step's qualifying time ``__t{i}`` lands in its OWN chained
    projection instead of one nested expression. Lambda bodies
    re-evaluate captured subtrees PER ARRAY ELEMENT, so inlining step
    k-1's filter into step k's lambda is O(list^k) per row — invisible
    on uniform data, but the 30%-hot-key skew corpus put ~190k
    timestamps in one user's lists and a single funnel row ground a
    straggler task for 12+ minutes. With the projection boundaries
    each __t{i} is computed once per row and the whole resolve is
    O(total list length). (CollapseProject keeps the boundaries:
    every __t{i} is referenced more than once downstream — the next
    step's lambda and the reached sum — and is non-cheap.)
    """
    agged = events.groupBy("user_id").agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == s, F.col("ts")))
            ).alias(f"__l{i}")
            for i, s in enumerate(steps)
        ]
    )
    # try_element_at: ANSI element_at throws on an EMPTY (not null)
    # array, and a user whose step-k events all fail the filter
    # produces exactly that
    out = agged.withColumn("__t0", F.try_element_at(F.col("__l0"), F.lit(1)))
    for i in range(1, len(steps)):
        # earliest occurrence of step i at/after the prior step's time;
        # a null prev nulls the comparison, so the filter empties and
        # the funnel stays stopped — no special-casing needed
        prev_cap = F.col(f"__t{i - 1}")
        if max_gap_minutes is None:
            cond = lambda t: t >= prev_cap  # noqa: E731
        else:
            gap = F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
            cond = lambda t: (t >= prev_cap) & (t <= prev_cap + gap)  # noqa: E731
        out = out.withColumn(
            f"__t{i}",
            F.try_element_at(F.filter(F.col(f"__l{i}"), cond), F.lit(1)),
        )
    reached = sum(
        (
            F.when(F.col(f"__t{i}").isNotNull(), 1).otherwise(0)
            for i in range(1, len(steps))
        ),
        start=F.when(F.col("__t0").isNotNull(), 1).otherwise(0),
    )
    # Funnel steps are sequential, so steps_reached > 0 iff step 0
    # fired — filter on __t0 IS NOT NULL, NOT on steps_reached.
    # Predicate pushdown substitutes alias definitions into the
    # predicate as it crosses the __t{i} projections; a steps_reached
    # predicate re-nests every step's filter into one expression and
    # the Filter node re-pays the O(list^k) evaluation the chained
    # projections exist to avoid (the jstack of the hot-key straggler
    # showed exactly that: ArrayFilter inside ArrayFilter inside the
    # pushed predicate). __t0's definition is element_at(__l0, 1) —
    # O(1) however far down it lands.
    return out.filter(F.col("__t0").isNotNull()).select(
        "user_id", reached.alias("steps_reached")
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-activity bucket
    (``RETENTION_BUCKET``, the cohort), counted per subsequent activity
    bucket offset — the standard growth-analytics triangle.

    One events pass, shuffling only (user, bucket)-level rows: the
    cohort is ``min(bucket) OVER (PARTITION BY user_id)`` on the
    distinct activity frame — ``date_trunc`` is monotonic, so the
    minimum bucket IS the truncated first activity, and every user in
    the frame has a first bucket, so the former
    first-activity-aggregate + join-back (which scanned events a
    second time and at dimension scale shuffled both join sides)
    filters nothing (r14, guide §2.1/§2.3). Per-user window
    partitions hold at most one row per calendar bucket — bounded by
    the date range, never by volume."""
    b = F.date_trunc(RETENTION_BUCKET, F.col("ts"))
    active = events.select("user_id", b.alias("bucket")).distinct()
    cohort = F.min("bucket").over(Window.partitionBy("user_id"))
    offset = F.floor(
        (F.unix_timestamp("bucket") - F.unix_timestamp("cohort"))
        / RETENTION_BUCKET_S
    ).cast("int")
    return (
        active.withColumn("cohort", cohort)
        .select("user_id", "cohort", offset.alias("offset"))
        # DATE, not the timestamp date_trunc returns: DuckDB's
        # date_trunc('week'/'day') yields DATE, and the driver's value
        # canonicalization distinguishes '2024-01-01' from
        # '2024-01-01 00:00:00' even though pandas coerces both
        .groupBy(F.col("cohort").cast("date").alias("cohort"), "offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def json_props(events: DataFrame) -> DataFrame:
    """F13/F14 — JSON field extraction from the semi-structured
    ``props`` column (the reference navigates REST JSON dicts in
    Python, trading212.py:65-67, 105-111; pd.json_normalize at :59).

    ``get_json_object`` evaluates JVM-side; for hot paths with many
    fields, ``from_json`` with a pinned schema parses once.
    """
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        F.from_json("props", "k LONG").getField("k").alias("k_typed"),
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-sequence transition matrix: P(next event type |
    current event type) — the Markov-chain summary behind next-action
    prediction features and session-flow dashboards.

    Pipeline: order each user's stream by (ts, event_id) — the id
    tiebreak makes simultaneous events deterministic across engines —
    take ``lead(event_type)`` within the user partition, then count
    (src, dst) pairs. Probabilities are exact integer basis points of
    the source row total (floor), so the SQL oracle matches without
    float division drift.

    Scale shape (100 TB): one shuffle on user_id for the lead window
    (per-user partitions are session-sized, no skew hazard), one
    map-side-combined groupBy on (src, dst) — the transition matrix is
    |event_types|^2, tiny at any corpus size — and the per-src totals
    come from a window over that tiny frame, not a second pass over
    the facts.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    src_w = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n_transitions",
        F.expr(
            "n_transitions * 10000 DIV sum(n_transitions)"
            " OVER (PARTITION BY src)"
        ).alias("prob_bp"),
    )


def rollup_hierarchy(events: DataFrame) -> DataFrame:
    """Multi-resolution rollup hierarchy (hour -> day -> month), each
    level aggregated FROM THE LEVEL BELOW — the continuous-aggregate /
    hypertable-rollup pattern: once the hourly layer is materialized,
    a daily refresh reads 24 rows per (day, type) instead of
    re-scanning the fact table, and monthly reads ~30 per (month,
    type). Returns the monthly layer; a pipeline would persist all
    three.

    Hierarchical == direct-aggregation equivalence (what the oracle
    checks) requires the measure to be exactly re-aggregatable:
    DOUBLE sums are order-dependent, and a three-level double sum
    rounds differently than a flat one. Each event value is therefore
    cast to DECIMAL(18,2) once at the hourly layer; decimal sums are
    exact, so every level (and the flat oracle) agrees bit-for-bit —
    the same money-correctness policy as flagship_pipeline_decimal.

    Scale shape: three shuffles of geometrically shrinking frames
    (facts -> |hours x types|, then tiny); count and sum both re-roll
    (avg would not — re-aggregatable measures only is the rule of
    continuous aggregates).
    """
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "hour").alias("day"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_value").alias("total_value"),
    )
    return (
        daily.groupBy(
            F.date_trunc("month", "day").cast("date").alias("month"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("double").alias("total_value"),
        )
    )
