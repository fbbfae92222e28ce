"""Registry entries: §2.9 event-time (batch + streaming twins).

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ..operators.events import (
    RETENTION_BUCKET,
    RETENTION_BUCKET_S,
    SESSION_GAP_MIN,
)
from ._core import (
    _t,
    register,
)

# ---------------------------------------------------------------------------
# §2.9 Event-time operators (batch forms; streaming twins in streaming/)
# ---------------------------------------------------------------------------

@register(
    "events_tumbling_1h",
    oracle="""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM e GROUP BY 1, 2, 3
    """,
)
def q_events_tumbling(spark, sf_dir):
    """T1 — tumbling event-time windows: the declarative form of the
    reference's driver-side 365-day chunk loop (trading212.py:89-97)."""
    from ..operators.events import tumbling_agg

    return tumbling_agg(_t(spark, sf_dir, "events"), "1 hour")


@register(
    "events_sliding_2h_1h",
    oracle="""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    w AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM e
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM e
    )
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2, 3
    """,
)
def q_events_sliding(spark, sf_dir):
    """T1 — sliding windows (2h window, 1h slide): each event lands in
    two buckets; Spark expands via its window expression, the oracle
    via an explicit two-way union."""
    from ..operators.events import tumbling_agg

    return tumbling_agg(_t(spark, sf_dir, "events"), "2 hours", "1 hour")


@register(
    "events_sessionize_30m",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_seq
      FROM g
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_events_sessionize(spark, sf_dir):
    """§2.9 — gap-based sessionization (30-min inactivity gap):
    lag → new-session flag → running sum, one shuffle on user_id."""
    from ..operators.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), 30)


@register(
    "events_json_props",
    oracle="""
    SELECT event_id, event_type,
           CAST(props->>'$.k' AS BIGINT) AS k_value,
           CAST(props->>'$.k' AS BIGINT) AS k_typed
    FROM events
    """,
)
def q_events_json(spark, sf_dir):
    """F13/F14 — JSON field extraction from semi-structured props
    (get_json_object and pinned-schema from_json)."""
    from ..operators.events import json_props

    return json_props(_t(spark, sf_dir, "events"))


@register(
    "events_session_window",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {SESSION_GAP_MIN * 60_000_000}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_events_session_window(spark, sf_dir):
    """§2.9 — native session_window sessionization (the operator
    Structured Streaming runs stateful; batch form here). Note the
    merge boundary: a gap of exactly 30 min starts a NEW session
    (strict window overlap), hence the oracle's >= on the gap —
    vs events_sessionize_30m whose lag-based rule uses >."""
    from ..operators.events import session_window_agg

    return session_window_agg(_t(spark, sf_dir, "events"))


@register(
    "streaming_stream_static_join",
    oracle="""
    WITH dim AS (SELECT o_custkey AS user_id, count(*) AS n_orders
                 FROM orders GROUP BY 1)
    SELECT e.event_type,
           d.user_id IS NOT NULL AS has_orders,
           count(*) AS n_events
    FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
    GROUP BY 1, 2
    """,
)
def q_streaming_stream_static(spark, sf_dir):
    """§2.9 streaming — stream-static dimension join (the streaming
    form of the trading212.py:109 account enrichment): static side
    re-planned per micro-batch. The query genuinely executes as a
    Structured Streaming job (foreachBatch parquet sink, availableNow
    trigger); the oracle is the batch-SQL twin of the materialized
    result — a full value-hash check, stronger than the former
    rows-only row."""
    from ..streaming.windows import run_stream_static_join

    return run_stream_static_join(spark, sf_dir)


@register(
    "streaming_stream_stream_join",
    oracle="""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                      value
               FROM events),
    c AS (SELECT user_id, ts AS click_ts FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id AS p_user_id, ts AS purchase_ts,
                 value AS purchase_value
          FROM e WHERE event_type = 'purchase')
    SELECT c.user_id,
           count(*) AS n_attributed,
           round(sum(p.purchase_value), 2) AS attributed_value
    FROM c JOIN p ON c.user_id = p.p_user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def q_streaming_stream_stream(spark, sf_dir):
    """§2.9 streaming — watermarked stream-stream attribution join
    (clicks ⋈ purchases within 1 hour per user): time-bounded join
    condition on both ends so click state evicts at watermark +
    horizon. Executes as a real stream-stream join; the oracle is the
    batch interval-join twin of the streamed result."""
    from ..streaming.windows import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@register(
    "streaming_dedup_exactly_once",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM (SELECT event_id, min(event_type) AS event_type
          FROM events GROUP BY event_id)
    GROUP BY 1
    """,
)
def q_streaming_dedup(spark, sf_dir):
    """§2.9 streaming — watermark-bounded dropDuplicatesWithinWatermark
    ingest (the principled T2, trading212.py:100-111 + 121). The oracle
    is per-type counts after batch dedup on event_id (min(event_type)
    for determinism; corpus ids are unique so either tiebreak matches
    what the stream keeps)."""
    from ..streaming.windows import run_streaming_dedup

    return run_streaming_dedup(spark, sf_dir)


@register(
    "streaming_stateful_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n_events, max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_user_stats(spark, sf_dir):
    """§2.9 streaming — custom stateful operator via
    applyInPandasWithState: per-user running (count, max). The oracle
    is the batch aggregate the converged state must equal (max/count
    are order-insensitive, so the streamed fixpoint is exact)."""
    from ..streaming.windows import run_streaming_user_stats

    return run_streaming_user_stats(spark, sf_dir)


@register(
    "events_funnel",
    oracle="""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    a AS (SELECT user_id,
            list_sort(list(ts) FILTER (WHERE event_type = 'signup')) AS l0,
            list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS l1,
            list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS l2
          FROM e GROUP BY user_id),
    r0 AS (SELECT user_id, l1, l2, l0[1] AS t0 FROM a),
    r1 AS (SELECT user_id, l2, t0, list_filter(l1, x -> x >= t0)[1] AS t1 FROM r0),
    r2 AS (SELECT user_id, t0, t1, list_filter(l2, x -> x >= t1)[1] AS t2 FROM r1)
    SELECT user_id,
           CAST((CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS steps_reached
    FROM r2
    WHERE t0 IS NOT NULL
    """,
)
def q_events_funnel(spark, sf_dir):
    """Event analytics — ordered funnel (signup → view → purchase):
    one shuffle for any step count (per-step sorted ts lists in one
    aggregate, ordering resolved with array functions). The oracle
    replays the identical list algebra in DuckDB."""
    from ..operators.events import funnel

    return funnel(_t(spark, sf_dir, "events"), ["signup", "view", "purchase"])


@register(
    "events_retention_cohorts",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    firsts AS (SELECT user_id, date_trunc('{RETENTION_BUCKET}', min(ts)) AS cohort
               FROM e GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, date_trunc('{RETENTION_BUCKET}', ts) AS bucket FROM e)
    SELECT f.cohort,
           CAST(floor((epoch(a.bucket) - epoch(f.cohort)) / {RETENTION_BUCKET_S}.0) AS INTEGER)
             AS offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark, sf_dir):
    """Event analytics — weekly cohort retention triangle: cohort =
    first-activity week, offset = weeks since cohort, n = distinct
    active users. Two (user, bucket)-level shuffles total."""
    from ..operators.events import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


@register(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, name AS measure, value
    FROM (SELECT l_orderkey, l_linenumber,
                 round(l_extendedprice, 2) AS price,
                 round(l_discount, 4) AS discount,
                 round(l_tax, 4) AS tax
          FROM lineitem)
    UNPIVOT (value FOR name IN (price, discount, tax))
    """,
)
def q_unpivot(spark, sf_dir):
    """§2.4 inverse — unpivot/melt (wide → long), the companion of
    agg_pivot: pure row expansion in the projection, no shuffle."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
        F.round("l_discount", 4).alias("discount"),
        F.round("l_tax", 4).alias("tax"),
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["price", "discount", "tax"],
        "measure",
        "value",
    )


@register(
    "streaming_tumbling_1h",
    oracle="""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM e GROUP BY 1, 2, 3
    """,
)
def q_streaming_tumbling(spark, sf_dir):
    """§2.9 streaming — the T1 tumbling aggregate as a Structured
    Streaming query over a file source, driven to completion into a
    foreachBatch parquet sink. The oracle is the batch tumbling-window
    SQL the converged stream must equal (complete output mode over a
    finite source is exactly the batch aggregate)."""
    from ..streaming.windows import run_streaming_tumbling_agg

    return run_streaming_tumbling_agg(spark, sf_dir)


@register(
    "streaming_sliding_2h_1h",
    oracle="""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    w AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM e
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM e
    )
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2, 3
    """,
)
def q_streaming_sliding(spark, sf_dir):
    """§2.9 streaming — sliding windows (2h window, 1h slide) as a
    Structured Streaming query: each event lands in two overlapping
    windows, state scales with duration/slide per key under the
    watermark bound. Same oracle as the batch twin
    (events_sliding_2h_1h), which the converged complete-mode output
    must equal."""
    from ..streaming.windows import run_streaming_sliding_agg

    return run_streaming_sliding_agg(spark, sf_dir)




@register(
    "events_concurrency_peak",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq,
             ts
      FROM g
    ),
    sess AS (
      SELECT user_id, session_seq,
             min(ts) AS session_start, max(ts) AS session_end
      FROM s GROUP BY user_id, session_seq
    ),
    sweep AS (
      SELECT user_id, session_seq, session_start AS ts, 1 AS delta, 0 AS ekey
      FROM sess
      UNION ALL
      SELECT user_id, session_seq, session_end AS ts, -1 AS delta, 1 AS ekey
      FROM sess
    ),
    run AS (
      SELECT ts, CAST(sum(delta) OVER (
               ORDER BY ts, ekey, user_id, session_seq
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      FROM sweep
    )
    SELECT CAST(ts AS DATE) AS day,
           max(conc) AS peak_concurrency,
           min(ts) FILTER (WHERE conc = pk) AS peak_at
    FROM (SELECT *, max(conc) OVER (PARTITION BY CAST(ts AS DATE)) AS pk
          FROM run)
    GROUP BY day
    """,
)
def q_events_concurrency_peak(spark, sf_dir):
    """Peak concurrent sessions per day — the capacity-planning query
    (how many users were active AT ONCE, not per bucket): the classic
    +1/−1 interval sweep over session [start, end] endpoints (closed
    intervals: starts sort before ends at the same instant) with a
    GLOBAL running sum over event time. That global ordered scan is
    exactly the 100 TB shape ``ordered_prefix`` exists for — buckets
    of the sweep instant, per-bucket prefix sums, offset cascade —
    so no single-partition WindowExec ever materializes;
    peak extraction is then a per-day argmax (struct max: highest
    concurrency, earliest instant). Sessions come from the same
    30-minute gap rule as events_sessionize_30m."""
    from pyspark.sql import functions as F

    from ..operators.events import sessionize
    from ..partitioning import ordered_prefix

    sess = sessionize(_t(spark, sf_dir, "events"), 30).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    # Endpoint fan-out as ONE generator pass, not a self-union: the
    # union's two branches were two independent consumers of sess, so
    # the whole sessionize chain (scan -> lag window -> running-sum
    # window -> session aggregate) executed twice (r14 plan audit:
    # 6 parquet scans / 16 Window nodes; after: 3 / 8). explode over a
    # 2-element literal-struct array emits exactly the same rows in
    # one pass; size(CreateArray) folds, so no InferFiltersFromGenerate
    # residue can reach the scan (cf. operators/textual.explode_nonempty).
    ep = F.explode(
        F.array(
            F.struct(
                F.col("session_start").alias("ts"),
                F.lit(1).alias("delta"),
                F.lit(0).alias("ekey"),
            ),
            F.struct(
                F.col("session_end").alias("ts"),
                F.lit(-1).alias("delta"),
                F.lit(1).alias("ekey"),
            ),
        )
    ).alias("__ep")
    sweep = sess.select("user_id", "session_seq", ep).select(
        "user_id", "session_seq", "__ep.ts", "__ep.delta", "__ep.ekey"
    )
    run = ordered_prefix(
        sweep,
        [F.col("ts"), F.col("ekey"), F.col("user_id"), F.col("session_seq")],
        sum_cols=["delta"],
    ).select("ts", F.col("run_delta").alias("conc"))
    day = F.col("ts").cast("date").alias("day")
    # per-day argmax: highest concurrency, earliest instant — struct
    # max over (conc, -epoch) then unpack
    best = run.groupBy(day).agg(
        F.max("conc").alias("peak_concurrency"),
        F.max(
            F.struct(
                F.col("conc"),
                (-F.unix_micros("ts")).alias("neg_us"),
            )
        ).alias("__b"),
    )
    return best.select(
        "day",
        "peak_concurrency",
        F.timestamp_micros(-F.col("__b.neg_us")).alias("peak_at"),
    )


@register(
    "events_bounce_rate_daily",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq,
             ts
      FROM g
    ),
    sess AS (
      SELECT user_id, session_seq,
             CAST(min(ts) AS DATE) AS day,
             count(*) AS n_events
      FROM s GROUP BY user_id, session_seq
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS bounce_ppm
    FROM sess GROUP BY day
    """,
)
def q_events_bounce_rate(spark, sf_dir):
    """Daily bounce rate: share of sessions with exactly one event
    (the engagement-health metric next to stickiness and retention),
    keyed to the session's START day. Rides the same 30-minute gap
    sessionization as events_sessionize_30m — one user-keyed window
    chain plus two bounded aggregates; the rate is exact integer
    ppm."""
    from pyspark.sql import functions as F

    from ..operators.events import sessionize

    sess = sessionize(_t(spark, sf_dir, "events"), 30)
    daily = sess.select(
        F.col("session_start").cast("date").alias("day"),
        (F.col("n_events") == 1).cast("long").alias("is_bounce"),
    )
    return daily.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("is_bounce").cast("bigint").alias("n_bounce"),
        F.expr(
            "CAST(sum(is_bounce) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("bounce_ppm"),
    )


@register(
    "events_type_lift_matrix",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_type,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
      FROM g
    ),
    st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
    n AS (SELECT CAST(count(DISTINCT (user_id, session_seq)) AS BIGINT)
                   AS n_sessions FROM st),
    tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
           FROM st GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_seq = b.session_seq
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_pair,
           CAST(p.n_pair * n.n_sessions * 1000
                // (ta.n_t * tb.n_t) AS BIGINT) AS lift_milli
    FROM pairs p
    JOIN tc ta ON ta.event_type = p.type_a
    JOIN tc tb ON tb.event_type = p.type_b
    CROSS JOIN n
    """,
)
def q_events_type_lift_matrix(spark, sf_dir):
    """Session-level association mining: lift of every event-type
    pair — do checkout and search co-occur in the same session more
    than chance? Lift = P(a,b)/(P(a)P(b)) kept as the exact integer
    surrogate ``floor(1000·n_pair·n_sessions/(n_a·n_b))`` (log-free
    PMI equivalent, same ordering — the ln-avoidance policy). Type
    counts and the 1-row session total broadcast back; the pair
    blowup is bounded by the distinct types in one session
    (≤ type-vocabulary), never a corpus cross join. Sessions are the
    shared 30-minute gap rule.

    r14 basket shape (guide §2.1/§2.4 — the graph_triangle_count
    pattern): one ``collect_set`` per (user, session) rides the
    sessionize windows' hash(user_id) exchange (subset rule — NO new
    exchange, and the set subsumes the old 3-column ``distinct``),
    then session count, per-type counts, and ordered pairs all derive
    from the pinned session-level basket frame — replacing the r13
    shape's event-level distinct plus a (user, session)-keyed
    self-join whose BOTH sides re-exchanged the distinct frame. The
    explode emits exactly the a<b pairs the join produced; proven
    hash-identical against the oracle at sf0.01 and sf0.1, A/B walls
    in BENCH_SCALING.json rake_lift_one_pass_r14 (sf0.1 within noise
    — idle-cluster sibling stages mask the duplication — kept on the
    125× evidence: the basket frame is session-sized where the old
    self-join re-exchanged the event-level frame twice)."""
    from pyspark.sql import functions as F

    from ..operators.events import label_sessions
    from ..partitioning import freeze_partitions

    # pinned: baskets feeds three readers (session count, type counts,
    # pairs), each of which would rerun the sessionize chain; measured
    # on 4 vCPUs, 3 interleaved runs per arm, pin vs none: wall 0.80 vs
    # 0.84 s and JVM CPU 2.85 vs 3.14 s at sf0.1, 2.78 vs 3.39 s and
    # 9.37 vs 11.93 s at 10x
    baskets = freeze_partitions(
        label_sessions(_t(spark, sf_dir, "events"), 30)
        .groupBy("user_id", "session_seq")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_sessions"))
    tc = baskets.select(F.explode("types").alias("event_type")).groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).alias("n_t"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) ->"
                    " transform(slice(types, i + 2, size(types)),"
                    " y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    return (
        pairs.join(
            F.broadcast(tc.select(F.col("event_type").alias("type_a"),
                                  F.col("n_t").alias("n_a"))), "type_a")
        .join(
            F.broadcast(tc.select(F.col("event_type").alias("type_b"),
                                  F.col("n_t").alias("n_b"))), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_pair",
            F.expr(
                "CAST(n_pair * n_sessions * 1000 DIV (n_a * n_b) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


@register(
    "features_user_behavior_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events FROM c
          GROUP BY user_id)
    SELECT c.user_id,
           t.n_events,
           CAST(count(*) AS BIGINT) AS n_distinct_types,
           string_agg(c.event_type || ':' ||
                      CAST(c.n * 1000000 // t.n_events AS VARCHAR),
                      ',' ORDER BY c.event_type) AS profile_ppm
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id, t.n_events
    """,
)
def q_features_user_behavior_profile(spark, sf_dir):
    """Per-user behavioral profile features: the event-type
    bag-of-words vector (share of each type in exact integer ppm)
    serialized in type order — the feature frame a churn model or the
    embedding operators consume as the behavioral modality. One
    (user, type)-keyed aggregate; the per-user total reuses that
    frame; the profile serializes via the ordered-string-agg
    convention so the driver's hash gate sees a deterministic
    cell."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").cast("bigint").alias("n_events"))
    j = c.join(t, "user_id").select(
        "user_id",
        "n_events",
        "event_type",
        F.expr("CAST(n * 1000000 DIV n_events AS BIGINT)").alias("ppm"),
    )
    return j.groupBy("user_id", "n_events").agg(
        F.count(F.lit(1)).alias("n_distinct_types"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_type", "ppm"))),
                lambda s: F.concat_ws(
                    ":", s["event_type"], s["ppm"].cast("string")
                ),
            ),
            ",",
        ).alias("profile_ppm"),
    ).select("user_id", "n_events", "n_distinct_types", "profile_ppm")
