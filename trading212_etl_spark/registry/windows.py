"""Registry entries: §2.5 window functions.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ._core import (
    _scratch,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# §2.5 Window functions (absent in reference; driver corpus)
# ---------------------------------------------------------------------------

@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape — selective dims broadcast into the fact scan,
    aggregate, top-10 (TakeOrderedAndProject). Fully deterministic
    ordering (revenue, date, key) so LIMIT picks identical rows on
    both engines."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-03-15 00:00:00"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-03-15 00:00:00"
    )
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150.0
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape — aggregate-HAVING subquery as a semi-join
    (Catalyst rewrites IN-subquery to left-semi; at scale the inner
    aggregate's output is small enough to broadcast into the fact)."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 150.0)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT round(100.00 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0.0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape — conditional aggregation over a fact⋈dim join
    with a LIKE predicate; the date filter prunes at the scan, part
    broadcasts."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1996-02-01 00:00:00")
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(F.lit(100.00) * F.sum(promo) / F.sum(disc), 4).alias(
                "promo_revenue_pct"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(l_quantity) AS BIGINT) AS n,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_salted(spark, sf_dir):
    """§7 scale tooling — two-phase salted aggregation: identical
    result to a plain group-by (the oracle), but the hot key's rows
    spread over 16 salt buckets in phase 1, so one skewed key can
    never produce a straggler task. l_returnflag (3 values over 600k
    rows) IS a skewed key at scale."""
    from pyspark.sql import functions as F

    from ..partitioning import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("l_quantity", "sum"),
            "n": ("l_quantity", "count"),
            "max_price": ("l_extendedprice", "max"),
        },
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.col("n"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS column, count(o_orderkey) AS n_nonnull,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_str,
           CAST(max(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(o_orderstatus),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(o_totalprice),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(o_orderpriority),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def q_profile_columns(spark, sf_dir):
    """Data-quality profiling — per-column nonnull/distinct/min/max in
    ONE aggregate pass + inline pivot-to-rows (the oracle's 4-scan
    UNION ALL is the naive formulation this operator avoids)."""
    from ..operators.aggregates import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


@register(
    "profile_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bucket,
             value
      FROM events
    )
    SELECT event_type, bucket,
           CAST(bucket * 25.0 AS DOUBLE) AS bucket_lo,
           CAST((bucket + 1) * 25.0 AS DOUBLE) AS bucket_hi,
           count(*) AS n,
           round(min(value), 2) AS v_min,
           round(max(value), 2) AS v_max
    FROM b GROUP BY event_type, bucket
    """,
)
def q_profile_histogram(spark, sf_dir):
    """Fixed-width histogram profiling per dimension — 20 clamped
    buckets of width 25 over events.value, by event_type. One
    map-side-combined groupBy whose key space is |event_types| x 20
    regardless of row count, so the shuffle is a few hundred rows at
    any corpus size — the profiling shape that replaces a driver-side
    `describe()` at 100 TB. Bucket edges are exact double arithmetic
    (floor of an IEEE754 quotient — bit-identical on both engines)."""
    from pyspark.sql import functions as F

    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 25.0), F.lit(0)), F.lit(19)
    ).cast("long")
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", bucket.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("v_min"),
            F.round(F.max("value"), 2).alias("v_max"),
        )
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25.0).alias("bucket_lo"),
            ((F.col("bucket") + 1) * 25.0).alias("bucket_hi"),
            "n",
            "v_min",
            "v_max",
        )
    )


@register(
    "streaming_foreachbatch_ingest",
    oracle="""
    SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_streaming_foreachbatch(spark, sf_dir):
    """§2.9 streaming — foreachBatch micro-batch parquet ingestion
    (the principled T2 ingest loop): stream → idempotent per-batch-id
    parquet → read back. The oracle aggregates the ORIGINAL events, so
    a hash match proves the ingest is lossless and duplicate-free."""
    from pyspark.sql import functions as F

    from ..streaming.windows import run_foreachbatch_ingest

    out_dir = _scratch(sf_dir, "ingested_events")
    ingested = run_foreachbatch_ingest(spark, sf_dir, out_dir)
    return ingested.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "window_keep_first",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def q_window_keep_first(spark, sf_dir):
    """§2.5 — keyed keep-first dedup: the principled generalization of
    drop_duplicates(keep='first') (trading212.py:121), 'first' made
    explicit by (o_orderdate, o_orderkey) ordering."""
    from pyspark.sql import functions as F

    from ..operators.windows import keep_first_by

    o = _t(spark, sf_dir, "orders")
    return keep_first_by(
        o, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "window_topn_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_name, c_acctbal
    FROM customer
    QUALIFY row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey) <= 3
    """,
)
def q_window_topn(spark, sf_dir):
    """§2.5 — top-N per group (rank-limit): one shuffle on the group
    key, no collect."""
    from pyspark.sql import functions as F

    from ..operators.windows import top_n_per_group

    c = _t(spark, sf_dir, "customer")
    return top_n_per_group(
        c, ["c_mktsegment"], [F.col("c_acctbal").desc(), F.col("c_custkey").asc()], 3
    ).select("c_mktsegment", "c_custkey", "c_name", "c_acctbal")


@register(
    "window_lag_lead_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
                AS BIGINT) AS price_rank,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2)
             AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_lag_lead(spark, sf_dir):
    """§2.5 — analytic battery: lag/lead/rank + running-sum frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrank = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.rank().over(wrank).cast("long").alias("price_rank"),
        F.round(F.sum("o_totalprice").over(wsum), 2).alias("running_spend"),
    )


@register(
    "window_analytic_battery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cdist,
           first_value(o_orderkey) OVER w AS top_order,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_analytic_battery(spark, sf_dir):
    """§2.5 — second window battery: dense_rank/ntile/percent_rank/
    cume_dist/first_value/nth_value. One exchange on the partition key
    serves every function (same window spec ⇒ shared sort)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cdist"),
        F.first("o_orderkey").over(w).alias("top_order"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
    )


@register(
    "window_range_frame",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events)
    SELECT event_id, user_id, ts,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                            AND CURRENT ROW), 2)
             AS value_1h,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
                               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
             AS n_1h
    FROM e
    """,
)
def q_window_range_frame(spark, sf_dir):
    """§2.5 — event-time RANGE frame (sliding 1-hour lookback per
    event): the per-event rolling aggregate shape. Spark's RANGE frame
    needs a numeric ordering column, so ts is ordered as epoch
    MICROSECONDS with a 3600e6-microsecond frame — full timestamp
    precision. Ordering by unix_timestamp (whole seconds) is a trap:
    events in the same second become frame PEERS, so a later
    same-second event leaks into CURRENT ROW's frame — invisible on
    sparse data, a guaranteed mismatch vs the microsecond-precision
    oracle once per-user event density reaches sub-second spacing
    (caught by the sf0.1 parity sweep; sf0.01 passed)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("value_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@register(
    "explode_unnest",
    oracle="""
    WITH t AS (SELECT l_orderkey, l_linenumber,
                      unnest(range(1, CAST(least(l_linenumber, 3) AS BIGINT) + 1))
                        AS elem
               FROM lineitem WHERE l_linenumber >= 2)
    SELECT l_orderkey, l_linenumber,
           CAST(elem - 1 AS INTEGER) AS pos,
           elem
    FROM t
    """,
)
def q_explode_unnest(spark, sf_dir):
    """§2.8/U — posexplode (LATERAL VIEW / unnest-with-ordinality):
    the 1→N row generator every shingling/frame-sampling operator is
    built on, here in its bare oracle-checkable form."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") >= 2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.posexplode(
            F.sequence(
                F.lit(1).cast("long"),
                F.least(F.col("l_linenumber"), F.lit(3)).cast("long"),
            )
        ).alias("pos", "elem"),
    )


