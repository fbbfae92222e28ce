"""Registry entries: §2.3 join battery.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ._core import (
    _t,
    register,
)

# ---------------------------------------------------------------------------
# §2.3 Joins (absent in reference; the intended semantics of the broken
# account-id enrichment at trading212.py:109, and the driver star schema)
# ---------------------------------------------------------------------------

@register(
    "join_broadcast_enrich",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def q_join_broadcast(spark, sf_dir):
    """§2.3 — fact⋈dim broadcast join: the intended enrichment of
    transactions with account metadata (trading212.py:109 assigns the
    literal string 'get_acc_info()' — the rebuild does the real
    lookup). Dim side broadcast ⇒ zero shuffle on the fact table."""
    from pyspark.sql import functions as F

    from ..operators.relational import broadcast_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return broadcast_join(o, c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_multiway_star",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q_join_multiway(spark, sf_dir):
    """§2.3 — TPC-H Q5-shaped star join: fact ⋈ three dims, all dims
    broadcast, then hash aggregate. At 100 TB the only exchange is the
    final group-by shuffle on (nation, region)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"), r.r_name.alias("region"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "join_semi_anti",
    oracle="""
    SELECT c_custkey, c_name, 'has_urgent_order' AS tag
    FROM customer WHERE c_custkey IN
      (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c_custkey, c_name, 'no_order' AS tag
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_semi_anti(spark, sf_dir):
    """§2.3 — left-semi (EXISTS) and left-anti (NOT EXISTS) joins."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    has = c.join(urgent, "c_custkey", "left_semi").select(
        "c_custkey", "c_name", F.lit("has_urgent_order").alias("tag")
    )
    none = c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name", F.lit("no_order").alias("tag"))
    return has.unionByName(none)


@register(
    "join_outer_coalesce",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS lifetime_value,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_outer(spark, sf_dir):
    """§2.3 — left-outer join + null-coalescing aggregate (customers
    with zero orders keep a 0.0 lifetime value)."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "lifetime_value"
            ),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "sink_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           CAST(count(l.l_linenumber) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice), 2) AS lines_value
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def q_sink_bucketed_join(spark, sf_dir):
    """S8/§7 — bucketed tables + co-located join: both sides written
    bucketBy(8, join key) so the fact-fact join needs NO shuffle at
    read time (plan shows SortMergeJoin with zero Exchange below it —
    asserted in tests/test_plans.py). At 100 TB this is THE lever for
    repeated fact-fact joins: pay the shuffle once at write time.
    Bucketing requires a metastore table, so each side is written
    with ``bucketBy(...).sortBy(...).saveAsTable(...)``."""
    from pyspark.sql import functions as F

    import os
    import shutil
    from urllib.parse import urlparse

    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_orders, t_lineitem = f"bucketed_orders_{base}", f"bucketed_lineitem_{base}"
    # drop stale tables AND their locations: the in-memory catalog of a
    # fresh session doesn't know about last session's warehouse dirs,
    # and saveAsTable refuses to reuse an existing location
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (t_orders, t_lineitem):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    for table, key, name in (
        ("orders", "o_orderkey", t_orders),
        ("lineitem", "l_orderkey", t_lineitem),
    ):
        _t(spark, sf_dir, table).write.mode("overwrite").bucketBy(
            8, key
        ).sortBy(key).format("parquet").saveAsTable(name)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("l_linenumber").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("lines_value"),
        )
    )


@register("agg_approx_sketches")  # rows-only: HLL/t-digest are engine-specific
def q_agg_approx_sketches(spark, sf_dir):
    """§2.4 — mergeable-sketch aggregates, the 100 TB substitutes for
    exact distinct/percentile: approx_count_distinct (HyperLogLog++)
    and approx_percentile (t-digest class). Error bounds vs the exact
    values are asserted in tests/test_plans.py — no oracle because
    sketch estimates are engine-specific by construction."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n_orders_approx"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("median_approx"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("p90_approx"),
    )


@register(
    "join_asof_backward",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                 ORDER BY o_orderkey DESC) = 1
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS last_orderkey,
           o.o_totalprice AS last_totalprice,
           o.o_orderdate AS last_orderdate
    FROM e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def q_join_asof(spark, sf_dir):
    """§2.3 extension — backward as-of join (merge_asof / ASOF JOIN):
    each event gains the latest order of that user at or before the
    event time. Built as tagged-union + keyed window — one shuffle, no
    range-join blowup (operators/asof.py). DuckDB ASOF leaves ties on
    (key, ts) unspecified, so the oracle pre-dedupes to the max
    orderkey — the same row Spark's right_order tiebreak selects."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    return asof_join(
        e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        ["o_orderkey", "o_totalprice", "o_orderdate"],
        right_order="o_orderkey",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_totalprice"),
        F.col("o_orderdate").alias("last_orderdate"),
    )


@register(
    "join_range_interval",
    oracle="""
    SELECT o.o_orderkey,
           CAST(count(l.l_orderkey) AS BIGINT) AS n_shipped_90d,
           round(coalesce(sum(l.l_extendedprice), 0.0), 2) AS value_shipped_90d
    FROM orders o LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderkey
    """,
)
def q_join_range_interval(spark, sf_dir):
    """§2.3 extension — interval range join: lineitems shipped within
    90 days of their order's date. The equi-key conjunct keeps it a
    hash join (the range is a residual filter), never a nested-loop
    cross product."""
    from pyspark.sql import functions as F

    from ..operators.asof import interval_range_join

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = interval_range_join(
        o,
        li,
        on=li.l_orderkey == o.o_orderkey,
        lower=li.l_shipdate >= o.o_orderdate,
        upper=li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("l_orderkey").alias("n_shipped_90d"),
        F.round(F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)), 2).alias(
            "value_shipped_90d"
        ),
    )


