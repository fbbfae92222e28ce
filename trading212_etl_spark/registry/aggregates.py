"""Registry entries: §2.4 aggregations.

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
# §2.4 Aggregations (group-by battery, rollup/cube, distinct agg)
# ---------------------------------------------------------------------------

@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_agg_pricing_summary(spark, sf_dir):
    """§2.4 — TPC-H Q1: the canonical partial+final hash-aggregate
    battery. Map-side combine reduces a 100 TB scan to |groups| rows
    before the exchange."""
    from ..operators.aggregates import pricing_summary

    return pricing_summary(_t(spark, sf_dir, "lineitem"), "1998-09-02")


@register(
    "agg_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct_counts(spark, sf_dir):
    """§2.4 — distinct aggregates (expand + two-phase agg) mixed with
    plain min/max."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """§2.4 — rollup (hierarchical subtotals + grand total)."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark, sf_dir):
    """§2.4 — cube (all grouping-set combinations)."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_having_top_parts",
    oracle="""
    SELECT l_partkey, round(sum(l_quantity), 2) AS total_qty, count(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_quantity) > 100.0
    """,
)
def q_agg_having(spark, sf_dir):
    """§2.4 — group-by + HAVING (post-aggregation filter)."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("__raw"),
        )
        .filter(F.col("__raw") > 100.0)
        .drop("__raw")
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_pivot(spark, sf_dir):
    """§2.4 — pivot (wide aggregation over a value domain); compiles
    to CASE-WHEN aggregates, no extra shuffle vs plain group-by."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


