"""Registry entries: flagship pipeline + §2.2 projections/predicates.

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
# Flagship (SURVEY §3 EP3)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------

@register(
    "filter_isin",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem WHERE l_returnflag IN ('A', 'R')
    """,
)
def q_filter_isin(spark, sf_dir):
    """P1/P2 — IN-list filter (trading212.py:120, 66). The filter
    reaches the Parquet scan as PushedFilters: In(l_returnflag, ...)."""
    from ..operators.relational import filter_isin

    li = _t(spark, sf_dir, "lineitem")
    return filter_isin(li, "l_returnflag", ["A", "R"]).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )


@register(
    "predicate_equality",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 200000.0
    """,
)
def q_predicate_equality(spark, sf_dir):
    """P3/P4 — conjunctive equality/range predicates
    (trading212.py:106-107)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000.0)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "projection_reorder",
    oracle="""
    SELECT l_returnflag, l_linestatus, l_shipdate, l_orderkey, l_linenumber,
           l_quantity, l_extendedprice, l_discount, l_tax, l_partkey, l_suppkey
    FROM lineitem
    """,
)
def q_projection_reorder(spark, sf_dir):
    """P5 — wide projection + reorder (the 19-column select at
    trading212.py:132-133). ReadSchema prunes to exactly these cols."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate", "l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_partkey", "l_suppkey",
    )


@register(
    "literal_and_derived_columns",
    oracle="""
    SELECT o_orderkey,
           'ACC-42' AS account_id,
           0 AS split_ratio,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS order_date_sub
    FROM orders
    """,
)
def q_literal_and_derived(spark, sf_dir):
    """P7/P8/P9 — literal string/int columns (trading212.py:109, 119)
    and the Time[:10] derived date (trading212.py:118), both as
    date_format and raw substring-of-cast."""
    from pyspark.sql import functions as F

    from ..functions.dates import date_str

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lit("ACC-42").alias("account_id"),
        F.lit(0).alias("split_ratio"),
        date_str("o_orderdate").alias("order_date"),
        F.substring(F.col("o_orderdate").cast("string"), 1, 10).alias("order_date_sub"),
    )


