"""Registry entries: §2.7 set ops / dedup / sort-limit.

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
# §2.7 Set operations / §2.4 dedup / §2.6 sort-limit
# ---------------------------------------------------------------------------

@register(
    "union_dedup_chunks",
    oracle="""
    SELECT DISTINCT * FROM (
      SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    )
    """,
)
def q_union_dedup_chunks(spark, sf_dir):
    """U1/U2 + A1 — the reference's overlapping year-window exports
    accumulated by append then exact-deduped (trading212.py:89-97,
    110, 121): overlapping slices of orders unioned, then distinct."""
    from pyspark.sql import functions as F

    from ..operators.aggregates import distinct_rows
    from ..operators.relational import union_all

    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderdate") < "1998-01-01")
    b = o.filter(F.col("o_orderdate") >= "1997-01-01")
    return distinct_rows(union_all(a, b))


@register(
    "union_missing_columns",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority
      FROM orders WHERE o_orderstatus <> 'P'
      UNION ALL BY NAME
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
      FROM orders WHERE o_orderstatus = 'P'
    )
    """,
)
def q_union_missing_columns(spark, sf_dir):
    """U3 — pd.concat(sort=False) outer union with null-fill
    (trading212.py:127): API-shaped rows vs the narrower manual table."""
    from pyspark.sql import functions as F

    from ..operators.relational import union_outer

    o = _t(spark, sf_dir, "orders")
    full = o.filter(F.col("o_orderstatus") != "P").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    narrow = o.filter(F.col("o_orderstatus") == "P").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    return union_outer(full, narrow)


@register(
    "intersect_except",
    oracle="""
    SELECT c_custkey AS custkey, 'both' AS side
    FROM (SELECT c_custkey FROM customer
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
    UNION ALL
    SELECT c_custkey AS custkey, 'customer_only' AS side
    FROM (SELECT c_custkey FROM customer
          EXCEPT
          SELECT o_custkey FROM orders)
    """,
)
def q_intersect_except(spark, sf_dir):
    """§2.7 — intersect / except (absent in reference; SURVEY lists
    them as required corpus ops)."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey"))
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000.0).select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = c.intersect(big).select(
        F.col("c_custkey").alias("custkey"), F.lit("both").alias("side")
    )
    only = c.exceptAll(o.select(F.col("o_custkey").alias("c_custkey")).distinct()).select(
        F.col("c_custkey").alias("custkey"), F.lit("customer_only").alias("side")
    )
    return both.unionByName(only)


@register(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q_sort_limit_topk(spark, sf_dir):
    """O1+O2 — global sort + limit (trading212.py:134, 81). Compiles
    to TakeOrderedAndProject: per-partition k-row heaps, no global
    sort shuffle."""
    from pyspark.sql import functions as F

    from ..operators.relational import top_k

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return top_k(o, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 20)


@register(
    "string_agg_first8",
    oracle="""
    SELECT string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS ids_csv
    FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 8)
    """,
)
def q_string_agg_first8(spark, sf_dir):
    """A2+O2 — ','.join of the first 8 ids (trading212.py:81), in-cell
    order made explicit via sort_array (SURVEY §7)."""
    from ..operators.aggregates import string_agg_first_n

    c = _t(spark, sf_dir, "customer")
    return string_agg_first_n(c, "c_custkey", "c_custkey", 8)


@register(
    "flagship_pipeline",
    oracle="""
    WITH canonical AS (
      SELECT * EXCLUDE (pc_raw),
             upper(substr(pc_raw, 1, 1)) || lower(substr(pc_raw, 2)) AS priority_class
      FROM (
        SELECT DISTINCT
               o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               regexp_replace(
                 CASE WHEN regexp_replace(o_orderpriority, '1-|2-|3-|4-|5-', '', 'g')
                           = 'NOT SPECIFIED'
                      THEN 'NONE'
                      ELSE regexp_replace(o_orderpriority, '1-|2-|3-|4-|5-', '', 'g')
                 END, '^\\s+|\\s+$', '', 'g') AS pc_raw,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               0 AS split_ratio
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
      )
    ),
    manual AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate FROM orders
      WHERE o_orderstatus = 'P'
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           priority_class, order_date, split_ratio
    FROM (SELECT * FROM canonical UNION ALL BY NAME SELECT * FROM manual)
    ORDER BY o_orderdate ASC, o_orderkey ASC
    """,
)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.pipeline import flagship_pipeline

    return flagship_pipeline(_t(spark, sf_dir, "orders"))


