"""Registry entries: TPC-H query-shape suite.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ._core import (
    _dsum,
    _dsum_sql,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# TPC-H query-shape suite (remaining queries). The driver corpus is a
# REDUCED TPC-H schema — no partsupp table, no
# l_commitdate/l_receiptdate/l_shipmode, no p_container/p_mfgr, no
# c_phone/o_comment — so each query keeps the reference TPC-H *shape*
# (its join graph, subquery pattern, and aggregate structure: the parts
# that exercise the engine) with predicates adapted to the columns that
# exist; the adaptation is documented per query. Money sums always ride
# DECIMAL(18,6) quantization (order-independent; see tpch_q10).
# ---------------------------------------------------------------------------



@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {_dsum_sql("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 — the pure scan-aggregate: every predicate (shipdate
    range, discount band, quantity cap) pushes into the parquet scan,
    zero joins, one partial+final agg with no group keys. The query
    whose 100 TB cost is exactly one pass over the pruned row groups.
    Unmodified from the reference shape (all Q6 columns exist)."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape — EXISTS decorrelated to a left-semi join:
    orders in a quarter having at least one late line. Adaptation: the
    reference's lateness predicate (l_commitdate < l_receiptdate) uses
    columns this corpus lacks; 'shipped more than 60 days after the
    order' is the same per-line lateness test over existing columns.
    The semi-join carries only the keys + the non-equi conjunct; at
    100 TB it shuffles orderkeys, never payloads, and the quarter
    filter prunes the probe side at the scan."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1996-04-01 00:00:00")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q12_late_lines_by_year",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY year(l_shipdate)
    """,
)
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape — join + dual conditional count: late lines per
    ship-year split into high/low priority. Adaptation: the reference
    groups by l_shipmode and tests commit/receipt lateness; this corpus
    has neither column, so ship-year plays the group key and
    ship-vs-order lateness the filter — same join graph, same
    CASE-count aggregate pattern. The fact-fact join shuffles on
    orderkey; both counts ride ONE aggregate (no second pass)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.count(F.when(hi, 1)).alias("high_line_count"),
            F.count(F.when(~hi, 1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 — customer order-count histogram: left-outer join so
    zero-order customers survive (count(o_orderkey) ignores the null
    rows), then a histogram over the counts. Adaptation: the
    reference's o_comment NOT LIKE exclusion becomes an
    o_orderpriority exclusion (same join-time filter shape on the
    outer side). Two inherent shuffles: custkey for the per-customer
    count, c_count for the histogram — the second input is one row
    per customer, negligible at any scale."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             {_dsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 — top supplier by quarterly revenue: the reference's
    revenue view is the per-suppkey aggregate; the scalar max is a
    1-row broadcast joined back (the distributed form of the
    correlated `= (SELECT max(...))` — no driver-side collect, no
    global sort). Equality compares identically-rounded doubles, so it
    is engine-stable. Unmodified shape (all columns exist)."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1996-04-01 00:00:00")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.__mx)
        .join(s, s.s_suppkey == rev.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {_dsum_sql("volume")} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 — bilateral trade volume between two nations by ship
    year (nation names adapted to the corpus's NATION_k). Join order
    is chosen for scale: supplier and customer are pre-filtered to the
    two nations (via broadcast nation) and broadcast into the facts,
    so lineitem is pruned by supp-nation BEFORE the one fact-fact
    shuffle (lineitem ⋈ orders on orderkey). The OR-pair predicate
    runs after both nation names are attached — on the already-pruned
    rows."""
    from pyspark.sql import functions as F

    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_2' THEN volume
                              ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(sum(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 — market share of one supplier nation within a
    region's consumption of a part type, by order year. The share is a
    ratio of two decimal-exact sums (cast to double only for the final
    division — both engines divide identical doubles, so no rounding
    is needed at all). Every dim (part-filtered, supplier+nation,
    customer+nation+region) broadcasts; the only shuffles are
    lineitem ⋈ orders on orderkey and the year aggregate."""
    from pyspark.sql import functions as F

    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cust_nkey"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("cust_nkey")
    ).select("c_custkey")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    vol = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_2", F.col("volume"))
        .otherwise(0.0)
        .cast("decimal(18,6)")
    ).cast("double")
    den = F.sum(F.col("volume").cast("decimal(18,6)")).cast("double")
    return vol.groupBy("o_year").agg((num / den).alias("mkt_share"))


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           {_dsum_sql("l.l_extendedprice * (1 - l.l_discount) - 0.6 * p.p_retailprice * l.l_quantity")} AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape — product-line profit by supplier nation and
    year. Adaptation: the corpus has no partsupp, so supply cost is
    proxied as 60% of p_retailprice per unit (the reference's
    ps_supplycost * l_quantity term keeps its exact algebraic slot in
    the profit expression). The per-row profit expression is written
    with identical association on both engines, then
    decimal-quantized, so the grouped sum is order-independent."""
    from pyspark.sql import functions as F

    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(profit).alias("sum_profit"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 — revenue lost to small-quantity orders: the
    correlated per-part average-quantity subquery decorrelates to a
    per-partkey aggregate joined back to lineitem. Scale shape: the
    threshold table is one row per brand part (broadcast); lineitem is
    scanned twice — once for thresholds (over the brand's parts only,
    pre-pruned by a semi-join), once for the probe — with no
    self-shuffle. Quantities are whole numbers, so the double average
    is exact and the `<` comparison engine-stable."""
    from pyspark.sql import functions as F

    part23 = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    thresholds = (
        li.join(F.broadcast(part23), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("__qty_cap"))
        .select(F.col("l_partkey").alias("__tp"), "__qty_cap")
    )
    return (
        li.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("__tp"))
        .filter(F.col("l_quantity") < F.col("__qty_cap"))
        .agg(
            (
                F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2)
                .cast("double")
                / 7.0
            ).alias("avg_yearly")
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT {_dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 — disjunctive multi-attribute predicate over a
    part ⋈ lineitem join (container/shipmode arms adapted to
    brand/size/quantity, the columns that exist). Catalyst extracts
    the common equi-key (partkey) for a broadcast hash join and keeps
    the OR-of-ANDs as a post-join filter — never a nested-loop join;
    the partial predicate (quantity bands) also pushes to the lineitem
    scan as a range union."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q, b, z = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    arms = (
        ((b == "Brand#12") & z.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & z.between(16, 30) & q.between(10, 20))
        | ((b == "Brand#3") & z.between(31, 50) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(arms)
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q2_best_supplier_per_part",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p_partkey, p_brand, p_size, s_name, s_acctbal, n_name,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY s_acctbal DESC, s_name) AS rn
      FROM part JOIN pairs ON p_partkey = l_partkey
      JOIN eu ON s_suppkey = l_suppkey
      WHERE p_type = 'LARGE' AND p_size < 10
    )
    SELECT p_partkey, p_brand, p_size, s_name, s_acctbal, n_name
    FROM cand WHERE rn = 1
    """,
)
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape — best supplier per part within a region.
    Adaptation: no partsupp table, so the part↔supplier relation is
    the DISTINCT (l_partkey, l_suppkey) pairs actually traded, and the
    reference's correlated min-supplycost subquery becomes argmax
    s_acctbal — decorrelated to ONE keyed window (row_number over
    partkey) instead of a per-part rescan, which is the correct scale
    form: the reference's correlated form re-aggregates per outer row.
    Region-filtered suppliers broadcast; the only shuffles are the
    pair-distinct and the per-part window."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 10)
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_name")
    )
    return (
        pairs.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_brand", "p_size", "s_name", "s_acctbal", "n_name")
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS v
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(round(v, 2) AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(v AS DOUBLE) > (SELECT CAST(sum(v) AS DOUBLE) * 0.001 FROM val)
    """,
)
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape — parts representing a significant fraction of
    total traded value for a nation group. Adaptation: value is traded
    lineitem revenue (no partsupp stock), nations are the corpus's
    NATION_k. The global-total scalar subquery is a 1-row aggregate
    broadcast back against the per-part values — the decorrelated,
    collect-free form of `HAVING sum > (SELECT total)*fraction`. Both
    sides of the comparison are exact decimal sums cast to double, so
    the threshold test is engine-stable with no rounding."""
    from pyspark.sql import functions as F

    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem")
    val = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("v")
        )
    )
    total = val.agg((F.sum("v").cast("double") * 0.001).alias("__cut"))
    return (
        val.join(F.broadcast(total), F.col("v").cast("double") > F.col("__cut"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("v", 2).cast("double").alias("part_value"),
        )
    )


@register(
    "tpch_q16_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape — supplier diversity per part class, excluding
    a brand/type and a supplier blocklist. Adaptations: part↔supplier
    pairs come from traded lineitem (no partsupp); the reference's
    'complaints LIKE' blocklist becomes negative-balance suppliers.
    The NOT IN lowers to a left-anti join (suppkeys are non-null, so
    anti-join ≡ NOT IN); the count-distinct rides the final
    aggregate."""
    from pyspark.sql import functions as F

    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_promotable_suppliers",
    oracle="""
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_4', 'NATION_9')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 100
      )
    """,
)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape — suppliers who moved significant volume of a
    part family in a year. Adaptation: the reference's available-stock
    comparison (partsupp ps_availqty vs half of shipped quantity)
    becomes an absolute shipped-quantity floor over the same nested
    aggregate; the IN lowers to a left-semi join. Quantities are whole
    numbers — the double sum is exact, so the HAVING threshold is
    engine-stable. Part filter broadcasts into the lineitem scan; one
    shuffle for the per-supplier sum, then a semi-join against the
    (tiny) qualifying-supplier set."""
    from pyspark.sql import functions as F

    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    movers = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 100)
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_4", "NATION_9")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return s.join(
        F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi"
    ).select("s_name", "n_name")


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    base AS (
      SELECT l1.l_orderkey, l1.l_suppkey
      FROM late l1
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM late l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey)
    )
    SELECT s_name, count(*) AS numwait
    FROM base JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape — suppliers who alone held up multi-supplier
    orders: this supplier's line was late on a finalized order, some
    other supplier participated (EXISTS → left-semi on the order's
    other lines), and no other supplier was late (NOT EXISTS →
    left-anti on the late set). Adaptation: lateness is
    ship-vs-order-date (no commit/receipt dates). The late set is
    computed ONCE and drives both the probe and the anti side — at
    scale it is orderkey+suppkey pairs only. Top-20 via
    TakeOrderedAndProject with a deterministic name tie-break.

    Do NOT rewrite the EXISTS/NOT-EXISTS pair as per-order distinct-
    supplier counts (window + aggregate): measured r14 (BENCH_SCALING
    q21_rewrite_rejected_r14) that shape is 1.27× slower at sf0.1 and
    1.86× at 125× — the left-semi early-outs per order while a
    count_distinct aggregates every order's full supplier set on the
    same shuffle key, and the anti side's small late frame is already
    exchange-reused."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("a_key"), F.col("l_suppkey").alias("a_supp")
    )
    base = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o_key"))
            & (F.col("l_suppkey") != F.col("o_supp")),
            "left_semi",
        ).join(
            late_others,
            (F.col("l_orderkey") == F.col("a_key"))
            & (F.col("l_suppkey") != F.col("a_supp")),
            "left_anti",
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        base.join(F.broadcast(s), base.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "tpch_q22_dormant_customers",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    thresh AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS avg_bal
      FROM pool WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM pool, thresh
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape — wealthy DORMANT customers (no orders since
    2000-01-01), by country. Adaptations: country code is c_nationkey
    (the corpus has no c_phone), and dormancy is "no recent order"
    rather than "no order ever" — this synthetic corpus gives every
    customer at least one order, which would make the pristine Q22
    anti-join vacuously empty (zero-row results are trivially-green
    evidence). The positive-balance average is a 1-row broadcast
    (exact decimal sum / count → one double division, identical on
    both engines — no rounding anywhere); the NOT EXISTS lowers to a
    left-anti join against the date-pruned orders slice, which at
    scale is the custkey column of one partition-pruned year."""
    from pyspark.sql import functions as F

    pool = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    thresh = pool.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.join(F.broadcast(thresh), F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


