"""Registry entries: §2.8 scalar function battery.

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
# §2.8 Scalar function battery
# ---------------------------------------------------------------------------

@register(
    "string_funcs",
    oracle="""
    SELECT o_orderkey,
           regexp_replace(o_orderpriority, '1-|2-|3-|4-|5-', '', 'g') AS stripped,
           CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'NONE'
                ELSE o_orderpriority END AS replaced,
           regexp_replace(o_orderpriority, '^\\s+|\\s+$', '', 'g') AS trimmed,
           upper(substr(o_orderpriority, 1, 1)) || lower(substr(o_orderpriority, 2))
             AS capitalized,
           upper(o_orderpriority) AS uppered,
           lower(o_orderpriority) AS lowered,
           length(o_orderpriority) AS n_len,
           o_orderpriority || '|' || o_orderstatus AS concatted,
           CAST(o_orderkey AS VARCHAR) AS key_str
    FROM orders
    """,
)
def q_string_funcs(spark, sf_dir):
    """F1-F4, F11, F12 — the string canonicalization battery
    (trading212.py:115-117) plus casts/concat (trading212.py:81, 93)."""
    from pyspark.sql import functions as F

    from ..functions.strings import capitalize, regexp_strip_prefixes, replace_exact, strict_trim

    o = _t(spark, sf_dir, "orders")
    p = F.col("o_orderpriority")
    return o.select(
        "o_orderkey",
        regexp_strip_prefixes(p, ["1-", "2-", "3-", "4-", "5-"]).alias("stripped"),
        replace_exact(p, "4-NOT SPECIFIED", "NONE").alias("replaced"),
        strict_trim(p).alias("trimmed"),
        capitalize(p).alias("capitalized"),
        F.upper(p).alias("uppered"),
        F.lower(p).alias("lowered"),
        F.length(p).alias("n_len"),
        F.concat_ws("|", p, F.col("o_orderstatus")).alias("concatted"),
        F.col("o_orderkey").cast("string").alias("key_str"),
    )


@register(
    "string_funcs_extended",
    oracle="""
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '^([0-9])-(.*)$', 1) AS prio_num,
           regexp_extract(o_orderpriority, '^([0-9])-(.*)$', 2) AS prio_word,
           string_split(o_orderpriority, '-')[1] AS first_part,
           CAST(len(string_split(o_orderpriority, '-')) AS INTEGER) AS n_parts,
           lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_padded,
           rpad(o_orderstatus, 3, '.') AS status_padded,
           repeat(o_orderstatus, 3) AS status_x3,
           CAST(strpos(o_orderpriority, '-') AS INTEGER) AS dash_pos,
           replace(o_orderpriority, '-', '_') AS underscored,
           left(o_orderpriority, 3) AS first3,
           right(o_orderpriority, 3) AS last3,
           reverse(o_orderstatus) AS status_rev,
           translate(o_orderpriority, '-E', '_e') AS translated
    FROM orders
    """,
)
def q_string_funcs_extended(spark, sf_dir):
    """§2.8 — string battery 2: capture-group regexp_extract, split,
    pad/repeat/position/replace/left/right/reverse/translate — the
    rest of the canonicalization toolbox (all Catalyst, all pushed
    into one projection)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    p = F.col("o_orderpriority")
    s = F.col("o_orderstatus")
    return o.select(
        "o_orderkey",
        F.regexp_extract(p, r"^([0-9])-(.*)$", 1).alias("prio_num"),
        F.regexp_extract(p, r"^([0-9])-(.*)$", 2).alias("prio_word"),
        F.split(p, "-").getItem(0).alias("first_part"),
        F.size(F.split(p, "-")).alias("n_parts"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_padded"),
        F.rpad(s, 3, ".").alias("status_padded"),
        F.repeat(s, 3).alias("status_x3"),
        F.instr(p, "-").alias("dash_pos"),
        F.replace(p, F.lit("-"), F.lit("_")).alias("underscored"),
        F.substring(p, 1, 3).alias("first3"),
        p.substr(F.length(p) - 2, F.lit(3)).alias("last3"),
        F.reverse(s).alias("status_rev"),
        F.translate(p, "-E", "_e").alias("translated"),
    )


@register(
    "agg_argmax_battery",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           round(max(o_totalprice), 2) AS max_price,
           CAST(count(CASE WHEN o_totalprice > 200000.0 THEN 1 END) AS BIGINT)
             AS n_big,
           bool_or(o_totalprice > 400000.0) AS any_huge,
           bool_and(o_totalprice > 1000.0) AS all_over_1k
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_argmax(spark, sf_dir):
    """§2.4 — argmax/argmin + conditional/boolean aggregates:
    max_by/min_by (single-pass argmax — the two-pass self-join
    formulation this replaces is a classic anti-pattern), count_if,
    bool_or/bool_and."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.count_if(F.col("o_totalprice") > 200000.0).alias("n_big"),
        F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_huge"),
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
    )


@register(
    "map_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_val,
           o_orderpriority AS prio_val,
           2 AS m_size,
           'priority,status' AS keys_csv,
           (o_orderstatus IS NOT NULL) AS has_status
    FROM orders
    """,
)
def q_map_funcs(spark, sf_dir):
    """§2.8 — MapType battery: create_map / element_at / map_keys /
    map_contains_key (the properties-bag pattern for semi-structured
    event attributes, SURVEY §1.3). Output projected to scalars — map
    cell encodings differ across engines, the lookups' results don't."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_val"),
        F.element_at(m, "priority").alias("prio_val"),
        F.size(m).alias("m_size"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_csv"),
        F.map_contains_key(m, "status").alias("has_status"),
    )


@register(
    "timestamp_funcs",
    oracle="""
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
    SELECT event_id,
           ts,
           strftime(ts, '%Y-%m-%d') AS event_date,
           ts + INTERVAL 365 DAY AS ts_plus_365d,
           ts + INTERVAL '8759 hours 59 seconds' AS window_end,
           year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
    FROM e
    WHERE ts < TIMESTAMP '2024-06-01 00:00:00'
    """,
)
def q_timestamp_funcs(spark, sf_dir):
    """F6-F10 — timestamp parse/derive battery: the 365-day /
    8759h59s window arithmetic of the extraction loop
    (trading212.py:86, 91) and date comparison (trading212.py:89)."""
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("ts") < "2024-06-01 00:00:00").select(
        "event_id",
        "ts",
        # dates are emitted as strings on both sides: Spark DateType
        # round-trips to datetime.date while DuckDB DATE fetches as
        # datetime64 — a value-hash trap (SURVEY §7)
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        (F.col("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts_plus_365d"),
        F.expr("ts + INTERVAL 8759 HOURS 59 SECONDS").alias("window_end"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 4) AS abs_diff,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           round(sqrt(l_extendedprice), 4) AS price_sqrt,
           round(pow(l_discount, 2), 6) AS disc_sq,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate
    FROM lineitem
    """,
)
def q_math_funcs(spark, sf_dir):
    """§2.8 — math scalar battery (absent in reference; SURVEY lists
    it as required corpus). Restricted to operations with bit-identical
    cross-engine semantics: +-*/, abs/floor/ceil/sqrt/pow/mod/sign —
    no exp/ln whose libm rounding differs between JVMs and DuckDB."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_diff"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "array_funcs",
    oracle="""
    WITH t AS (SELECT l_orderkey, l_linenumber,
                      range(1, CAST(l_linenumber AS BIGINT) + 1) AS a
               FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CAST(len(a) AS INTEGER) AS n_elems,
           a[-1] AS last_elem,
           list_contains(a, 3) AS has_three,
           array_to_string(list_reverse_sort(a), ',') AS desc_csv,
           CAST(list_aggregate(a, 'max') AS BIGINT) AS a_max,
           CAST(list_sum(a) AS BIGINT) AS a_sum
    FROM t
    """,
)
def q_array_funcs(spark, sf_dir):
    """§2.8 — array function battery over generated sequences:
    size/element_at/contains/sort/aggregate, all higher-order
    JVM-side expressions (ArrayType is the embedding/multimodal
    substrate, SURVEY §1.3)."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    a = F.col("__a")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.sequence(F.lit(1).cast("long"), F.col("l_linenumber").cast("long")).alias(
                "__a"
            ),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.size(a).alias("n_elems"),
            F.element_at(a, -1).alias("last_elem"),
            F.array_contains(a, 3).alias("has_three"),
            F.array_join(F.sort_array(a, asc=False), ",").alias("desc_csv"),
            F.array_max(a).alias("a_max"),
            F.aggregate(a, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
                "a_sum"
            ),
        )
    )


@register(
    "null_conditional_funcs",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           CASE WHEN o_totalprice > 200000.0 THEN 'high'
                WHEN o_totalprice > 100000.0 THEN 'mid'
                ELSE 'low' END AS price_bucket,
           (o_orderstatus = 'O') AS is_open,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS finished_price,
           coalesce(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END, -1.0)
             AS finished_or_default
    FROM orders
    """,
)
def q_null_conditional(spark, sf_dir):
    """§2.8 — null-handling + conditional battery: coalesce/nullif/
    CASE chains/boolean projection (the engine form of the scattered
    if/else record logic at trading212.py:65-69, 106-107)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    finished = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
        ).alias("status_norm"),
        F.when(F.col("o_totalprice") > 200000.0, "high")
        .when(F.col("o_totalprice") > 100000.0, "mid")
        .otherwise("low")
        .alias("price_bucket"),
        (F.col("o_orderstatus") == "O").alias("is_open"),
        finished.alias("finished_price"),
        F.coalesce(finished, F.lit(-1.0)).alias("finished_or_default"),
    )


@register(
    "grouping_sets_sql",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS gid,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """§2.4 — explicit GROUPING SETS with grouping_id disambiguation,
    via the SQL surface (spark.sql over a temp view): the general form
    of rollup/cube, one Expand + one aggregate exchange."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                 AS gid,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM v_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "stat_aggs",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 2) AS price_stddev,
           round(var_samp(l_discount), 6) AS disc_var,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS price_median,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stat_aggs(spark, sf_dir):
    """§2.4 — statistical aggregate battery: stddev/variance/corr/
    covar + exact interpolated percentiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``). Exact percentile sorts within groups —
    at 100 TB swap in approx_percentile (t-digest, mergeable sketch)."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("price_median"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 2).alias("price_p90"),
    )


@register(
    "subquery_correlated",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           (SELECT round(max(o.o_totalprice), 2) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_subquery_correlated(spark, sf_dir):
    """§2.3/§3 — correlated scalar subquery + EXISTS via the SQL
    surface; Catalyst decorrelates both into aggregates + joins
    (RewriteCorrelatedScalarSubquery — SURVEY §4 'for free' list)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer_sq")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sq")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               (SELECT round(max(o.o_totalprice), 2) FROM v_orders_sq o
                WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM v_customer_sq c
        WHERE EXISTS (SELECT 1 FROM v_orders_sq o
                      WHERE o.o_custkey = c.c_custkey)
        """
    )


