"""Registry entries: governance / reconciliation / profiling.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ._core import (
    _TOKS,
    _basket_pairs,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# Governance / reconciliation suite (operators/quality.py): Deequ-style
# constraint audit, FK orphans, CDC snapshot diff — plus finance-grade
# event analytics (VWAP, attribution), weighted sampling, and an
# inverted-index build. North-star extensions; the reference's only
# quality rule is the Buy/Sell IN-filter (trading212.py:120).
# ---------------------------------------------------------------------------


@register(
    "dq_constraints",
    oracle="""
    WITH o AS (
      SELECT CAST(count(*) AS DOUBLE) AS total,
             CAST(count(o_orderpriority) AS DOUBLE) AS c_prio,
             CAST(count(o_orderdate) AS DOUBLE) AS c_date,
             CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS d_key,
             CAST(sum(CASE WHEN o_totalprice >= 0.0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS b_price,
             CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS s_status
      FROM orders
    ),
    l AS (
      SELECT CAST(count(*) AS DOUBLE) AS ltotal,
             CAST(sum(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) AS orphans
      FROM lineitem li
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
        ON li.l_orderkey = ok.o_orderkey
    )
    SELECT * FROM (
      SELECT 'bounds(o_totalprice)' AS check_name,
             round(b_price/total, 6) AS metric,
             b_price/total >= 1.0 - 1e-12 AS passed FROM o
      UNION ALL
      SELECT 'completeness(o_orderdate)', round(c_date/total, 6),
             c_date/total >= 1.0 - 1e-12 FROM o
      UNION ALL
      SELECT 'completeness(o_orderpriority)', round(c_prio/total, 6),
             c_prio/total >= 1.0 - 1e-12 FROM o
      UNION ALL
      SELECT 'in_set(o_orderstatus)', round(s_status/total, 6),
             s_status/total >= 1.0 - 1e-12 FROM o
      UNION ALL
      SELECT 'unique(o_orderkey)', round(d_key/total, 6),
             d_key/total >= 1.0 - 1e-12 FROM o
      UNION ALL
      SELECT 'referential(l_orderkey)', round(1.0 - orphans/ltotal, 6),
             orphans = 0 FROM l
    ) ORDER BY check_name
    """,
)
def q_dq_constraints(spark, sf_dir):
    """Deequ-style data-quality audit: six declared constraints over
    orders + lineitem, measured in TWO jobs total — all five
    single-table metrics ride one aggregate pass over orders (adding
    a constraint adds an expression, not a scan), and referential
    integrity is a broadcast anti-join orphan probe on lineitem.
    North star: the reference trusts its CSV blindly
    (trading212.py:108-136, no checks); a 100 TB lake cannot."""
    from pyspark.sql import functions as F

    from ..operators.quality import constraint_report, referential_orphans

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    report = constraint_report(
        orders,
        completeness=["o_orderpriority", "o_orderdate"],
        unique=["o_orderkey"],
        bounds={"o_totalprice": (0.0, None)},
        in_set={"o_orderstatus": ["O", "F", "P"]},
    )
    fk = referential_orphans(lineitem, "l_orderkey", orders, "o_orderkey")
    return report.unionByName(fk).orderBy("check_name")


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             o_orderstatus
      FROM orders
    ),
    old AS (
      SELECT * FROM base WHERE o_orderkey % 97 <> 3
    ),
    new AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 97 <> 5
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderkey IS NULL THEN 'added'
                ELSE 'changed' END AS change_type,
           o.o_totalprice AS old_o_totalprice,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_totalprice AS new_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE n.o_orderkey IS NULL OR o.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
       OR o.o_orderstatus <> n.o_orderstatus
    """,
)
def q_snapshot_diff_orders(spark, sf_dir):
    """CDC snapshot reconciliation: two deterministic variants of the
    orders table (keys ≡3 mod 97 absent from old → added; ≡5 mod 97
    absent from new → removed; keys ≡0 mod 11 status-amended → changed)
    diffed with one full-outer join; unchanged rows never leave the
    join projection. At 100 TB the output is sized by churn, and
    bucketed snapshots make the join shuffle-free."""
    from pyspark.sql import functions as F

    from ..operators.quality import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )
    old = orders.where(F.col("o_orderkey") % 97 != 3)
    new = orders.where(F.col("o_orderkey") % 97 != 5).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(
        old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    )


@register(
    "events_vwap_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,6))
                    * CAST(props->>'$.k' AS BIGINT)) * 1000000
                AS BIGINT)
             // CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
             AS vwap_micro,
           CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             // count(*) AS twap_micro,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS volume,
           count(*) AS n_trades
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) > 0
    GROUP BY 1, 2
    """,
)
def q_events_vwap_hourly(spark, sf_dir):
    """Volume-weighted average price per (hour, instrument): the
    canonical market-data rollup the reference's portfolio sheet
    implies but never computes (it stores raw fills only,
    trading212.py:128-136). value = price, props.k = fill quantity.
    JSON field extraction + groupBy — one shuffle of partial sums;
    at 100 TB the group keys (hour × instrument) are tiny, so the
    partial-agg reduction is near-total map-side. Prices are emitted
    as exact integer micro-prices (the tf-idf integer-surrogate
    idiom): sums ride DECIMAL(18,6) — order-independent — and the
    per-group ratio is integer floor-division, so no engine's float
    rounding ever touches the output (hourly groups are small enough
    that double averages land exactly on round boundaries where
    Spark and DuckDB disagree). BIGINT micro-sums cap at ~9.2e18 —
    per-(hour, instrument) groups stay far under that at any SF."""
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("value"),
        F.get_json_object("props", "$.k").cast("long").alias("qty"),
    ).where(F.col("qty") > 0)
    agged = e.groupBy("hour", "event_type").agg(
        (F.sum(F.col("value") * F.col("qty")) * 1000000)
        .cast("long")
        .alias("_pv_micro"),
        (F.sum("value") * 1000000).cast("long").alias("_p_micro"),
        F.sum("qty").cast("long").alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    )
    return agged.select(
        "hour",
        "event_type",
        F.expr("_pv_micro DIV volume").alias("vwap_micro"),
        F.expr("_p_micro DIV n_trades").alias("twap_micro"),
        "volume",
        "n_trades",
    )


@register(
    "events_attribution_first_touch",
    oracle="""
    WITH attributed AS (
      SELECT event_type, value,
             coalesce(
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               'direct') AS channel
      FROM events
    )
    SELECT channel, count(*) AS purchases,
           round(sum(value), 2) AS revenue
    FROM attributed WHERE event_type = 'purchase'
    GROUP BY channel
    """,
)
def q_events_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent non-purchase event (else 'direct'). One
    keyed window (shuffle on user_id) + a tiny group-by — the same
    single-exchange shape as the as-of join; no self-join, no
    per-purchase subquery. Ties broken by event_id so the credit is
    deterministic under any partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = _t(spark, sf_dir, "events").withColumn(
        "channel",
        F.coalesce(
            F.last(
                F.when(
                    F.col("event_type") != "purchase", F.col("event_type")
                ),
                ignorenulls=True,
            ).over(w),
            F.lit("direct"),
        ),
    )
    return (
        e.where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


@register(
    "sample_weighted",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 8)) AS BIGINT) + 1)
                / 4294967296.0) / n_chars AS score
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars FROM scored
    ORDER BY score DESC, doc_id LIMIT 100
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirtsas
    exponential keys): P(doc in sample) ∝ n_chars, decided by
    score = ln(u)/w with u a pure md5 hash of the key — RNG-free, so
    the sample is identical under task retries and re-runs (the
    sampling-layer design rule, operators/sampling.py). Top-k by
    score is TakeOrderedAndProject: no global sort, each partition
    ships only its local top 100."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    scored = docs.select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("score")
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_TOKS}) AS token
      FROM documents
    )
    SELECT token, count(*) AS df,
           array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',') AS postings
    FROM toks GROUP BY token HAVING count(*) >= 50
    ORDER BY df DESC, token
    """,
)
def q_text_inverted_index(spark, sf_dir):
    """Inverted-index build (token → document-frequency + capped
    posting list), the retrieval-side counterpart of tf-idf. Explode
    the shared tokenizer, per-doc DISTINCT before the global groupBy
    so the shuffle carries each (token, doc) edge once, and postings
    are capped via slice AFTER sort_array — bounded output rows even
    for stop-words; the capped list is emitted comma-joined so the
    driver's pandas canonicalization never sees a raw array cell. At
    100 TB the df>=50 HAVING filter rides the same aggregate; no
    second pass."""
    from pyspark.sql import functions as F

    from ..operators.textual import tokens

    docs = _t(spark, sf_dir, "documents")
    edges = (
        docs.select(
            "doc_id", F.explode(tokens("text")).alias("token")
        )
        .distinct()
    )
    return (
        edges.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, 10
                ).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .where(F.col("df") >= 50)
        .orderBy(F.col("df").desc(), "token")
    )


@register(
    "portfolio_fifo_pnl",
    oracle="""
    WITH fills AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'click' THEN 'buy'
                  ELSE 'sell' END AS side,
             CAST(value AS DECIMAL(18,2)) AS price,
             CAST(props->>'$.k' AS BIGINT) AS qty
      FROM events
      WHERE event_type IN ('click', 'view')
        AND CAST(props->>'$.k' AS BIGINT) > 0
    ),
    b AS (
      SELECT user_id, price AS b_px,
             sum(qty) OVER w AS b_hi,
             sum(qty) OVER w - qty AS b_lo
      FROM fills WHERE side = 'buy'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT user_id, price AS s_px,
             sum(qty) OVER w AS s_hi,
             sum(qty) OVER w - qty AS s_lo
      FROM fills WHERE side = 'sell'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    m AS (
      SELECT b.user_id,
             least(b_hi, s_hi) - greatest(b_lo, s_lo) AS m_qty,
             (s_px - b_px)
               * (least(b_hi, s_hi) - greatest(b_lo, s_lo)) AS m_pnl
      FROM b JOIN s ON b.user_id = s.user_id
        AND b_lo < s_hi AND s_lo < b_hi
    )
    SELECT user_id,
           CAST(sum(m_qty) AS BIGINT) AS matched_qty,
           CAST(sum(m_pnl) AS DOUBLE) AS realized_pnl,
           count(*) AS n_matches
    FROM m GROUP BY user_id
    """,
)
def q_portfolio_fifo_pnl(spark, sf_dir):
    """FIFO realized P&L over the fill ledger the reference merely
    stores (trading212.py:128-136) — click fills = buys, view fills =
    sells, props.k = quantity. The textbook per-account lot queue is
    re-derived as an interval-overlap join on the cumulative-quantity
    axis (see operators/portfolio.py): two keyed windows + one
    equi-join with a range residual + one aggregate. Fully
    distributed, and P&L sums ride exact decimals."""
    from pyspark.sql import functions as F

    from ..operators.portfolio import fifo_realized_pnl

    fills = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.col("user_id"),
            F.col("event_id"),
            F.col("ts"),
            F.when(F.col("event_type") == "click", F.lit("buy"))
            .otherwise(F.lit("sell"))
            .alias("side"),
            F.col("value").cast("decimal(18,2)").alias("price"),
            F.get_json_object("props", "$.k").cast("long").alias("qty"),
        )
        .where(F.col("qty") > 0)
    )
    return fifo_realized_pnl(fills)


@register(
    "portfolio_open_lots",
    oracle="""
    WITH fills AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'click' THEN 'buy'
                  ELSE 'sell' END AS side,
             CAST(value AS DECIMAL(18,2)) AS price,
             CAST(props->>'$.k' AS BIGINT) AS qty
      FROM events
      WHERE event_type IN ('click', 'view')
        AND CAST(props->>'$.k' AS BIGINT) > 0
    ),
    lots AS (
      SELECT user_id, price,
             sum(qty) OVER w AS u_hi,
             sum(qty) OVER w - qty AS u_lo
      FROM fills WHERE side = 'buy'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    totals AS (
      SELECT user_id,
             sum(CASE WHEN side = 'buy' THEN qty ELSE 0 END) AS bought,
             sum(CASE WHEN side = 'sell' THEN qty ELSE 0 END) AS sold
      FROM fills GROUP BY user_id
    ),
    opened AS (
      SELECT l.user_id,
             greatest(0, u_hi - greatest(u_lo, least(bought, sold)))
               AS oq,
             price
      FROM lots l JOIN totals t ON l.user_id = t.user_id
    ),
    agged AS (
      SELECT user_id,
             CAST(sum(oq) AS BIGINT) AS open_qty,
             sum(price * oq) AS cost_dec
      FROM opened GROUP BY user_id HAVING sum(oq) > 0
    )
    SELECT user_id, open_qty,
           CAST(cost_dec AS DOUBLE) AS open_cost,
           CAST(cost_dec * 1000000 AS BIGINT) // open_qty
             AS avg_cost_micro
    FROM agged
    """,
)
def q_portfolio_open_lots(spark, sf_dir):
    """Open FIFO inventory + exact cost basis per account — the
    position snapshot the reference's portfolio sheet shows as a
    static grid (trading212.py:128-136). On the cumulative-unit axis
    the remaining inventory is just the buy units in
    [min(bought, sold), bought), so no lot replay: one window, one
    totals aggregate re-joined on the same key, one aggregate
    (operators/portfolio.py:fifo_open_lots). Average cost emitted as
    an exact integer micro-price (floor division), never a float
    ratio."""
    from pyspark.sql import functions as F

    from ..operators.portfolio import fifo_open_lots

    fills = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.col("user_id"),
            F.col("event_id"),
            F.col("ts"),
            F.when(F.col("event_type") == "click", F.lit("buy"))
            .otherwise(F.lit("sell"))
            .alias("side"),
            F.col("value").cast("decimal(18,2)").alias("price"),
            F.get_json_object("props", "$.k").cast("long").alias("qty"),
        )
        .where(F.col("qty") > 0)
    )
    return fifo_open_lots(fills)


@register(
    "portfolio_max_drawdown",
    oracle="""
    WITH flows AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(value AS DECIMAL(18,2))
                  ELSE -CAST(value AS DECIMAL(18,2)) END AS amount
      FROM events
      WHERE event_type IN ('purchase', 'click')
    ),
    running AS (
      SELECT user_id, event_id, ts, amount,
             sum(amount) OVER w AS equity
      FROM flows
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    curve AS (
      SELECT user_id, amount, equity,
             max(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS peak
      FROM running
    )
    SELECT user_id,
           CAST(max(peak - equity) AS DOUBLE) AS max_drawdown,
           CAST(sum(amount) AS DOUBLE) AS final_equity,
           CAST(max(equity) AS DOUBLE) AS peak_equity
    FROM curve GROUP BY user_id
    """,
)
def q_portfolio_max_drawdown(spark, sf_dir):
    """Max drawdown per account over the signed cash-flow equity
    curve (purchases credit, clicks debit): running sum → running
    max → worst peak-to-trough gap. Two stacked window functions
    over one keyed sort (one exchange) + a tiny aggregate
    (operators/portfolio.py:equity_drawdown). Exact decimal flows ⇒
    the doubles are casts of identical exact values on both
    engines."""
    from pyspark.sql import functions as F

    from ..operators.portfolio import equity_drawdown

    flows = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.col("user_id"),
            F.col("event_id"),
            F.col("ts"),
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,2)"),
            )
            .otherwise(-F.col("value").cast("decimal(18,2)"))
            .alias("amount"),
        )
    )
    return equity_drawdown(flows)


@register(
    "join_asof_nearest",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                 ORDER BY o_orderkey DESC) = 1
    ),
    b AS (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey AS b_key, o.o_totalprice AS b_price,
             o.o_orderdate AS b_date
      FROM e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ),
    f AS (
      SELECT e.event_id,
             o.o_orderkey AS f_key, o.o_totalprice AS f_price,
             o.o_orderdate AS f_date
      FROM e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN b_date IS NULL THEN f_key
                WHEN f_date IS NULL THEN b_key
                WHEN epoch_us(b.ts) - epoch_us(b_date)
                     <= epoch_us(f_date) - epoch_us(b.ts)
                THEN b_key ELSE f_key END AS near_orderkey,
           CASE WHEN b_date IS NULL THEN f_price
                WHEN f_date IS NULL THEN b_price
                WHEN epoch_us(b.ts) - epoch_us(b_date)
                     <= epoch_us(f_date) - epoch_us(b.ts)
                THEN b_price ELSE f_price END AS near_totalprice,
           CASE WHEN b_date IS NULL THEN f_date
                WHEN f_date IS NULL THEN b_date
                WHEN epoch_us(b.ts) - epoch_us(b_date)
                     <= epoch_us(f_date) - epoch_us(b.ts)
                THEN b_date ELSE f_date END AS near_orderdate
    FROM b JOIN f USING (event_id)
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """§2.3 extension — nearest-direction as-of join
    (merge_asof(direction='nearest')): each event gains the user's
    order closest in absolute time, equal distance preferring the
    earlier order (pandas tie rule). One spine, one exchange, two
    window carries (operators/asof.py:asof_join_nearest); the oracle
    composes DuckDB's backward and forward ASOF joins with the same
    tie arithmetic. Ties on (key, ts) pre-deduped to the max orderkey
    on both sides, as in join_asof_backward."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join_nearest

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    return asof_join_nearest(
        e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        ["o_orderkey", "o_totalprice", "o_orderdate"],
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("near_orderkey"),
        F.col("o_totalprice").alias("near_totalprice"),
        F.col("o_orderdate").alias("near_orderdate"),
    )


@register(
    "entity_resolution_customers",
    oracle="""
    WITH ents AS (
      SELECT c_custkey * 4 AS ent_id, c_name AS name,
             c_nationkey AS nation
      FROM customer
      UNION ALL
      SELECT c_custkey * 4 + 1,
             replace(c_name, 'Customer', 'Custmer'), c_nationkey
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey * 4 + 2,
             replace(c_name, 'Customer', 'Cstomer'), c_nationkey
      FROM customer WHERE c_custkey % 6 = 0
    ),
    keyed AS (
      SELECT *, regexp_extract(name, '([0-9]+)$', 1) AS bkey FROM ents
    ),
    pairs AS (
      SELECT a.ent_id AS ea, b.ent_id AS eb
      FROM keyed a JOIN keyed b
        ON a.nation = b.nation AND a.bkey = b.bkey
       AND a.ent_id < b.ent_id
      WHERE levenshtein(a.name, b.name) <= 2
    ),
    nbrmin AS (
      SELECT ent_id, min(nbr) AS m FROM (
        SELECT ea AS ent_id, eb AS nbr FROM pairs
        UNION ALL
        SELECT eb, ea FROM pairs
      ) GROUP BY ent_id
    )
    SELECT e.ent_id, e.name,
           least(e.ent_id, coalesce(n.m, e.ent_id)) AS cluster,
           least(e.ent_id, coalesce(n.m, e.ent_id)) = e.ent_id
             AS is_canonical
    FROM ents e LEFT JOIN nbrmin n USING (ent_id)
    """,
)
def q_entity_resolution_customers(spark, sf_dir):
    """Entity resolution end-to-end: a dirty registry (deterministic
    typo variants injected per customer — 'Custmer'/'Cstomer', ids
    base*4+{1,2}) is resolved by blocking on (nation, trailing digit
    run), levenshtein <= 2 within blocks
    (operators/quality.py:entity_pairs_blocked), and EXACT
    connected-components clustering (operators/dedup.py) with the min
    id as the canonical record. The digit-run block key is unique per
    customer here, so every cluster is a star around its base record
    — which is what lets the oracle use the one-round
    min-over-neighbors closed form; the Spark side still runs the
    general closure."""
    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components
    from ..operators.quality import entity_pairs_blocked

    c = _t(spark, sf_dir, "customer")
    # ONE pass, not a 3-branch self-union (r14, guide §2.1): the union
    # ran the customer scan once per variant branch, and ents feeds TWO
    # consumers (the blocking/pairs subtree and the final left join), so
    # the plan audit counted customer scanned 6x. A conditional
    # literal-struct array explode emits the identical variant rows in
    # one scan per consumer (the events_attribution_linear pattern).
    _ck = F.col("c_custkey")

    def _variant(off, repl):
        return F.struct(
            (_ck * 4 + off).alias("ent_id"),
            (
                F.regexp_replace("c_name", "Customer", repl)
                if repl
                else F.col("c_name")
            ).alias("name"),
            F.col("c_nationkey").alias("nation"),
        )

    ents = c.select(
        F.explode(
            F.filter(
                F.array(
                    _variant(0, None),
                    F.when(_ck % 3 == 0, _variant(1, "Custmer")),
                    F.when(_ck % 6 == 0, _variant(2, "Cstomer")),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__e")
    ).select("__e.ent_id", "__e.name", "__e.nation")
    keyed = ents.withColumn(
        "bkey", F.regexp_extract("name", "([0-9]+)$", 1)
    )
    pairs = entity_pairs_blocked(keyed, "ent_id", "name", ["nation", "bkey"])
    comp = connected_components(pairs)
    return (
        ents.join(
            comp.select(
                F.col("doc_id").alias("ent_id"),
                F.col("component").alias("__comp"),
            ),
            on="ent_id",
            how="left",
        )
        .select(
            "ent_id",
            "name",
            F.coalesce("__comp", "ent_id").alias("cluster"),
            (F.coalesce("__comp", "ent_id") == F.col("ent_id")).alias(
                "is_canonical"
            ),
        )
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total,
           count(l_extendedprice) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000
                AS BIGINT) // count(l_extendedprice) AS mean_micro
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_incremental_agg_merge(spark, sf_dir):
    """Incremental view maintenance, algebraically: the fact table
    arrives as a base batch + a delta batch (split on l_orderkey %
    10); each batch contributes only its |groups|-sized partial state
    (sum as exact decimal, count), and the maintained view is a merge
    of states — never a rescan of the base
    (operators/aggregates.py:agg_partial_states/merge_agg_states).
    The oracle is the straight one-pass recompute, so the green row
    IS the proof that merge(base_state, delta_state) ==
    full_recompute, bit-exact. At 100 TB this is the difference
    between re-aggregating the lake per ingest and touching only the
    new files."""
    from pyspark.sql import functions as F

    from ..operators.aggregates import (
        agg_partial_states,
        finalize_agg_states,
        merge_agg_states,
    )

    li = _t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    base = agg_partial_states(
        li.where(F.col("l_orderkey") % 10 != 0), keys, "l_extendedprice"
    )
    delta = agg_partial_states(
        li.where(F.col("l_orderkey") % 10 == 0), keys, "l_extendedprice"
    )
    return finalize_agg_states(merge_agg_states(base, delta))


@register(
    "clean_winsorize_prices",
    oracle="""
    WITH cuts AS (
      SELECT quantile_disc(o_totalprice, 0.01) AS lo,
             quantile_disc(o_totalprice, 0.99) AS hi
      FROM orders
    )
    SELECT o.o_orderkey,
           round(o.o_totalprice, 2) AS raw_price,
           round(least(greatest(o.o_totalprice, c.lo), c.hi), 2)
             AS winsorized,
           o.o_totalprice < c.lo OR o.o_totalprice > c.hi AS clamped
    FROM orders o CROSS JOIN cuts c
    """,
)
def q_clean_winsorize(spark, sf_dir):
    """Winsorization — the robust-stats outlier clamp every feature
    pipeline needs before training: values outside [p01, p99] are
    clamped to the cut points. Cut points are EXACT order statistics
    (percentile_disc = a value present in the data, so both engines
    agree bit-for-bit — no interpolation float drift), computed in one
    aggregate and broadcast back as a 1-row cross join; the clamp
    itself is a projection. Two passes total at any scale, the second
    embarrassingly parallel."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    cuts = o.agg(
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("lo"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("hi"),
    )
    return o.crossJoin(F.broadcast(cuts)).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("raw_price"),
        F.round(
            F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")),
            2,
        ).alias("winsorized"),
        (
            (F.col("o_totalprice") < F.col("lo"))
            | (F.col("o_totalprice") > F.col("hi"))
        ).alias("clamped"),
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    contrib AS (
      SELECT (day + r.i * INTERVAL 1 DAY) AS w_day, user_id, r.i
      FROM seen CROSS JOIN (
        SELECT unnest(range(0, 7)) AS i
      ) r
    ),
    wau AS (
      SELECT w_day AS day, count(DISTINCT user_id) AS wau
      FROM contrib GROUP BY w_day
    ),
    dau AS (
      SELECT day, count(*) AS dau FROM seen GROUP BY day
    )
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w USING (day)
    """,
)
def q_events_dau_wau(spark, sf_dir):
    """Rolling active-user counts: DAU and trailing-7-day WAU per
    day. Exact sliding-window COUNT DISTINCT does not decompose into
    window frames, so the scale-correct form is contribution
    explosion: each (user, day) activity row fans out to the 7 window
    days it keeps the user active in, then one groupBy counts
    distincts — shuffle volume is 7x the DISTINCT (user, day) pairs
    (already tiny vs raw events), never a per-day rescan. Only days
    with activity are reported (the day grid join is a separate
    gap-fill concern, see events_gapfill_hourly)."""
    from pyspark.sql import functions as F

    seen = (
        _t(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    # DAU rides the SAME aggregate (r14, guide §2.1): the i=0
    # contribution rows of a window day are exactly that day's
    # distinct (user, day) pairs, so counting them IS the DAU — the
    # former separate dau aggregate re-ran the events scan + distinct
    # and met wau in a join. ``dau > 0`` keeps the old inner-join
    # semantics (days reached only via the trailing window are not
    # reported).
    contrib = seen.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
        "user_id",
    )
    return (
        contrib.groupBy(F.date_add("day", F.col("i")).alias("day"))
        .agg(
            F.count(F.when(F.col("i") == 0, 1)).alias("dau"),
            F.count_distinct("user_id").alias("wau"),
        )
        .where(F.col("dau") > 0)
    )


@register(
    "streaming_vwap_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,6))
                    * CAST(props->>'$.k' AS BIGINT)) * 1000000
                AS BIGINT)
             // CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
             AS vwap_micro,
           CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             // count(*) AS twap_micro,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS volume,
           count(*) AS n_trades
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) > 0
    GROUP BY 1, 2
    """,
)
def q_streaming_vwap(spark, sf_dir):
    """§2.9 streaming — the VWAP market rollup as a watermarked
    Structured Streaming aggregate (streaming/windows.py:
    streaming_vwap_agg). The per-(window, instrument) state is the
    same algebraic (decimal sum, count) tuple batch IVM merges, so
    the converged complete-mode stream equals the batch rollup
    bit-for-bit — the oracle here IS the batch oracle, making the
    streaming path's equivalence a driver-checked row rather than a
    local-only test."""
    from ..streaming.windows import run_streaming_vwap

    return run_streaming_vwap(spark, sf_dir)


@register(
    "events_twap_hourly",
    oracle="""
    WITH seq AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
               AS v_micro,
             coalesce(
               lead(epoch_us(ts)) OVER (
                 PARTITION BY event_type, date_trunc('hour', ts)
                 ORDER BY ts, event_id),
               epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
             ) - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT hour, event_type,
           CAST(sum(v_micro * dt_us) // CAST(sum(dt_us) AS HUGEINT)
                AS BIGINT) AS twap_micro,
           count(*) AS n_ticks
    FROM seq
    GROUP BY hour, event_type
    HAVING sum(dt_us) > 0
    """,
)
def q_events_twap(spark, sf_dir):
    """Time-weighted average price per (hour, instrument): each tick's
    value is weighted by the microseconds until the next tick (hour end
    for the last tick), the textbook TWAP a trading pipeline reports
    next to the volume-weighted rollup (streaming_vwap_hourly). All
    arithmetic is integer-exact — value is lifted to micro units in
    DECIMAL(38,0), weights are epoch-microsecond deltas, and the final
    ratio is a single integral DIV — so both engines agree bit-for-bit
    with no float summation-order drift. One keyed window (lead) plus
    one groupBy on the same (event_type, hour) key: Catalyst reuses the
    window's exchange for the aggregate, so the whole query is ONE
    shuffle at any scale. Ties on ts are broken by event_id in both
    engines (the tied earlier row gets a zero weight —
    deterministic)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    seq = (
        ev.select(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
            "event_id",
            "ts",
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("decimal(38,0)")
            .alias("v_micro"),
            F.unix_micros("ts").alias("t_us"),
        )
        .withColumn(
            "nxt_us",
            F.coalesce(
                F.lead("t_us").over(w),
                F.unix_micros(F.col("hour") + F.expr("INTERVAL 1 HOUR")),
            ),
        )
        .withColumn("dt_us", F.col("nxt_us") - F.col("t_us"))
    )
    return (
        seq.groupBy("hour", "event_type")
        .agg(
            F.sum(
                F.col("v_micro") * F.col("dt_us").cast("decimal(38,0)")
            ).alias("num"),
            F.sum("dt_us").alias("den"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .where(F.col("den") > 0)
        .select(
            "hour",
            "event_type",
            F.expr("CAST(num DIV den AS BIGINT)").alias("twap_micro"),
            "n_ticks",
        )
    )


@register(
    "events_rolling_volatility",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t_s,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS v
      FROM events
    ),
    win AS (
      SELECT event_id, event_type,
             count(*) OVER w AS n_win,
             sum(v) OVER w AS s1,
             sum(v * v) OVER w AS s2
      FROM base
      WINDOW w AS (PARTITION BY event_type ORDER BY t_s
                   RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, n_win,
           CAST(s1 // CAST(n_win AS HUGEINT) AS BIGINT) AS ma_micro,
           CAST((CAST(n_win AS HUGEINT) * s2 - s1 * s1)
                // CAST(n_win * n_win AS HUGEINT) AS BIGINT)
             AS var_micro2
    FROM win
    """,
)
def q_events_rolling_volatility(spark, sf_dir):
    """Per-tick trailing 1-hour moving average and population variance
    ("Bollinger" inputs) per instrument, as an event-time RANGE frame.
    The frame is anchored on epoch SECONDS in both engines (the
    window_range_frame lesson: interval frames over raw timestamps
    disagree with integer frames once sub-second neighbors appear at
    density). Values are lifted to integer micro units and the
    variance uses the algebraic identity (n*Σv² − (Σv)²)/n² entirely
    in DECIMAL(38,0)/HUGEINT, so there is no float accumulation at
    all; the only division is the final integral DIV. One shuffle
    (the per-instrument sort); at 100 TB the frame state is O(window
    rows) per task and spills via UnsafeExternalSorter."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.unix_seconds("ts").alias("t_s"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("decimal(38,0)")
        .alias("v"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t_s")
        .rangeBetween(-3599, Window.currentRow)
    )
    win = base.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("s2"),
    )
    return win.select(
        "event_id",
        "event_type",
        "n_win",
        F.expr("CAST(s1 DIV n_win AS BIGINT)").alias("ma_micro"),
        F.expr(
            "CAST((n_win * s2 - s1 * s1) DIV (n_win * n_win) AS BIGINT)"
        ).alias("var_micro2"),
    )


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(CAST(date_trunc('month', o_orderdate) AS DATE))
               AS cohort_month
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_month,
           CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
                - (year(f.cohort_month) * 12 + month(f.cohort_month))
                AS BIGINT) AS month_offset,
           count(DISTINCT o.o_custkey) AS active_customers,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def q_orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime value: customers are cohorted by the month of
    their first order; each cohort reports active customers and
    revenue per month offset — the retention/LTV triangle every
    growth dashboard draws. ONE orders pass (r14, guide §2.1/§2.3):
    pre-aggregate to customer-month revenue first (map-side combine
    shrinks the fact to dimension-bounded rows before any exchange),
    take the cohort as ``min(order_month) OVER (PARTITION BY
    o_custkey)`` on that frame, and roll up. The former shape
    aggregated first-order months separately and joined back onto the
    raw fact — two orders scans, and at dimension scale (per-customer
    frame too big to broadcast) a shuffle of the FULL fact for the
    sort-merge join; now nothing fact-sized is ever shuffled.
    Equivalence: distinct customers per (cohort, offset) = row count
    of the customer-month frame there (within a group, month =
    cohort + offset, so a customer cannot repeat); decimal partial
    sums re-sum exactly (associative); min-of-months = truncated
    first order date. Revenue stays DECIMAL until the DOUBLE
    boundary; the month offset is pure integer calendar arithmetic,
    identical in both engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("order_month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev")
    )
    cohort = F.min("order_month").over(Window.partitionBy("o_custkey"))
    month_offset = (
        (F.year("order_month") * 12 + F.month("order_month"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("bigint")
    return (
        monthly.withColumn("cohort_month", cohort)
        .groupBy("cohort_month", month_offset.alias("month_offset"))
        .agg(
            F.count(F.lit(1)).alias("active_customers"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
    )


@register(
    "features_ntile_bins",
    oracle="""
    WITH ranked AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice,
             CAST(ntile(10) OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.o_totalprice, o.o_orderkey) AS INT) AS decile
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment, decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM ranked GROUP BY segment, decile
    """,
)
def q_features_ntile_bins(spark, sf_dir):
    """Equal-frequency decile binning of order value within market
    segment — the feature-engineering discretizer (quantile bucketing)
    a training pipeline applies before crossing features. ntile(10)
    over a TOTAL order (price, then orderkey as tiebreak) makes bin
    assignment deterministic in both engines even with duplicate
    prices; per-bin min/max are raw input doubles (no summation, no
    drift). The dimension join broadcasts customer; the ntile is the
    one per-segment sort shuffle. At 100 TB, swap ntile for
    approx-quantile cut points + a projection (profile_quantiles has
    the exact-cut machinery) to avoid the global per-segment sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice", "o_orderkey")
    w = Window.partitionBy("segment").orderBy("o_totalprice", "o_orderkey")
    ranked = joined.select(
        "segment",
        "o_totalprice",
        F.ntile(10).over(w).cast("int").alias("decile"),
    )
    return ranked.groupBy("segment", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "agg_heavy_hitters",
    oracle="""
    WITH freq AS (
      SELECT p.p_brand, count(*) AS cnt
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    tot AS (
      SELECT p_brand, cnt, sum(cnt) OVER () AS total FROM freq
    )
    SELECT p_brand, cnt,
           CAST((cnt * 1000000) // total AS BIGINT) AS share_ppm
    FROM tot WHERE cnt * 100 >= total
    """,
)
def q_agg_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters: brands carrying ≥ 1% of lineitem volume,
    with their share in parts-per-million (integer-exact — no float
    division). The frequency pass is a map-side-combinable groupBy on
    a LOW-cardinality key after a broadcast dimension join, so the
    shuffle carries one row per (task, brand); the global total is a
    window over the already-aggregated 25-row frame — never a rescan
    or a second pass over the fact table. This exact two-level
    aggregate IS the 100 TB plan for bounded key domains; for
    unbounded domains the streaming analog is a Misra-Gries /
    space-saving sketch, which trades the exact gate for O(k)
    state."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..partitioning import scalar_bucket

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    freq = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == p.p_partkey,
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # global total as a window over the ALREADY-AGGREGATED 25-row
    # brand frame, partitioned on the non-foldable scalar_bucket key:
    # one row per brand flows through one small exchange — strictly
    # cheaper than the r6 persist + 1-row-broadcast-cross-join shape
    # (which cost a cached branch plus an extra broadcast job and
    # regressed the bench 1.64x), and no "No Partition Defined"
    # warning because the key survives constant folding
    tot = freq.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy(scalar_bucket("p_brand")))
    )
    return tot.where(F.col("cnt") * 100 >= F.col("total")).select(
        "p_brand",
        "cnt",
        F.expr("CAST((cnt * 1000000) DIV total AS BIGINT)").alias("share_ppm"),
    )


@register(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(isodow(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity heatmap — the seasonality
    profile behind load forecasting and anomaly baselines. Calendar
    keys use ISO day numbering (Spark's weekday()+1 == DuckDB's
    isodow; the engines' bare dayofweek functions DISAGREE on Sunday
    — 1 vs 0 — which is exactly the cross-engine trap this entry
    pins). A single map-side-combinable groupBy over at most 7×24
    keys: shuffle volume is one row per task per cell regardless of
    input scale. Value sums ride DECIMAL(18,6) so the hash-gate sees
    identical bits."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def q_graph_triangle_count(spark, sf_dir):
    """Triangle enumeration on the support-pruned co-purchase graph
    (edges = part pairs bought together in ≥ 2 orders) — the dense-
    community primitive behind clustering coefficients and fraud-ring
    detection, complementing graph_pagerank (global influence) and
    dedup_connected_components (reachability). The enumeration is the
    node-iterator join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with every edge
    already oriented low-id → high-id, so a < b < c: each triangle is
    emitted EXACTLY once and, at scale, the orientation bounds join
    fanout by the graph's degeneracy rather than its max raw degree —
    the standard distributed-triangle trick. Pair generation avoids
    a self-join entirely: collect_set the basket per order (ONE
    shuffle on l_orderkey — also subsumes the distinct), then emit
    the ordered pairs with a flatten/transform expression — pure
    whole-stage-codegen, quadratic only in basket size (a basket
    above MAX_BASKET_PARTS fails loudly), and one fewer exchange than
    the co-partitioned self-join form; orders_basket_affinity shares
    the generator (_core._basket_pairs). The ≥ 2 support filter prunes
    the long tail before any graph join runs; the pruned edge list
    is tiny relative to the fact table (3.4k edges from 60k
    lineitems at sf0.01), so the three-way join broadcasts; on a
    100 TB corpus the same joins fall back to shuffle-hash on u and
    (a, c) respectively."""
    from pyspark.sql import functions as F

    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    from ..partitioning import freeze_partitions

    # the pruned edge list has THREE join-side consumers (e1/e2/e3)
    # with different keys, so exchange reuse can't kick in — lazy-pin
    # it once instead of re-running basket-aggregate + pair-explode +
    # edge-aggregate per side (r5: ~2.5 -> 1.8s at sf0.1)
    edges = freeze_partitions(
        _basket_pairs(baskets)
        .where(F.col("pair_count") >= 2)
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


@register(
    "events_session_paths",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                          > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, CAST(sum(is_new) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    ),
    paths AS (
      SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, session_seq
    )
    SELECT path, count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q_events_session_paths(spark, sf_dir):
    """Top navigation paths: sessionize (30-min gap, the
    events_sessionize_30m machinery), concatenate each session's
    ordered event types into a path string, and rank paths by session
    count — the clickstream-mining complement to events_funnel (which
    checks ONE fixed sequence; this discovers which sequences
    dominate). In-session ordering is pinned by array_sort over
    (ts, event_id, event_type) structs — Spark's collect_list is
    order-nondeterministic under retries/AQE, so sorting INSIDE the
    aggregate value, not the input, is what makes the path string
    reproducible (same lesson as string_agg_first8). The top-20 cut
    is totally ordered by (count, path) so the limit boundary is
    deterministic. Two shuffles at scale: user sessionization (reused
    across both window passes) and the path re-aggregation — path
    cardinality, not event volume."""
    from pyspark.sql import functions as F

    from ..operators.events import label_sessions

    sess = label_sessions(_t(spark, sf_dir, "events"), 30)
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@register(
    "orders_churn_labels",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey, o_custkey,
             epoch_us(o_orderdate) AS cur_us,
             lead(epoch_us(o_orderdate)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nxt_us
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST((nxt_us - cur_us) // 86400000000 AS BIGINT)
             AS days_to_next,
           (nxt_us IS NULL OR (nxt_us - cur_us) // 86400000000 > 30)
             AS churned_30d
    FROM seq
    """,
)
def q_orders_churn_labels(spark, sf_dir):
    """Churn labeling for supervised training: every order gets the
    days until the customer's next order (NULL for the last) and a
    churned-within-30-days label — the point-in-time-safe way to
    build churn targets (each label uses only FUTURE behavior of the
    same key, never aggregate leakage across the split boundary; pair
    with sample_leakage_safe_split). One keyed window (lead) = one
    shuffle on o_custkey; the gap is integer epoch-microsecond
    arithmetic so both engines agree exactly, including NULL
    propagation for final orders."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_orderkey",
        "o_custkey",
        F.unix_micros("o_orderdate").alias("cur_us"),
        F.lead(F.unix_micros("o_orderdate")).over(w).alias("nxt_us"),
    )
    gap_days = F.expr("CAST((nxt_us - cur_us) DIV 86400000000 AS BIGINT)")
    return seq.select(
        "o_orderkey",
        "o_custkey",
        gap_days.alias("days_to_next"),
        (F.col("nxt_us").isNull() | (gap_days > 30)).alias("churned_30d"),
    )


@register(
    "events_ewma_smoothed",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      FROM events
    ),
    lags AS (
      SELECT event_id, user_id, v,
             lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2,
             lag(v, 3) OVER w AS v3, lag(v, 4) OVER w AS v4,
             lag(v, 5) OVER w AS v5, lag(v, 6) OVER w AS v6,
             lag(v, 7) OVER w AS v7
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST((v * 128
                 + coalesce(v1, 0) * 64 + coalesce(v2, 0) * 32
                 + coalesce(v3, 0) * 16 + coalesce(v4, 0) * 8
                 + coalesce(v5, 0) * 4 + coalesce(v6, 0) * 2
                 + coalesce(v7, 0))
                // (128
                    + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
                    + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END
                    + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
                    + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END
                    + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
                    + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END
                    + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS ewma_micro
    FROM lags
    """,
)
def q_events_ewma(spark, sf_dir):
    """Exponentially-weighted moving average per user (half-life = one
    event, depth 8): the classic smoothing feature that is normally
    impossible to oracle across engines because (1-α)^k powers drift
    in float. With α = 1/2 the weights are exact powers of two, so
    the whole EWMA is INTEGER arithmetic — numerator in value-micros
    × binary weights, denominator only counting the weights of lags
    that exist — and both engines agree bit-for-bit. Expressed as 8
    lag() columns over ONE keyed window (one shuffle, whole-stage
    codegen keeps all 8 in a single pass); the general-α production
    form is the same shape with float weights, or
    applyInPandasWithState for unbounded depth in streaming."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = (
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("bigint")
        .alias("v")
    )
    base = ev.select("event_id", "user_id", "ts", v)
    lagged = base.select(
        "event_id",
        "user_id",
        "v",
        *[F.lag("v", k).over(w).alias(f"v{k}") for k in range(1, 8)],
    )
    weights = [64, 32, 16, 8, 4, 2, 1]
    num = F.col("v") * 128
    den = F.lit(128)
    for k, wt in enumerate(weights, start=1):
        num = num + F.coalesce(F.col(f"v{k}"), F.lit(0)) * wt
        den = den + F.when(F.col(f"v{k}").isNull(), 0).otherwise(wt)
    return lagged.select(
        "event_id", "user_id", num.alias("num"), den.alias("den")
    ).select(
        "event_id",
        "user_id",
        F.expr("CAST(num DIV den AS BIGINT)").alias("ewma_micro"),
    )




@register(
    "privacy_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT)
               AS bal_band,
             count(*) AS k,
             count(DISTINCT c_custkey % 10) AS l_div
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT k AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(min(l_div) AS BIGINT) AS min_l_diversity,
           k < 5 AS below_k5
    FROM g GROUP BY k
    """,
)
def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity risk profile — the privacy audit a training-data
    release runs before publishing: group the table by its
    quasi-identifiers (nation, market segment, account-balance band)
    and histogram the equivalence-class sizes. A class of size k < 5
    means those rows are re-identifiable to within 5 candidates;
    ``min_l_diversity`` adds the l-diversity floor (distinct sensitive
    values per class — custkey mod 10 stands in for a sensitive
    attribute on this schema). Two hash-aggregates, the second over
    class-count rows (vocabulary-sized); the balance band is exact
    DECIMAL floor division so band edges can't straddle a float
    boundary across engines. At 100 TB: the first groupBy is the only
    data-sized shuffle and it map-side combines."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("decimal(18,2)") / 1000)
        .cast("bigint")
        .alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct(F.col("c_custkey") % 10).alias("l_div"),
    )
    return g.groupBy(F.col("k").alias("group_size")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k").alias("n_rows"),
        F.min("l_div").alias("min_l_diversity"),
        (F.col("group_size") < 5).alias("below_k5"),
    ).select("group_size", "n_groups", "n_rows", "min_l_diversity", "below_k5")


@register(
    "events_attribution_linear",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type <> 'purchase'
    ),
    d AS (
      SELECT DISTINCT p.user_id, p.ts AS pts, p.event_id AS pid,
             t.event_type AS channel
      FROM p JOIN t ON t.user_id = p.user_id
       AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
    ),
    n AS (SELECT user_id, pts, pid, count(*) AS k
          FROM d GROUP BY 1, 2, 3),
    credit AS (
      SELECT d.channel, 1000000 // n.k AS ppm
      FROM d JOIN n USING (user_id, pts, pid)
      UNION ALL
      SELECT 'direct' AS channel, 1000000 AS ppm
      FROM p ANTI JOIN d ON d.user_id = p.user_id
                        AND d.pts = p.ts AND d.pid = p.event_id
    )
    SELECT channel, count(*) AS n_credited,
           CAST(sum(ppm) AS BIGINT) AS credit_ppm_total
    FROM credit GROUP BY channel
    """,
)
def q_events_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution (the companion to the
    last-touch entry): every purchase splits one unit of credit
    equally across the DISTINCT channels the user touched before it
    (integer ppm, floor division — the sub-ppm remainder is
    documented truncation, not float drift); purchases with no prior
    touches credit 'direct' in full. ONE keyed window (collect_set
    over the per-user prefix) replaces the self-join a naive
    formulation needs — shuffle on user_id only — while the oracle
    uses the equivalent prefix-join formulation. Deterministic under
    ties via the (ts, event_id) total order; set order is free
    because every consumer (size, explode -> groupBy) is
    order-insensitive. collect_set, NOT
    array_distinct(collect_list(...)): the running frame's aggregate
    buffer is evaluated and COPIED per row, so a collect_list buffer
    grows with the prefix and the window writes O(rows^2) bytes on a
    hot key (the 30%-hot-key skew corpus pinned this straggler for
    10+ minutes, jstack showed GenericArrayData.copy in the window
    evaluator), while the set is bounded by the channel vocabulary."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = _t(spark, sf_dir, "events").withColumn(
        "chs",
        F.collect_set(
            F.when(F.col("event_type") != "purchase", F.col("event_type"))
        ).over(w),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "chs", F.size("chs").alias("k")
    )
    # ONE pass over p, not a credited/direct self-union: the union's
    # two branches were independent consumers of p, so the collect_set
    # prefix window over the full event stream executed twice (r14
    # plan audit). A purchase with no prior touches explodes a
    # 1-element literal 'direct' array instead — identical rows,
    # single window execution.
    contrib = p.select(
        F.explode(
            F.when(F.col("k") > 0, F.col("chs")).otherwise(
                F.array(F.lit("direct"))
            )
        ).alias("channel"),
        F.when(F.col("k") > 0, F.expr("1000000 DIV k"))
        .otherwise(F.lit(1000000))
        .alias("ppm"),
    )
    return (
        contrib.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credited"),
            F.sum("ppm").cast("bigint").alias("credit_ppm_total"),
        )
    )


@register(
    "pipeline_release_gate",
    oracle="""
    WITH dq AS (
      SELECT count(*) FILTER (WHERE CAST(o_totalprice AS DOUBLE) <= 0
                                 OR o_custkey IS NULL) AS dq_violations,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders
    ),
    kmin AS (
      SELECT CAST(min(k) AS BIGINT) AS min_k FROM (
        SELECT count(*) AS k FROM customer
        GROUP BY c_nationkey, c_mktsegment
      )
    ),
    fresh AS (
      SELECT CAST(count(*) FILTER (
               WHERE frontier - latest_s > 3600) AS BIGINT) AS stale_types
      FROM (
        SELECT max(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
                 AS latest_s,
               max(max(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)))
                 OVER () AS frontier
        FROM events GROUP BY event_type
      )
    )
    SELECT dq.n_orders,
           CAST(dq.dq_violations AS BIGINT) AS dq_violations,
           kmin.min_k,
           fresh.stale_types,
           (dq.dq_violations = 0 AND kmin.min_k >= 5
            AND fresh.stale_types = 0) AS release_go
    FROM dq CROSS JOIN kmin CROSS JOIN fresh
    """,
)
def q_pipeline_release_gate(spark, sf_dir):
    """The release decision itself: one GO/NO-GO row composing the
    governance battery — data-quality violations must be zero
    (positive totals, keyed rows), the customer quasi-identifier
    classes must all clear k ≥ 5 (privacy_k_anonymity's gate), and no
    event type may lag the ingest frontier by over an hour
    (dq_freshness_skew's gate). Three independent 1-row audit
    aggregates cross-joined into the summary row (the
    delete_propagation pattern) — each sub-audit is one
    map-side-combinable pass over its table, so the whole gate costs
    three scans regardless of scale, and a pipeline runs it as the
    last step before publishing a training snapshot."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    dq = o.agg(
        F.sum(
            (
                (F.col("o_totalprice").cast("double") <= 0)
                | F.col("o_custkey").isNull()
            ).cast("long")
        ).alias("dq_violations"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    kmin = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.min("k").alias("min_k"))
    )
    from ..partitioning import freeze_partitions

    # pinned: feeds its own frontier scalar (dq_freshness_skew's rule)
    per_type = freeze_partitions(
        ev.groupBy("event_type").agg(
            F.max(F.unix_seconds("ts")).alias("latest_s")
        )
    )
    fresh = (
        per_type.crossJoin(
            F.broadcast(per_type.agg(F.max("latest_s").alias("frontier")))
        )
        .agg(
            F.sum(
                (F.col("frontier") - F.col("latest_s") > 3600).cast("long")
            ).alias("stale_types")
        )
    )
    return (
        dq.crossJoin(F.broadcast(kmin))
        .crossJoin(F.broadcast(fresh))
        .select(
            "n_orders",
            "dq_violations",
            "min_k",
            "stale_types",
            (
                (F.col("dq_violations") == 0)
                & (F.col("min_k") >= 5)
                & (F.col("stale_types") == 0)
            ).alias("release_go"),
        )
    )


@register(
    "streaming_error_rate_sli",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS err_ppm,
           (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            * 1000 > count(*)) AS budget_burn
    FROM events GROUP BY 1
    """,
)
def q_streaming_error_sli(spark, sf_dir):
    """§2.9 streaming — the reliability SLI as a watermarked
    event-time window aggregate (streaming/windows.py:
    streaming_error_sli_agg): per-hour (n_total, n_error) state is
    algebraic, so the converged complete-mode stream equals the batch
    SLI rollup bit-for-bit — ppm and the exact cross-multiplied burn
    flag included. The ops face of the streaming battery next to the
    VWAP/presence twins."""
    from ..streaming.windows import run_streaming_error_sli

    return run_streaming_error_sli(spark, sf_dir)
