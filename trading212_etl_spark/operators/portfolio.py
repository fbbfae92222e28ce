"""Portfolio accounting — FIFO lot matching and realized P&L, the
computation a Trading212-style fill ledger exists to feed.

The reference stores raw fills in a sheet and stops
(trading212.py:128-136); computing FIFO P&L is left to the
spreadsheet user. The textbook implementation is a per-account
sequential scan with a lot queue — O(1) state machine, hostile to
distribution. This module re-derives it as pure relational algebra:

**FIFO matching is an interval-overlap join on the cumulative-quantity
axis.** Number every unit of quantity an account ever bought
0,1,2,… in fill order; number every unit sold the same way. FIFO
("each sold unit consumes the earliest unconsumed bought unit") is
then exactly: sold unit #i consumes bought unit #i. So each buy fill
owns the half-open unit interval [cum_before, cum_after) on the buy
axis, each sell fill owns its interval on the sell axis, and the
matched quantity between a (buy, sell) pair is the length of the
intersection of their intervals. That turns the sequential queue into:

  1. one keyed window per side (cumulative sums — single shuffle on
     the account key, the same single-exchange shape as the as-of
     join, operators/asof.py:23);
  2. a sorted MERGE of the two interval sets on the shared unit axis:
     union the buy-starts and sell-starts, carry the last buy lot and
     last sell lot forward (two last(ignorenulls) over one running
     window — the as-of carry), and emit the segment from each
     breakpoint to the next. Each side's intervals are CONTIGUOUS by
     construction (cumulative sums), so no breakpoint falls strictly
     inside any (buy, sell) overlap and positive segments correspond
     1:1 to FIFO-matched pairs. An earlier formulation joined the two
     interval sets with an account-equi + range-residual hash join;
     that probe is O(buys x sells) per key and the 30%-hot-key skew
     corpus ground it for 4+ minutes on one task — the merge is
     O(fills log fills) on the same single exchange;
  3. an ordinary aggregate of matched_qty * (sell_px - buy_px).

At 100 TB the only data-sized structure is the per-account sort; a
hot account serializes its own ordered scan (the irreducible
per-key-window cost), never a quadratic probe. Prices ride DECIMAL so
P&L is an exact decimal sum — order-independent, no float
accumulation drift across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fifo_realized_pnl(fills: DataFrame) -> DataFrame:
    """Realized P&L per account under FIFO lot matching.

    ``fills`` needs (user_id, side in {'buy','sell'}, ts, event_id as
    the tiebreak at equal ts, qty > 0, price as an exact DECIMAL).
    Sells beyond the total bought quantity (shorts) stay unmatched and
    contribute nothing, matching long-only FIFO semantics.

    Output: (user_id, matched_qty BIGINT, realized_pnl DOUBLE cast
    from an exact decimal sum, n_matches BIGINT).
    """
    # ONE window pass builds both sides' spine rows (r14): the
    # previous per-side filter -> cumulative-units window -> union ran
    # the fills scan AND the per-account ordered window twice (the two
    # branches are disjoint row sets, so no exchange reuse applies —
    # r14 scan_dup_audit). A conditional running sum over the SAME
    # (account, ts, tiebreak) order gives each row its own side's
    # cumulative interval (rows of the other side contribute null,
    # which sum skips), and each fill emits exactly one spine row with
    # the other side's struct null — identical rows to the union, half
    # the scans and window sorts.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_buy = F.col("side") == "buy"
    is_sell = F.col("side") == "sell"
    cum_b = F.sum(F.when(is_buy, F.col("qty"))).over(w_run)
    cum_s = F.sum(F.when(is_sell, F.col("qty"))).over(w_run)
    spine = fills.where(F.col("side").isin("buy", "sell")).select(
        F.col("user_id").alias("__acct"),
        (F.when(is_buy, cum_b).otherwise(cum_s) - F.col("qty")).alias("__pos"),
        F.when(is_buy, F.lit(0)).otherwise(F.lit(1)).alias("__side"),
        F.when(
            is_buy,
            F.struct(cum_b.alias("b_hi"), F.col("price").alias("b_px")),
        ).alias("__b"),
        F.when(
            is_sell,
            F.struct(cum_s.alias("s_hi"), F.col("price").alias("s_px")),
        ).alias("__s"),
    )
    # One ordered pass per account: at unit position p the active buy
    # lot is the last buy-start <= p (contiguous intervals), same for
    # sells; the segment from each breakpoint to the next therefore
    # has constant (buy, sell) and its length is the matched quantity.
    # The carried u_hi caps segments past either side's total (stale
    # carries yield non-positive lengths and drop out), so shorts and
    # unmatched tails need no totals join.
    w_ord = Window.partitionBy("__acct").orderBy("__pos", "__side")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg = (
        spine.withColumn("__bc", F.last("__b", ignorenulls=True).over(w_run))
        .withColumn("__sc", F.last("__s", ignorenulls=True).over(w_run))
        .withColumn("__nxt", F.lead("__pos").over(w_ord))
    )
    end = F.least(
        F.coalesce(F.col("__nxt"), F.col("__bc.b_hi")),
        F.col("__bc.b_hi"),
        F.col("__sc.s_hi"),
    )
    matched = end - F.col("__pos")
    return (
        seg.where(
            F.col("__bc").isNotNull()
            & F.col("__sc").isNotNull()
            & (matched > 0)
        )
        .select(
            F.col("__acct").alias("user_id"),
            matched.alias("m_qty"),
            ((F.col("__sc.s_px") - F.col("__bc.b_px")) * matched).alias(
                "m_pnl"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum("m_qty").cast("long").alias("matched_qty"),
            F.sum("m_pnl").cast("double").alias("realized_pnl"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )


def fifo_open_lots(fills: DataFrame) -> DataFrame:
    """Remaining FIFO inventory per account: open quantity and its
    exact cost basis after all fills.

    The unit-axis view makes this a projection, not a replay: FIFO
    consumes buy units [0, min(B, S)) where B/S are the account's
    total bought/sold quantities, so the open inventory is exactly
    the buy units in [min(B, S), B). Each buy lot's open quantity is
    its interval's overlap with that tail — one window pass computes
    both the lot intervals (running conditional sum) and the account
    totals (whole-partition frame) on a single exchange, then one
    aggregate.

    Output: (user_id, open_qty BIGINT, open_cost DOUBLE — exact
    decimal cast, avg_cost_micro BIGINT = floor(cost/qty * 1e6)).
    Accounts with nothing open are omitted.
    """
    # ONE pass (r14): the buys-only window and the full-frame totals
    # aggregate each scanned fills (r14 scan_dup_audit: 2 scans) and
    # met again in a join. Both are windows over the SAME account
    # partitioning — the running conditional sum gives each buy row
    # its interval, the unordered whole-partition frame gives the
    # account totals — so one exchange carries everything and the
    # totals join disappears.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("user_id")
    is_buy = F.col("side") == "buy"
    lots = (
        fills.withColumn(
            "u_hi", F.sum(F.when(is_buy, F.col("qty"))).over(w_run)
        )
        .withColumn(
            "_bought",
            F.sum(F.when(is_buy, F.col("qty")).otherwise(0)).over(w_all),
        )
        .withColumn(
            "_sold",
            F.sum(
                F.when(F.col("side") == "sell", F.col("qty")).otherwise(0)
            ).over(w_all),
        )
        .where(is_buy)
        .withColumn("u_lo", F.col("u_hi") - F.col("qty"))
    )
    cutoff = F.least("_bought", "_sold")
    open_qty = F.greatest(
        F.lit(0), F.col("u_hi") - F.greatest(F.col("u_lo"), cutoff)
    )
    agged = (
        lots
        .select(
            F.col("user_id"),
            open_qty.alias("_oq"),
            (F.col("price") * open_qty).alias("_ocost"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("_oq").cast("long").alias("open_qty"),
            F.sum("_ocost").alias("_cost_dec"),
        )
        .where(F.col("open_qty") > 0)
    )
    return agged.select(
        F.col("user_id"),
        "open_qty",
        F.col("_cost_dec").cast("double").alias("open_cost"),
        F.expr("CAST(_cost_dec * 1000000 AS BIGINT) DIV open_qty").alias(
            "avg_cost_micro"
        ),
    )


def equity_drawdown(flows: DataFrame) -> DataFrame:
    """Max drawdown per account (``user_id``) over the cash-flow
    equity curve: equity = running sum of signed ``amount`` in
    (ts, event_id) order, peak = running max of equity, drawdown =
    peak − equity; report each account's worst drawdown plus its
    final and peak equity.

    Two window functions over ONE keyed sort (same partition + order
    ⇒ one exchange, one sort) and a final tiny aggregate. Amounts
    must be exact decimals — running sums are then
    accumulation-order-independent, and the output doubles are casts
    of identical exact values on any engine.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = flows.withColumn("_equity", F.sum("amount").over(w)).withColumn(
        "_peak", F.max("_equity").over(w)
    )
    # final equity == total flow sum (the running sum's last value) and
    # peak == max equity — both expressible as order-independent
    # aggregates; F.last() in an agg would be partition-order-dependent.
    return (
        curve.groupBy("user_id")
        .agg(
            F.max(F.col("_peak") - F.col("_equity"))
            .cast("double")
            .alias("max_drawdown"),
            F.sum("amount").cast("double").alias("final_equity"),
            F.max("_equity").cast("double").alias("peak_equity"),
        )
    )
