"""FIFO lot-matching tests: a hand-worked ledger, a randomized fuzz
against a sequential lot-queue simulator (the textbook implementation
the relational form must agree with), and the plan shape (hash join
with range residual, not a nested loop)."""

from __future__ import annotations

import contextlib
import io
from collections import deque
from decimal import Decimal

from pyspark.sql import functions as F

from trading212_etl_spark.operators.portfolio import fifo_realized_pnl

SCHEMA = (
    "user_id INT, event_id INT, ts INT, side STRING, "
    "qty BIGINT, price DECIMAL(18,2)"
)


def _run(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return {
        r["user_id"]: (r["matched_qty"], round(r["realized_pnl"], 6))
        for r in fifo_realized_pnl(df).collect()
    }


def _simulate(rows):
    """Sequential FIFO queue — ground truth. Long-only: sells beyond
    the available bought quantity go unmatched."""
    by_acct: dict[int, list] = {}
    for acct, fid, ts, side, qty, px in sorted(
        rows, key=lambda r: (r[0], r[2], r[1])
    ):
        by_acct.setdefault(acct, []).append((side, qty, Decimal(px)))
    out = {}
    for acct, fills in by_acct.items():
        lots: deque = deque()
        matched = 0
        pnl = Decimal(0)
        for side, qty, px in fills:
            if side == "buy":
                lots.append([qty, px])
            else:
                remaining = qty
                while remaining > 0 and lots:
                    lot = lots[0]
                    take = min(lot[0], remaining)
                    pnl += (px - lot[1]) * take
                    matched += take
                    lot[0] -= take
                    remaining -= take
                    if lot[0] == 0:
                        lots.popleft()
        if matched:
            out[acct] = (matched, round(float(pnl), 6))
    return out


def test_fifo_hand_worked(spark):
    # acct 1: buy 10 @ 5, buy 10 @ 7, sell 15 @ 8
    # FIFO: 10 matched at (8-5)=3 → 30, then 5 at (8-7)=1 → 5. P&L 35.
    rows = [
        (1, 1, 1, "buy", 10, Decimal("5.00")),
        (1, 2, 2, "buy", 10, Decimal("7.00")),
        (1, 3, 3, "sell", 15, Decimal("8.00")),
    ]
    assert _run(spark, rows) == {1: (15, 35.0)}


def test_fifo_oversell_stays_unmatched(spark):
    # Only 4 units ever bought; the 10-unit sell matches 4.
    rows = [
        (2, 1, 1, "buy", 4, Decimal("10.00")),
        (2, 2, 2, "sell", 10, Decimal("12.00")),
    ]
    assert _run(spark, rows) == {2: (4, 8.0)}


def test_fifo_sell_before_any_buy(spark):
    # A sell preceding every buy owns units [0, 5) of the sell axis;
    # the later buy owns [0, 5) of the buy axis — FIFO on the unit
    # axes matches them (quantity-priority, the standard relational
    # FIFO semantics; time-priority would need a ts residual).
    rows = [
        (3, 1, 1, "sell", 5, Decimal("10.00")),
        (3, 2, 2, "buy", 5, Decimal("8.00")),
    ]
    out = _run(spark, rows)
    assert out[3][0] == 5


def test_fifo_fuzz_matches_sequential_simulator(spark):
    import random

    rng = random.Random(42)
    rows = []
    fid = 0
    for acct in range(8):
        for ts in range(1, 40):
            fid += 1
            side = "buy" if rng.random() < 0.55 else "sell"
            qty = rng.randint(1, 20)
            px = Decimal(rng.randint(100, 9999)) / 100
            rows.append((acct, fid, ts, side, qty, px))
    got = _run(spark, rows)
    # The simulator replays buys/sells in time order; the interval
    # join matches on the unit axes, which agrees exactly when every
    # sell follows enough buys. Compare only the invariant part:
    # matched quantity per account must equal min(total bought,
    # total sold), and P&L must match the simulator wherever no
    # oversell ever occurred mid-stream.
    from collections import defaultdict

    bought = defaultdict(int)
    sold = defaultdict(int)
    oversold = set()
    run_b = defaultdict(int)
    run_s = defaultdict(int)
    for acct, _fid, _ts, side, qty, _px in sorted(
        rows, key=lambda r: (r[0], r[2], r[1])
    ):
        if side == "buy":
            bought[acct] += qty
            run_b[acct] += qty
        else:
            sold[acct] += qty
            run_s[acct] += qty
            if run_s[acct] > run_b[acct]:
                oversold.add(acct)
    sim = _simulate(rows)
    for acct in got:
        assert got[acct][0] == min(bought[acct], sold[acct])
        if acct not in oversold:
            assert got[acct] == sim[acct], acct


def test_fifo_plan_is_single_window_merge_not_a_join(spark):
    """The r7 shape, tightened in r14: FIFO matching is a sorted merge
    over ONE keyed window (carry last buy/sell lot + lead), with NO
    pair join at all — the former account-equi + range-residual hash
    join probed O(buys x sells) per key and ground a 30%-hot-key
    straggler for 4+ minutes (skew sweep). r14 additionally removed
    the buy/sell self-UNION spine (each branch re-ran the scan and the
    per-account ordered window): a conditional running sum over one
    pass emits the identical spine rows, so the plan now has no Union
    either."""
    rows = [
        (1, 1, 1, "buy", 10, Decimal("5.00")),
        (1, 2, 2, "sell", 5, Decimal("8.00")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fifo_realized_pnl(df).explain(mode="formatted")
    p = buf.getvalue()
    assert "NestedLoop" not in p
    assert "Join" not in p  # no pair join of the two interval sets
    assert ") Window" in p  # the single carry/lead window pass
    assert "Union" not in p  # r14: one-pass spine, no self-union


def _simulate_open(rows):
    """Sequential FIFO queue ground truth for remaining inventory."""
    by_acct: dict[int, list] = {}
    for acct, fid, ts, side, qty, px in sorted(
        rows, key=lambda r: (r[0], r[2], r[1])
    ):
        by_acct.setdefault(acct, []).append((side, qty, Decimal(px)))
    out = {}
    for acct, fills in by_acct.items():
        lots: deque = deque()
        for side, qty, px in fills:
            if side == "buy":
                lots.append([qty, px])
            else:
                remaining = qty
                while remaining > 0 and lots:
                    lot = lots[0]
                    take = min(lot[0], remaining)
                    lot[0] -= take
                    remaining -= take
                    if lot[0] == 0:
                        lots.popleft()
        oq = sum(lot[0] for lot in lots)
        cost = sum(lot[0] * lot[1] for lot in lots)
        if oq:
            out[acct] = (oq, round(float(cost), 6))
    return out


def test_open_lots_hand_worked(spark):
    from trading212_etl_spark.operators.portfolio import fifo_open_lots

    # buy 10 @ 5, buy 10 @ 7, sell 15 → open: 5 units of the @7 lot
    rows = [
        (1, 1, 1, "buy", 10, Decimal("5.00")),
        (1, 2, 2, "buy", 10, Decimal("7.00")),
        (1, 3, 3, "sell", 15, Decimal("8.00")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = fifo_open_lots(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["open_qty"], r["open_cost"], r["avg_cost_micro"]) == (
        5,
        35.0,
        7_000_000,
    )


def test_open_lots_fuzz_matches_simulator_when_no_oversell(spark):
    import random

    from trading212_etl_spark.operators.portfolio import fifo_open_lots

    rng = random.Random(7)
    rows = []
    fid = 0
    for acct in range(6):
        bought = 0
        for ts in range(1, 30):
            fid += 1
            # keep sells within inventory so quantity-priority and
            # time-priority FIFO agree exactly
            if bought > 5 and rng.random() < 0.4:
                qty = rng.randint(1, min(bought, 15))
                rows.append(
                    (acct, fid, ts, "sell", qty,
                     Decimal(rng.randint(100, 9999)) / 100)
                )
                bought -= qty
            else:
                qty = rng.randint(1, 20)
                rows.append(
                    (acct, fid, ts, "buy", qty,
                     Decimal(rng.randint(100, 9999)) / 100)
                )
                bought += qty
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["user_id"]: (r["open_qty"], round(r["open_cost"], 6))
        for r in fifo_open_lots(df).collect()
    }
    assert got == _simulate_open(rows)


def test_equity_drawdown_hand_worked(spark):
    from trading212_etl_spark.operators.portfolio import equity_drawdown

    # flows: +10, -4, +2, -7 → equity 10, 6, 8, 1
    # peaks: 10, 10, 10, 10 → drawdowns 0, 4, 2, 9 → max 9
    rows = [
        (1, 1, 1, Decimal("10.00")),
        (1, 2, 2, Decimal("-4.00")),
        (1, 3, 3, Decimal("2.00")),
        (1, 4, 4, Decimal("-7.00")),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, ts INT, amount DECIMAL(18,2)"
    )
    r = equity_drawdown(df).collect()[0]
    assert (r["max_drawdown"], r["final_equity"], r["peak_equity"]) == (
        9.0,
        1.0,
        10.0,
    )
