"""Property-based tests (hypothesis): randomized inputs against
independent oracles for the operators whose edge cases the fixed
testdata cannot reach — empty groups, duplicate timestamps, all-equal
keys, hot keys, ragged document lengths.

Each example pays a Spark round trip, so examples are few and small;
the value is the adversarial SHAPES hypothesis finds (ties, empties,
singletons), not volume. deadline=None because JVM warm-up makes the
first example orders slower than the rest.
"""

from __future__ import annotations

from unittest import mock

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


quotes_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=50),     # ts (small range forces ties)
        st.integers(min_value=-100, max_value=100), # quote value
    ),
    min_size=0,
    max_size=30,
)
trades_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=50),
    ),
    min_size=1,
    max_size=20,
)


@PROP
@given(quotes=quotes_st, trades=trades_st)
def test_asof_backward_matches_pandas_merge_asof(spark, quotes, trades):
    """asof_join_backward == pandas merge_asof(direction='backward')
    for every random (key, ts) shape, including duplicate timestamps
    (both take the LAST quote at ts <= trade ts) and keys with no
    quotes at all (null join)."""
    from trading212_etl_spark.operators.asof import asof_join

    # dedupe (key, ts) on the quote side: at equal ts both engines must
    # pick a deterministic row, so keep max(value) as the canonical one
    qdf = (
        pd.DataFrame(quotes, columns=["key", "ts", "qval"])
        .groupby(["key", "ts"], as_index=False)["qval"]
        .max()
    )
    tdf = pd.DataFrame(trades, columns=["key", "ts"]).drop_duplicates()
    tdf["trade_id"] = range(len(tdf))

    left = spark.createDataFrame(tdf, schema="key long, ts long, trade_id long")
    if len(qdf):
        right = spark.createDataFrame(qdf, schema="key long, ts long, qval long")
    else:
        right = spark.createDataFrame([], schema="key long, ts long, qval long")
    got = (
        asof_join(
            left,
            right,
            left_ts="ts",
            right_ts="ts",
            left_by="key",
            right_by="key",
            value_cols=["qval"],
        )
        .toPandas()
        .sort_values("trade_id")
        .reset_index(drop=True)
    )

    if len(qdf):
        expect = pd.merge_asof(
            tdf.sort_values("ts", kind="stable"),
            qdf.sort_values("ts", kind="stable"),
            on="ts",
            by="key",
            direction="backward",
        )
    else:
        expect = tdf.copy()
        expect["qval"] = pd.NA
    expect = expect.sort_values("trade_id").reset_index(drop=True)

    assert list(got["trade_id"]) == list(expect["trade_id"])
    for g, e in zip(got["qval"].tolist(), expect["qval"].tolist()):
        if pd.isna(e):
            assert pd.isna(g), (g, e)
        else:
            assert g == e, (g, e)


@PROP
@given(quotes=quotes_st, trades=trades_st)
def test_asof_forward_matches_pandas_merge_asof(spark, quotes, trades):
    """asof_join(direction='forward') == pandas merge_asof(
    direction='forward') over random shapes — including equal-ts ties
    (both must match inclusively) and keys with no future quote."""
    from trading212_etl_spark.operators.asof import asof_join

    qdf = (
        pd.DataFrame(quotes, columns=["key", "ts", "qval"])
        .groupby(["key", "ts"], as_index=False)["qval"]
        .max()
    )
    tdf = pd.DataFrame(trades, columns=["key", "ts"]).drop_duplicates()
    tdf["trade_id"] = range(len(tdf))

    left = spark.createDataFrame(tdf, schema="key long, ts long, trade_id long")
    if len(qdf):
        right = spark.createDataFrame(qdf, schema="key long, ts long, qval long")
    else:
        right = spark.createDataFrame([], schema="key long, ts long, qval long")
    got = (
        asof_join(
            left,
            right,
            left_ts="ts",
            right_ts="ts",
            left_by="key",
            right_by="key",
            value_cols=["qval"],
            direction="forward",
        )
        .toPandas()
        .sort_values("trade_id")
        .reset_index(drop=True)
    )

    if len(qdf):
        expect = pd.merge_asof(
            tdf.sort_values("ts", kind="stable"),
            qdf.sort_values("ts", kind="stable"),
            on="ts",
            by="key",
            direction="forward",
        )
    else:
        expect = tdf.copy()
        expect["qval"] = pd.NA
    expect = expect.sort_values("trade_id").reset_index(drop=True)

    assert list(got["trade_id"]) == list(expect["trade_id"])
    for g, e in zip(got["qval"].tolist(), expect["qval"].tolist()):
        if pd.isna(e):
            assert pd.isna(g), (g, e)
        else:
            assert g == e, (g, e)


docs_st = st.lists(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "d"]), min_size=0, max_size=17
    ),
    min_size=1,
    max_size=6,
)


@PROP
@given(docs=docs_st, size=st.integers(2, 6), stride=st.integers(1, 6))
def test_chunk_windows_coverage_and_reassembly(spark, docs, size, stride):
    """For stride <= size: chunk starts are exactly the multiples of
    stride below the token count, every chunk is the corresponding
    token slice (so the stride-aligned prefixes reassemble the
    document), and no chunk exceeds ``size`` tokens."""
    from trading212_etl_spark.operators import textual

    stride = min(stride, size)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    with mock.patch.object(textual, "CHUNK_SIZE", size), mock.patch.object(
        textual, "CHUNK_STRIDE", stride
    ):
        out = textual.chunk_windows(df).toPandas()

    for doc_id, text in rows:
        toks = text.split(" ")  # "" splits to [""] — same as the engine
        chunks = out[out.doc_id == doc_id].sort_values("chunk_id")
        n = len(toks)
        expect_starts = list(range(0, n, stride))
        assert list(chunks["chunk_id"]) == list(range(len(expect_starts)))
        for (_, row), start in zip(chunks.iterrows(), expect_starts):
            expect_chunk = toks[start : start + size]
            assert row["n_chunk_tokens"] == len(expect_chunk)
            assert row["chunk_text"] == " ".join(expect_chunk)
        # stride-aligned first-``stride`` tokens of each chunk
        # concatenate back to the document
        rebuilt = []
        for (_, row), start in zip(chunks.iterrows(), expect_starts):
            rebuilt.extend(row["chunk_text"].split(" ")[:stride])
        assert rebuilt[:n] == toks


groups_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # key (few => hot keys)
        st.integers(min_value=-1000, max_value=1000), # value
    ),
    min_size=1,
    max_size=40,
)


@PROP
@given(rows=groups_st, n_buckets=st.integers(1, 5))
def test_salted_agg_equals_plain_agg(spark, rows, n_buckets):
    """Two-phase salted aggregation must be value-identical to the
    plain groupBy for every associative aggregate, any bucket count,
    any key distribution (the salt only spreads rows)."""
    from trading212_etl_spark import partitioning

    df = spark.createDataFrame(rows, schema="key long, v long")
    aggs = {
        "s": ("v", "sum"),
        "c": ("v", "count"),
        "mn": ("v", "min"),
        "mx": ("v", "max"),
    }
    with mock.patch.object(partitioning, "SALT_BUCKETS", n_buckets):
        salted = partitioning.salted_agg(df, ["key"], aggs)
    got = {
        r["key"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in salted.collect()
    }
    expect = {
        r["key"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in df.groupBy("key")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == expect


intervals_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=30),  # lo
        st.integers(min_value=0, max_value=12),  # width (0 => empty interval)
    ),
    min_size=1,
    max_size=15,
)
points_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=40),
    ),
    min_size=0,
    max_size=25,
)


@PROP
@given(intervals=intervals_st, points=points_st)
def test_interval_range_join_matches_nested_loop(spark, intervals, points):
    """interval_range_join (equi-key hash join + residual range) must
    equal the brute-force nested loop for any interval/point shape,
    including empty intervals (width 0 matches nothing: lo <= x < lo)
    and keys present on only one side; a left row with no match
    appears once with a null right side (rid -1 here)."""
    from trading212_etl_spark.operators.asof import interval_range_join

    ldf = pd.DataFrame(
        [(k, lo, lo + w, i) for i, (k, lo, w) in enumerate(intervals)],
        columns=["key", "lo", "hi", "lid"],
    )
    rdf = pd.DataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(points)],
        columns=["key", "ts", "rid"],
    )
    left = spark.createDataFrame(ldf, schema="key long, lo long, hi long, lid long").alias("l")
    if len(rdf):
        right = spark.createDataFrame(rdf, schema="key long, ts long, rid long").alias("r")
    else:
        right = spark.createDataFrame([], schema="key long, ts long, rid long").alias("r")
    got = sorted(
        (r["lid"], -1 if r["rid"] is None else r["rid"])
        for r in interval_range_join(
            left,
            right,
            on=F.col("l.key") == F.col("r.key"),
            lower=F.col("r.ts") >= F.col("l.lo"),
            upper=F.col("r.ts") < F.col("l.hi"),
        )
        .select("lid", "rid")
        .collect()
    )
    expect = []
    for _, lrow in ldf.iterrows():
        hits = [
            (int(lrow.lid), int(rrow.rid))
            for _, rrow in rdf.iterrows()
            if lrow.key == rrow.key and lrow.lo <= rrow.ts < lrow.hi
        ]
        expect += hits or [(int(lrow.lid), -1)]
    assert got == sorted(expect)


events_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),       # user
        st.integers(min_value=0, max_value=7200),    # ts seconds
        st.integers(min_value=-50, max_value=50),    # value
    ),
    min_size=1,
    max_size=30,
)


@PROP
@given(events=events_st, gap_minutes=st.integers(1, 10))
def test_sessionize_matches_pandas_gap_scan(spark, events, gap_minutes):
    """Gap sessionization must equal a sequential scan: sort each
    user's events by (ts, event_id), start a new session when the gap
    exceeds gap_minutes*60, then per-session (count, min, max)."""
    import datetime as dt

    from trading212_etl_spark.operators.events import sessionize

    rows = [
        (i, u, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=ts), float(v))
        for i, (u, ts, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, schema="event_id long, user_id long, ts timestamp, value double"
    )
    got = sorted(
        (r["user_id"], int(r["session_seq"]), r["n_events"],
         r["session_start"].replace(tzinfo=dt.timezone.utc),
         r["session_end"].replace(tzinfo=dt.timezone.utc))
        for r in sessionize(df, gap_minutes).collect()
    )

    expect = []
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    for user, grp in pdf.groupby("user_id"):
        grp = grp.sort_values(["ts", "event_id"])
        seq = 0
        cur = []
        prev = None
        for _, row in grp.iterrows():
            if prev is not None and (row.ts - prev).total_seconds() <= gap_minutes * 60:
                cur.append(row)
            else:
                if cur:
                    seq += 1
                    expect.append(
                        (user, seq, len(cur), cur[0].ts, cur[-1].ts)
                    )
                cur = [row]
                if prev is None:
                    seq = 0
            prev = row.ts
        seq += 1
        expect.append((user, seq, len(cur), cur[0].ts, cur[-1].ts))
    assert got == sorted(expect)


@PROP
@given(
    quotes=quotes_st,
    trades=trades_st,
    tol=st.integers(min_value=0, max_value=10),
)
def test_asof_tolerance_matches_pandas(spark, quotes, trades, tol):
    """The tolerance post-projection over asof_join must equal pandas
    merge_asof(tolerance=tol) for every random shape, including
    tolerance=0 (exact-ts matches only) and keys with no quotes."""
    from pyspark.sql import functions as F

    from trading212_etl_spark.operators.asof import asof_join

    qdf = (
        pd.DataFrame(quotes, columns=["key", "ts", "qval"])
        .groupby(["key", "ts"], as_index=False)["qval"]
        .max()
    )
    tdf = pd.DataFrame(trades, columns=["key", "ts"]).drop_duplicates()
    tdf["trade_id"] = range(len(tdf))

    left = spark.createDataFrame(tdf, schema="key long, ts long, trade_id long")
    rq = qdf.rename(columns={"ts": "qts"})
    if len(rq):
        right = spark.createDataFrame(rq, schema="key long, qts long, qval long")
    else:
        right = spark.createDataFrame([], schema="key long, qts long, qval long")
    joined = asof_join(
        left,
        right,
        left_ts="ts",
        right_ts="qts",
        left_by="key",
        right_by="key",
        value_cols=["qval", "qts"],
    )
    fresh = F.col("qts") >= F.col("ts") - F.lit(tol)
    got = (
        joined.select("trade_id", F.when(fresh, F.col("qval")).alias("qval"))
        .toPandas()
        .sort_values("trade_id")
        .reset_index(drop=True)
    )

    if len(qdf):
        expect = pd.merge_asof(
            tdf.sort_values("ts", kind="stable"),
            qdf.sort_values("ts", kind="stable"),
            on="ts",
            by="key",
            direction="backward",
            tolerance=tol,
        )
    else:
        expect = tdf.copy()
        expect["qval"] = pd.NA
    expect = expect.sort_values("trade_id").reset_index(drop=True)

    assert list(got["trade_id"]) == list(expect["trade_id"])
    for g, e in zip(got["qval"].tolist(), expect["qval"].tolist()):
        if pd.isna(e):
            assert pd.isna(g), (g, e, tol)
        else:
            assert g == e, (g, e, tol)


@PROP
@given(quotes=quotes_st, trades=trades_st)
def test_asof_nearest_matches_pandas_merge_asof(spark, quotes, trades):
    """asof_join_nearest == pandas merge_asof(direction='nearest'),
    including the equal-distance tie (both prefer the backward match)
    and keys with no quotes (null join). Quotes are unique per
    (key, ts), so the o_orderkey tiebreak the operator reads never
    decides; it carries the quote value."""
    from trading212_etl_spark.operators.asof import asof_join_nearest

    qdf = (
        pd.DataFrame(quotes, columns=["key", "ts", "qval"])
        .groupby(["key", "ts"], as_index=False)["qval"]
        .max()
    )
    tdf = pd.DataFrame(trades, columns=["key", "ts"]).drop_duplicates()
    tdf["trade_id"] = range(len(tdf))

    left = spark.createDataFrame(tdf, schema="key long, ts long, trade_id long")
    if len(qdf):
        right = spark.createDataFrame(qdf, schema="key long, ts long, qval long")
    else:
        right = spark.createDataFrame([], schema="key long, ts long, qval long")
    right = right.withColumn("o_orderkey", F.col("qval"))
    got = (
        asof_join_nearest(
            left,
            right,
            left_ts="ts",
            right_ts="ts",
            left_by="key",
            right_by="key",
            value_cols=["qval"],
        )
        .toPandas()
        .sort_values("trade_id")
        .reset_index(drop=True)
    )

    if len(qdf):
        expect = pd.merge_asof(
            tdf.sort_values("ts", kind="stable"),
            qdf.sort_values("ts", kind="stable"),
            on="ts",
            by="key",
            direction="nearest",
        )
    else:
        expect = tdf.copy()
        expect["qval"] = pd.NA
    expect = expect.sort_values("trade_id").reset_index(drop=True)

    assert list(got["trade_id"]) == list(expect["trade_id"])
    for g, e in zip(got["qval"].tolist(), expect["qval"].tolist()):
        if pd.isna(e):
            assert pd.isna(g), (g, e)
        else:
            assert g == e, (g, e)


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),     # group key
            st.integers(min_value=-10000, max_value=10000),  # cents
        ),
        min_size=1,
        max_size=60,
    ),
    n_batches=st.integers(min_value=1, max_value=4),
)
def test_incremental_state_merge_equals_recompute(spark, rows, n_batches):
    """merge(partial states of any batch split) == one-pass recompute,
    bit-exact — the algebraic-IVM invariant."""
    from trading212_etl_spark.operators.aggregates import (
        agg_partial_states,
        finalize_agg_states,
        merge_agg_states,
    )

    pdf = [(k, i, v / 100.0) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(pdf, "k INT, rid INT, v DOUBLE")
    full = finalize_agg_states(
        agg_partial_states(df, ["k"], "v")
    ).collect()
    states = [
        agg_partial_states(df.where(F.col("rid") % n_batches == b), ["k"], "v")
        for b in range(n_batches)
    ]
    merged = finalize_agg_states(merge_agg_states(*states)).collect()
    canon = lambda res: sorted(  # noqa: E731
        (r["k"], r["total"], r["n"], r["mean_micro"]) for r in res
    )
    assert canon(merged) == canon(full)


events_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # user/instrument key
        st.integers(min_value=0, max_value=7300),  # offset seconds (ties + hour boundaries)
        st.integers(min_value=0, max_value=500),   # integer-valued price
    ),
    min_size=1,
    max_size=40,
)


def _events_parquet(spark, tmpdir, rows):
    """Materialize an events.parquet a registry entry can read: the
    entries take (spark, sf_dir) and scan {sf_dir}/events.parquet with
    the pinned schema, so property inputs go through the same path the
    driver exercises. Integer-valued prices keep the double→decimal
    lift unambiguous (binary-exact), isolating the property under test
    from decimal-rounding concerns the oracle suite already covers.
    Timestamps are tz-AWARE UTC: naive datetimes would be interpreted
    in the HOST timezone on write, so on a non-whole-hour-offset host
    (e.g. +05:30) the entries' UTC hour buckets would land on :30
    boundaries relative to the naive reference keys."""
    import datetime

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    data = [
        (
            i,
            base + datetime.timedelta(seconds=off),
            key,
            f"type_{key}",
            float(px),
            "{}",
        )
        for i, (key, off, px) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    return tmpdir


@PROP
@given(rows=events_st)
def test_twap_matches_integer_reference(spark, tmp_path_factory, rows):
    """events_twap_hourly == an arbitrary-precision Python reference:
    per (instrument, hour), floor(Σ v_micro·Δt_us / Σ Δt_us) with the
    last tick weighted to the hour end. Hypothesis drives ties
    (identical ts → zero-weight rows) and single-tick hours."""
    import datetime

    from trading212_etl_spark import registry

    tmpdir = _events_parquet(
        spark, str(tmp_path_factory.mktemp("twap")), rows
    )
    # collect() renders TimestampType as naive HOST-local datetimes;
    # re-anchor to aware UTC so the comparison is host-tz-independent
    # (astimezone on a naive datetime assumes host-local — exactly the
    # inverse of what collect applied).
    got = {
        (
            r["hour"].astimezone(datetime.timezone.utc),
            r["event_type"],
        ): (r["twap_micro"], r["n_ticks"])
        for r in registry.QUERIES["events_twap_hourly"](spark, tmpdir).collect()
    }

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    groups: dict = {}
    for i, (key, off, px) in enumerate(rows):
        ts = base + datetime.timedelta(seconds=off)
        hour = ts.replace(minute=0, second=0, microsecond=0)
        groups.setdefault((hour, f"type_{key}"), []).append(
            (ts, i, px * 10**6)
        )
    want = {}
    for (hour, etype), ticks in groups.items():
        ticks.sort()
        end_us = int(
            (hour + datetime.timedelta(hours=1) - base).total_seconds() * 10**6
        )
        num = den = 0
        for j, (ts, _i, v_micro) in enumerate(ticks):
            t_us = int((ts - base).total_seconds() * 10**6)
            nxt_us = (
                int((ticks[j + 1][0] - base).total_seconds() * 10**6)
                if j + 1 < len(ticks)
                else end_us
            )
            num += v_micro * (nxt_us - t_us)
            den += nxt_us - t_us
        if den > 0:
            want[(hour, etype)] = (num // den, len(ticks))
    assert got == want


@PROP
@given(rows=events_st)
def test_ewma_matches_integer_reference(spark, tmp_path_factory, rows):
    """events_ewma_smoothed == the exact binary-weight EWMA computed
    in arbitrary-precision Python per user over (ts, event_id) order.
    Hypothesis reaches short histories (< 8 events) where the
    denominator must only count weights that exist."""
    from trading212_etl_spark import registry

    tmpdir = _events_parquet(
        spark, str(tmp_path_factory.mktemp("ewma")), rows
    )
    got = {
        r["event_id"]: r["ewma_micro"]
        for r in registry.QUERIES["events_ewma_smoothed"](
            spark, tmpdir
        ).collect()
    }

    per_user: dict = {}
    for i, (key, off, px) in enumerate(rows):
        per_user.setdefault(key, []).append((off, i, px * 10**6))
    want = {}
    for key, evs in per_user.items():
        evs.sort()
        hist = [v for (_o, _i, v) in evs]
        for j, (_off, eid, _v) in enumerate(evs):
            num = den = 0
            for k in range(8):
                if j - k < 0:
                    break
                w = 1 << (7 - k)
                num += hist[j - k] * w
                den += w
            want[eid] = num // den
    assert got == want


@PROP
@given(rows=events_st)
def test_rolling_volatility_matches_quadratic_reference(
    spark, tmp_path_factory, rows
):
    """events_rolling_volatility == an O(n²) Python scan of the
    trailing-3599-second frame per instrument: same n / floor-mean /
    floor-variance in integer micro-units. Hypothesis supplies
    duplicate epochs (RANGE peers must all enter the frame) and
    sparse series (frames of size 1 → variance 0)."""
    from trading212_etl_spark import registry

    tmpdir = _events_parquet(
        spark, str(tmp_path_factory.mktemp("vol")), rows
    )
    got = {
        r["event_id"]: (r["n_win"], r["ma_micro"], r["var_micro2"])
        for r in registry.QUERIES["events_rolling_volatility"](
            spark, tmpdir
        ).collect()
    }

    per_type: dict = {}
    epoch0 = 1704067200  # 2024-01-01T00:00:00Z
    for i, (key, off, px) in enumerate(rows):
        per_type.setdefault(f"type_{key}", []).append(
            (epoch0 + off, i, px * 10**6)
        )
    want = {}
    for _etype, evs in per_type.items():
        for t_s, eid, _v in evs:
            frame = [v for (t2, _i2, v) in evs if t_s - 3599 <= t2 <= t_s]
            n = len(frame)
            s1, s2 = sum(frame), sum(v * v for v in frame)
            want[eid] = (n, s1 // n, (n * s2 - s1 * s1) // (n * n))
    assert got == want


def test_ordered_prefix_rank_is_permutation_across_reruns(spark):
    """The running scan and the offsets subtree each compute every
    row's bucket from its data, so the global rank is an exact 1..n
    permutation — and the SAME permutation — on every cache-cleared
    re-execution (the 'flapping u2' regression class, when buckets
    were partition ids). A divergence between the branches shows up
    here as a duplicated/missing rank or a run-to-run diff."""
    from trading212_etl_spark.partitioning import ordered_prefix

    df = (
        spark.range(0, 5000)
        .selectExpr("id", "CAST(xxhash64(id) % 97 AS BIGINT) AS k")
    )
    outs = []
    for _ in range(3):
        spark.catalog.clearCache()
        got = (
            ordered_prefix(df, [F.col("k"), F.col("id")], rn_name="rn")
            .select("id", "rn")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
        assert sorted(got["rn"]) == list(range(1, 5001))
        outs.append(got)
    assert outs[0].equals(outs[1]) and outs[1].equals(outs[2])


def ordered_prefix_reference(rows, *, descending, nulls_first, exclusive):
    """Pure-Python ordered scan over ``(id, k, v)`` rows, ordered by
    ``k`` the way Spark sorts (NaN above +inf, nulls first or last as
    asked) and then by ``id``: id -> (rank, running sum of v with null
    cells as 0, total_n, total_v)."""
    def order(row):
        rid, k, _v = row
        if k is None:
            return (0 if nulls_first else 2, (0, 0), rid)
        nan = k != k
        if descending:
            return (1, (0, 0) if nan else (1, -k), rid)
        return (1, (1, 0) if nan else (0, k), rid)

    ranked = sorted(rows, key=order)
    present = [v for _i, _k, v in rows if v is not None]
    total_v = sum(present) if present else None
    out, run = {}, 0
    for rn, (rid, _k, v) in enumerate(ranked, 1):
        run += v or 0
        out[rid] = (rn, run - (v or 0) if exclusive else run, len(rows), total_v)
    return out


_INF = float("inf")
_KEYS = {
    "bigint": st.one_of(
        st.none(),
        st.integers(min_value=-3, max_value=3),
        st.sampled_from([-(2**63), 2**63 - 1]),
    ),
    "double": st.one_of(
        st.none(),
        st.integers(min_value=-3, max_value=3).map(float),
        st.sampled_from([float("nan"), _INF, -_INF, -1e308, 1e308, -0.5, 2.25]),
    ),
}
_scan_case = st.sampled_from(sorted(_KEYS)).flatmap(
    lambda kind: st.tuples(
        st.just(kind),
        st.lists(
            st.tuples(
                _KEYS[kind], st.one_of(st.none(), st.integers(-5, 5))
            ),
            max_size=25,
        ),
    )
)


@PROP
@given(
    case=_scan_case,
    descending=st.booleans(),
    nulls_first=st.booleans(),
    exclusive=st.booleans(),
)
@example(case=("bigint", []), descending=False, nulls_first=True, exclusive=False)
@example(case=("bigint", [(-2, 4)]), descending=True, nulls_first=False, exclusive=True)
@example(
    case=("bigint", [(7, 1), (7, None), (7, -3), (7, 2)]),
    descending=False, nulls_first=True, exclusive=True,
)
@example(
    case=(
        "double",
        [(float("nan"), 1), (_INF, None), (None, 2), (-_INF, 3), (-1.5, None),
         (float("nan"), 4), (None, None), (2.0, -1), (_INF, 5)],
    ),
    descending=True, nulls_first=True, exclusive=True,
)
@example(
    case=("double", [(None, 1), (float("nan"), None), (None, 3)]),
    descending=False, nulls_first=False, exclusive=False,
)
def test_ordered_prefix_matches_reference(
    spark, case, descending, nulls_first, exclusive
):
    """ordered_prefix against a pure-Python scan: ascending and
    descending leading keys, both null placements, ties broken by the
    id tiebreaker, empty and one-row inputs, all-equal keys, negative
    values, null leading keys and null sum cells, and a double key with
    NaN and ±inf."""
    from trading212_etl_spark.partitioning import ordered_prefix

    kind, keys = case
    rows = [(i, k, v) for i, (k, v) in enumerate(keys)]
    df = spark.createDataFrame(rows, f"id bigint, k {kind}, v bigint")
    key = F.col("k")
    lead = {
        (False, True): key.asc_nulls_first(),
        (False, False): key.asc_nulls_last(),
        (True, True): key.desc_nulls_first(),
        (True, False): key.desc_nulls_last(),
    }[(descending, nulls_first)]
    got = {
        r["id"]: (r["rn"], r["run_v"], r["total_n"], r["total_v"])
        for r in ordered_prefix(
            df, [lead, F.col("id")], sum_cols=["v"], rn_name="rn",
            exclusive=exclusive,
        ).collect()
    }
    assert got == ordered_prefix_reference(
        rows, descending=descending, nulls_first=nulls_first,
        exclusive=exclusive,
    )


def _min_id_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Reference closure: node -> minimum id of its component, by a
    graph search over the undirected pair graph."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in sorted(adj):
        if start in label:
            continue
        stack = [start]
        label[start] = start
        while stack:
            for m in adj[stack.pop()]:
                if m not in label:
                    label[m] = start
                    stack.append(m)
    return label


graph_st = st.tuples(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=0, max_size=15
    ),
    st.integers(0, 9),  # length of a path appended above the random ids
)


@PROP
@given(graph=graph_st, id_type=st.sampled_from(["int", "bigint"]))
def test_connected_components_arms_match_reference(spark, graph, id_type):
    """connected_components closes the pair graph on the driver when
    the pairs fit Spark's broadcast threshold and in distributed
    rounds when the threshold is -1. Both arms must return the
    reference closure (component = minimum reachable id) on random
    graphs — empty ones, isolated pairs, shared endpoints and a path
    long enough to need several rounds — typed as the input ids."""
    from pyspark.sql.types import IntegerType, LongType

    from trading212_etl_spark.operators.dedup import connected_components

    edges, path_len = graph
    pairs = edges + [(100 + i, 101 + i) for i in range(path_len)]
    df = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint").select(
        F.col("doc_a").cast(id_type), F.col("doc_b").cast(id_type)
    )
    want = _min_id_components(pairs)
    id_cls = IntegerType if id_type == "int" else LongType
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    for threshold in (old, "-1"):
        spark.conf.set(key, threshold)
        try:
            comp = connected_components(df)
            got = {r.doc_id: r.component for r in comp.collect()}
        finally:
            spark.conf.set(key, old)
        assert got == want, threshold
        assert [type(f.dataType) for f in comp.schema.fields] == [id_cls, id_cls]


def _jaccard_reference(docs: dict[int, list[str]]) -> dict[tuple[int, int], float]:
    """jaccard_pairs in pure Python: word-shingle sets as word_shingles
    builds them (a document shorter than SHINGLE_N is one shingle, the
    empty one included), J as an exact fraction, rounded half up to 4
    places, kept at ≥ JACCARD_THRESHOLD."""
    import math
    from fractions import Fraction

    from trading212_etl_spark.operators import dedup

    n = dedup.SHINGLE_N
    sets = {
        i: {" ".join(t[s : s + n]) for s in range(max(len(t) - n + 1, 1))}
        for i, t in docs.items()
    }
    cut = Fraction(str(dedup.JACCARD_THRESHOLD))
    out = {}
    for a in sets:
        for b in sets:
            common = len(sets[a] & sets[b])
            if a < b and common:
                j = Fraction(common, len(sets[a] | sets[b]))
                kept = Fraction(math.floor(j * 10**4 + Fraction(1, 2)), 10**4)
                if kept >= cut:
                    out[(a, b)] = float(kept)
    return out


def _jaccard_pairs_of(spark, docs: dict[int, list[str]]) -> dict:
    """jaccard_pairs over the documents' token arrays."""
    from trading212_etl_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(list(docs.items()), "doc_id bigint, toks array<string>")
    pairs = jaccard_pairs(df, tokens_col="toks")
    return {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), max_size=10), min_size=0, max_size=8
    )
)
def test_jaccard_pairs_match_exact_reference(spark, docs):
    """The exact pair generator equals the reference on random small
    documents over a four-word vocabulary (many overlaps, empty and
    short documents, J on both sides of the threshold): the size bound
    in the join and the unrounded cut before the round drop no kept
    pair."""
    docs = dict(enumerate(docs))
    assert _jaccard_pairs_of(spark, docs) == _jaccard_reference(docs)


def test_jaccard_pairs_keep_the_threshold_edges(spark):
    """Constructed pairs at the rounding and size-bound edges: J =
    0.49994 rounds to 0.4999 and is dropped; J = 0.49995 rounds up to
    0.5 and J = 0.5 is kept; a subset pair with |A| = 2|B| (J = 0.5,
    min/max = 0.5) is kept, and one with |A| = 2|B| + 1 is dropped.
    Each pair has words of its own, so no two pairs share a shingle."""

    def pair(tag: str, size_a: int, size_b: int, offset: int) -> list[list[str]]:
        # shingles of A start at 0..size_a-1 and those of B at
        # offset..offset+size_b-1: consecutive words, one shingle each
        words = [f"{tag}{k}" for k in range(max(size_a, offset + size_b) + 2)]
        return [words[: size_a + 2], words[offset : offset + size_b + 2]]

    cases = {
        # (|A|, |B|, B's first shingle) -> (|A ∩ B|, |A ∪ B|)
        "p": (37_499, 37_498, 37_499 - 24_997),  # 24 997 / 50 000
        "q": (15_000, 14_999, 15_000 - 9_999),  # 9 999 / 20 000
        "r": (3, 3, 1),  # 2 / 4
        "s": (20, 10, 5),  # B inside A: 10 / 20
        "t": (21, 10, 5),  # B inside A: 10 / 21
    }
    docs = {}
    for tag, shape in cases.items():
        docs.update(zip((len(docs), len(docs) + 1), pair(tag, *shape)))
    want = _jaccard_reference(docs)
    assert want == {(2, 3): 0.5, (4, 5): 0.5, (6, 7): 0.5}
    assert _jaccard_pairs_of(spark, docs) == want
