"""Registry entries: applied analytics: orders / events / portfolio.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ._core import (
    _TOKS,
    _scratch,
    _t,
    bounded_bucket,
    register,
)

@register(
    "events_user_presence_bitmap",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS day_idx
      FROM events
      WHERE date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
            BETWEEN 0 AND 62
    )
    SELECT user_id,
           bit_or(CAST(1 AS BIGINT) << day_idx) AS presence_mask,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << day_idx))
                AS INT) AS days_active,
           CAST(max(day_idx) - min(day_idx) + 1 AS BIGINT) AS span_days
    FROM days GROUP BY user_id
    """,
)
def q_events_presence_bitmap(spark, sf_dir):
    """Per-user activity bitmap: each of the corpus's 30 days packs
    into one bit of a BIGINT (bit i = active on 2024-01-01 + i days),
    aggregated with bit_or — the miniature of the roaring-bitmap
    presence indexes analytics stores use for audience/segment math.
    The payoff at scale: set operations on user activity (AND for
    "active both weeks", popcount for frequency) become single
    bitwise ops on 8-byte masks instead of joins over (user, day)
    pair tables — shuffle state is ONE long per user regardless of
    event volume. days_active via bit_count and the min-to-max span
    come from the same aggregate pass; everything is integer-exact."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("day_idx"),
        )
        # 64-bit contract guard: at day_idx=63 the engines diverge
        # (Spark shiftleft(1L,63) wraps into the sign bit -> negative
        # mask; DuckDB 1::BIGINT << 63 raises an overflow error), and
        # above 63 Spark wraps mod 64 while DuckDB does not — so the
        # admissible domain is [0, 62]. Note both sides apply the SAME
        # filter, so a corpus that outgrows the domain is dropped
        # identically on both sides and the parity gate can NOT catch
        # the truncation; the loud check is the explicit domain
        # assertion in tests/test_quality.py::test_presence_bitmap_day_domain.
        .where(F.col("day_idx").between(0, 62))
        .distinct()
    )
    mask = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), day_idx)"))
    return days.groupBy("user_id").agg(
        mask.alias("presence_mask"),
        F.bit_count(mask).cast("int").alias("days_active"),
        (F.max("day_idx") - F.min("day_idx") + 1)
        .cast("bigint")
        .alias("span_days"),
    )


@register(
    "features_market_hourly",
    oracle="""
    WITH seq AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
               AS v,
             CAST(props->>'$.k' AS BIGINT) AS qty,
             coalesce(
               lead(epoch_us(ts)) OVER (
                 PARTITION BY event_type, date_trunc('hour', ts)
                 ORDER BY ts, event_id),
               epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
             ) - epoch_us(ts) AS dt_us
      FROM events
      WHERE CAST(props->>'$.k' AS BIGINT) > 0
    )
    SELECT hour, event_type,
           CAST(sum(v * dt_us) // CAST(sum(dt_us) AS HUGEINT) AS BIGINT)
             AS twap_micro,
           CAST(sum(v * qty) // CAST(sum(qty) AS HUGEINT) AS BIGINT)
             AS vwap_micro,
           CAST(sum(v) // CAST(count(*) AS HUGEINT) AS BIGINT)
             AS mean_micro,
           CAST((CAST(count(*) AS HUGEINT) * sum(v * v)
                 - sum(v) * sum(v))
                // CAST(count(*) * count(*) AS HUGEINT) AS BIGINT)
             AS var_micro2,
           CAST(sum(qty) AS BIGINT) AS volume,
           count(*) AS n_trades
    FROM seq
    GROUP BY hour, event_type
    HAVING sum(dt_us) > 0
    """,
)
def q_features_market_hourly(spark, sf_dir):
    """The hourly market feature frame — the feature-store
    materialization a trading-model pipeline trains on: time-weighted
    TWAP, volume-weighted VWAP, plain mean, population variance,
    volume, and tick count per (hour, instrument), all integer-exact
    in micro units. The composition is the point: the lead window
    (for time weights) and the aggregate share the (event_type, hour)
    key, and every statistic folds into the SAME groupBy, so the
    entire six-feature frame costs ONE shuffle — versus the naive
    feature-store pattern of computing each feature as its own query
    and joining (3+ shuffles and 3 scans). At 100 TB this is the
    difference between one pass over the tick stream and five."""
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
            .alias("v"),
            F.get_json_object("props", "$.k").cast("long").alias("qty"),
            F.unix_micros("ts").alias("t_us"),
        )
        .where(F.col("qty") > 0)
        .withColumn(
            "dt_us",
            F.coalesce(
                F.lead("t_us").over(w),
                F.unix_micros(F.col("hour") + F.expr("INTERVAL 1 HOUR")),
            )
            - F.col("t_us"),
        )
    )
    agged = (
        seq.groupBy("hour", "event_type")
        .agg(
            F.sum(F.col("v") * F.col("dt_us").cast("decimal(38,0)")).alias(
                "num_t"
            ),
            F.sum("dt_us").alias("den_t"),
            F.sum(F.col("v") * F.col("qty").cast("decimal(38,0)")).alias(
                "num_q"
            ),
            F.sum("qty").alias("volume"),
            F.sum("v").alias("s1"),
            F.sum(F.col("v") * F.col("v")).alias("s2"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .where(F.col("den_t") > 0)
    )
    return agged.select(
        "hour",
        "event_type",
        F.expr("CAST(num_t DIV den_t AS BIGINT)").alias("twap_micro"),
        F.expr("CAST(num_q DIV volume AS BIGINT)").alias("vwap_micro"),
        F.expr("CAST(s1 DIV n_trades AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CAST((n_trades * s2 - s1 * s1) DIV (n_trades * n_trades)"
            " AS BIGINT)"
        ).alias("var_micro2"),
        F.col("volume").cast("bigint").alias("volume"),
        "n_trades",
    )


@register(
    "orders_pareto_8020",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev_cents,
             row_number() OVER (ORDER BY rev_cents DESC, o_custkey)
               AS rev_rank,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(rev_cents) OVER () AS total_cents
      FROM rev
    )
    SELECT o_custkey, rev_cents, rev_rank,
           CAST(cum_cents AS BIGINT) AS cum_cents,
           ((cum_cents - rev_cents) * 5 < total_cents * 4) AS in_top80
    FROM ranked
    """,
)
def q_orders_pareto_8020(spark, sf_dir):
    """Pareto revenue concentration: rank customers by revenue and
    flag the head segment that carries 80% of total revenue (a
    customer is in_top80 while the cumulative share BEFORE them is
    under 80%, so the flag set is the minimal covering prefix). Money
    rides DECIMAL(18,2) → integer cents, and the 80% test is the
    cross-multiplied integer inequality 5·cum_before < 4·total — no
    percentage float ever materializes, so both engines agree
    exactly. The ordered scan is the DISTRIBUTED two-pass prefix
    (partitioning.ordered_prefix): equal-width buckets of rev_cents +
    per-bucket running sums over (rev_cents DESC, custkey) +
    broadcast per-bucket offsets — rank, cumulative revenue, and the
    grand total all come out of the same pass with no
    single-partition WindowExec, so a billion-customer catalog scans
    in parallel."""
    from pyspark.sql import functions as F

    from ..partitioning import ordered_prefix

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    ranked = ordered_prefix(
        rev,
        [F.desc("rev_cents"), F.col("o_custkey")],
        sum_cols=["rev_cents"],
        rn_name="rev_rank",
    ).select(
        "o_custkey",
        "rev_cents",
        # row_number() emitted IntegerType before the rewrite; the
        # offset addition widens to bigint — cast back for schema
        # stability across rounds
        F.col("rev_rank").cast("int").alias("rev_rank"),
        F.col("run_rev_cents").alias("cum_cents"),
        F.col("total_rev_cents").alias("total_cents"),
    )
    return ranked.select(
        "o_custkey",
        "rev_cents",
        "rev_rank",
        "cum_cents",
        (
            (F.col("cum_cents") - F.col("rev_cents")) * 5
            < F.col("total_cents") * 4
        ).alias("in_top80"),
    )


@register(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def q_window_running_distinct(spark, sf_dir):
    """Exact running COUNT DISTINCT per key — the window aggregate
    Spark (and ANSI SQL) refuse to express directly because naive
    per-row distinct state is O(frame). The scale-correct rewrite:
    flag each (user, event_type)'s FIRST occurrence with row_number,
    then a plain running SUM of flags — distinct-ness becomes a
    1-bit column and the running state collapses to one counter.
    Two keyed windows, and because the second window's (user_id)
    partitioning is a prefix of the first's (user_id, event_type),
    at most two shuffles at any scale. The same trick powers the
    trailing-window DAU/WAU entry (events_dau_wau) — this is its
    cumulative form."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    per_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    per_user = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(per_type) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("first_seen")
        .over(per_user)
        .cast("bigint")
        .alias("distinct_types_so_far"),
    )


@register(
    "source_csv_gzip_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_source_csv_gzip(spark, sf_dir):
    """Compressed-text ingest: header CSV written with the gzip codec
    and scanned back with a pinned schema. The codec is a reader
    OPTION, not an operator — the engine point is the scale
    consequence spelled out here: gzip text is NOT splittable, so one
    .gz shard = one task regardless of size; a 100 TB drop of fat
    .gz files serializes the scan. The write side therefore controls
    shard size (many small gz parts parallelize fine), and the
    preferred landing format remains zstd parquet
    (sources/writers.py default) — this entry exists to prove the
    compressed-text path works AND to pin where its scaling cliff
    is."""
    from pyspark.sql import types as T

    from ..sources.readers import read_csv_pinned

    path = _scratch(sf_dir, "csv_gz_nation")
    (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return read_csv_pinned(spark, path, schema)


@register(
    "orders_trend_residual_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    ma AS (
      SELECT day, rev_cents,
             CAST(sum(rev_cents) OVER w AS BIGINT) AS win_cents,
             count(*) OVER w AS n_days
      FROM daily
      WINDOW w AS (ORDER BY day_idx
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT day, rev_cents,
           win_cents // n_days AS trend_cents,
           rev_cents - win_cents // n_days AS residual_cents,
           CAST(n_days AS INT) AS n_days
    FROM ma
    """,
)
def q_orders_trend_residual(spark, sf_dir):
    """Time-series trend/residual decomposition (STL's first step):
    daily revenue, its ±3-day centered moving average as the trend,
    and the residual — the de-trending every forecasting and
    anomaly-detection pipeline runs before modeling. The centered
    frame is a RANGE window on integer epoch-days (unix_date /
    date_diff in the two engines) with a FOLLOWING bound — the one
    frame direction the rest of the corpus never exercises — and
    handles calendar gaps correctly: missing days shrink the window
    (count(*) OVER w), they don't shift it, which a ROWS frame would
    get wrong. Money is integer cents end-to-end; the trend is floor
    division so both engines emit identical bits. Daily rollup =
    one shuffle; the ordered window runs on the day-level aggregate
    (a few thousand rows per decade), repartitionByRange at larger
    spans."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.unix_date(F.col("o_orderdate").cast("date")).alias("day_idx"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    w = Window.partitionBy(bounded_bucket("day_idx")).orderBy("day_idx").rangeBetween(-3, 3)
    ma = daily.select(
        "day",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("bigint").alias("win_cents"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    )
    return ma.select(
        "day",
        "rev_cents",
        F.expr("win_cents DIV n_days").alias("trend_cents"),
        F.expr("rev_cents - win_cents DIV n_days").alias("residual_cents"),
        F.col("n_days").cast("int").alias("n_days"),
    )


@register(
    "events_gap_percentiles",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_s, 0.50), 2) AS p50_s,
           round(quantile_cont(gap_s, 0.90), 2) AS p90_s,
           round(quantile_cont(gap_s, 0.99), 2) AS p99_s,
           CAST(max(gap_s) AS BIGINT) AS max_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_gap_percentiles(spark, sf_dir):
    """Inter-arrival-time distribution: exact p50/p90/p99 of the gap
    (seconds) between a user's consecutive events, profiled per event
    type — the latency/engagement-cadence profile that calibrates
    sessionization gaps (is 30 min past the p99 idle time?) and
    streaming watermarks (how late is late?). Two stages: a keyed lag
    window derives integer second gaps (first event per user drops
    out as NULL), then exact interpolated percentiles per type.
    Gaps are BIGINTs and Spark's percentile() shares DuckDB's
    quantile_cont index = p·(n−1) definition, so interpolated
    midpoints are dyadic rationals — exact in both engines' doubles.
    Same scale stance as profile_quantiles: exact percentiles shuffle
    each group's gaps together; at 100 TB run the sketch twin
    (agg_approx_sketches) and keep this as the calibration oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_s = F.unix_seconds("ts")
    gaps = ev.select(
        "event_type", (t_s - F.lag(t_s).over(w)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    pct = [
        F.round(F.expr(f"percentile(gap_s, {p})"), 2).alias(
            f"p{int(p * 100)}_s"
        )
        for p in (0.50, 0.90, 0.99)
    ]
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        *pct,
        F.max("gap_s").alias("max_s"),
    )


@register(
    "clean_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderstatus
    ),
    dev AS (
      SELECT o.o_orderstatus, o.o_totalprice, m.med,
             abs(o.o_totalprice - m.med) AS adev
      FROM orders o JOIN med m USING (o_orderstatus)
    ),
    mad AS (
      SELECT o_orderstatus, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY o_orderstatus
    )
    SELECT d.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(max(d.med), 2) AS median_price,
           round(max(m.mad), 2) AS mad_price,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (o_orderstatus)
    GROUP BY d.o_orderstatus
    """,
)
def q_clean_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    estimator that survives exactly the contamination that breaks the
    z-score entry (events_anomaly_zscore: one 10^9 glitch inflates
    the stddev until nothing is an outlier; the median pair has a 50%
    breakdown point). Classic two-pass shape: per-group median, join
    back (3-row broadcast), per-group median of absolute deviations,
    flag |x−med| > 3·1.4826·MAD (the Gaussian-consistency constant).
    Both engines share the percentile interpolation and evaluate the
    identical float expression tree on identical doubles, so counts
    match exactly. Two aggregate shuffles on the same low-cardinality
    key + broadcast joins — the winsorize entry's pattern, one
    quantile deeper."""
    from pyspark.sql import functions as F

    from ..partitioning import freeze_partitions

    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    # dev is fact-sized with two consumers (MAD aggregate + the final
    # flag pass); the lazy pin turns three orders scans into two
    # (~15% locally). At 100 TB this caches a fact-sized frame, or
    # checkpoints it when the session sets a checkpoint directory.
    dev = freeze_partitions(
        o.join(F.broadcast(med), "o_orderstatus").select(
            "o_orderstatus",
            "o_totalprice",
            "med",
            F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
        )
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 2).alias("median_price"),
            F.round(F.max("mad"), 2).alias("mad_price"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "streaming_presence_bitmap",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS day_idx
      FROM events
      WHERE date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
            BETWEEN 0 AND 62
    )
    SELECT user_id,
           bit_or(CAST(1 AS BIGINT) << day_idx) AS presence_mask,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << day_idx))
                AS INT) AS days_active,
           CAST(max(day_idx) - min(day_idx) + 1 AS BIGINT) AS span_days
    FROM days GROUP BY user_id
    """,
)
def q_streaming_presence_bitmap(spark, sf_dir):
    """§2.9 streaming — the per-user day-presence bitmap as an
    unwindowed streaming aggregate. bit_or / min / max are
    commutative AND idempotent merges, so duplicate deliveries and
    any micro-batch interleaving converge to the same (mask, span)
    state — no distinct pass needed on the stream where the batch
    twin (events_user_presence_bitmap) uses one. Complete-mode output
    over the finite source equals the batch oracle bit-for-bit,
    giving the streaming path a driver-checked row rather than a
    rows-only check (the streaming_vwap_hourly pattern)."""
    from ..streaming.windows import run_streaming_presence_bitmap

    return run_streaming_presence_bitmap(spark, sf_dir)


@register(
    "drift_priority_mix_monthly",
    oracle="""
    WITH counts AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS month_idx,
             o_orderpriority AS cat,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    totals AS (
      SELECT month_idx, CAST(sum(n) AS BIGINT) AS total FROM counts
      GROUP BY month_idx
    ),
    seq AS (
      SELECT c.month_idx, c.cat, c.n, t.total,
             lag(c.month_idx) OVER w AS prev_idx,
             lag(c.n) OVER w AS prev_n,
             lag(t.total) OVER w AS prev_total
      FROM counts c JOIN totals t USING (month_idx)
      WINDOW w AS (PARTITION BY c.cat ORDER BY c.month_idx)
    )
    SELECT month_idx,
           CAST(max(total) AS BIGINT) AS n_cur,
           CAST(max(prev_total) AS BIGINT) AS n_prev,
           CAST(CAST(500000 AS HUGEINT)
                * sum(abs(CAST(n AS HUGEINT) * prev_total
                          - CAST(prev_n AS HUGEINT) * total))
                // (CAST(max(total) AS HUGEINT) * max(prev_total))
                AS BIGINT) AS tv_ppm
    FROM seq
    WHERE prev_idx = month_idx - 1
    GROUP BY month_idx
    """,
)
def q_drift_priority_mix(spark, sf_dir):
    """Distribution-drift monitor: month-over-month total-variation
    distance of the order-priority mix, in exact integer ppm — the
    drift gate a training pipeline puts in front of retraining and
    the data-quality twin of dq_constraints. PSI/KL need ln() and
    libm differs across engines in the last ulp (the tf-idf
    integer-surrogate lesson), so the metric is total variation
    TV = ½·Σ|p−q| with the common denominator kept symbolic:
    500000·Σ|n·N_prev − n_prev·N| // (N·N_prev), pure DECIMAL(38)/
    HUGEINT arithmetic — bit-identical in both engines and immune to
    category-share floats entirely. Consecutive months pair via a
    per-category lag; a category absent from either month drops out
    identically on both engines (documented under-count, not a
    divergence). Two small aggregates + one keyed window over the
    (month × category) frame — hundreds of rows at any corpus
    scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    month_idx = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate")
    ).alias("month_idx")
    counts = o.groupBy(
        month_idx, F.col("o_orderpriority").alias("cat")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("month_idx").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    w = Window.partitionBy("cat").orderBy("month_idx")
    seq = (
        counts.join(F.broadcast(totals), "month_idx")
        .withColumn("prev_idx", F.lag("month_idx").over(w))
        .withColumn("prev_n", F.lag("n").over(w))
        .withColumn("prev_total", F.lag("total").over(w))
        .where(F.col("prev_idx") == F.col("month_idx") - 1)
    )
    term = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("prev_total")
        - F.col("prev_n").cast("decimal(38,0)") * F.col("total")
    )
    return (
        seq.groupBy("month_idx")
        .agg(
            F.max("total").cast("bigint").alias("n_cur"),
            F.max("prev_total").cast("bigint").alias("n_prev"),
            F.sum(term).alias("_s"),
        )
        .select(
            "month_idx",
            "n_cur",
            "n_prev",
            F.expr(
                "CAST((CAST(500000 AS DECIMAL(38,0)) * _s)"
                " DIV (CAST(n_cur AS DECIMAL(38,0)) * n_prev)"
                " AS BIGINT)"
            ).alias("tv_ppm"),
        )
    )


@register(
    "stats_returns_rate_wilson",
    oracle="""
    WITH base AS (
      SELECT p.p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand, n, k,
           round((k * 1.0 / n + 1.9208 / n
                  - 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lo,
           round((k * 1.0 / n + 1.9208 / n
                  + 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi
    FROM base
    """,
)
def q_stats_returns_wilson(spark, sf_dir):
    """Wilson 95% confidence interval on the per-brand return rate —
    the uncertainty-aware version of a rate metric, which is what
    separates '3 returns out of 4' from '300 out of 400' when
    ranking problem SKUs. Numerically this entry marks the exact
    boundary of cross-engine float determinism: sqrt() is CORRECTLY
    ROUNDED by IEEE 754 (bit-identical everywhere), so the whole
    Wilson expression tree — built only from +,−,×,÷,sqrt on
    identical doubles with z, z², z²/2 as literals — hashes
    identically in Spark and DuckDB, while ln/exp-based intervals
    (Jeffreys, PSI) would drift in the last ulp (see
    drift_priority_mix_monthly). One broadcast dim join + one
    low-cardinality groupBy; the interval math is projection-only."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    base = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == p.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    phat = F.col("k") * 1.0 / F.col("n")
    half = 1.96 * F.sqrt(
        phat * (1 - phat) / F.col("n")
        + 0.9604 / (F.col("n") * F.col("n"))
    )
    center = phat + 1.9208 / F.col("n")
    denom = 1 + 3.8416 / F.col("n")
    return base.select(
        "p_brand",
        "n",
        "k",
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "events_burst_detection",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t_s
      FROM events
    ),
    win AS (
      SELECT event_id, event_type,
             count(*) OVER (PARTITION BY event_type ORDER BY t_s
               RANGE BETWEEN 299 PRECEDING AND CURRENT ROW) AS n_5m,
             count(*) OVER (PARTITION BY event_type ORDER BY t_s
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS n_1h
      FROM base
    )
    SELECT event_id, event_type, n_5m, n_1h,
           (n_5m * 3600 > 3 * n_1h * 300) AS is_burst
    FROM win
    """,
)
def q_events_burst_detection(spark, sf_dir):
    """Burst detection: an event is flagged when its instrument's
    trailing 5-minute arrival RATE exceeds 3× the trailing 1-hour
    rate — the multi-resolution CEP primitive behind spike alerts,
    complementing events_anomaly_zscore (which fences VALUES, not
    arrival intensity). Both frames are RANGE windows over the SAME
    (event_type, epoch-second) ordering, so Spark computes them in
    one WindowExec over one shuffle — two frame states, zero extra
    exchanges. The rate comparison is cross-multiplied to integers
    (n_5m·3600 > 3·n_1h·300): no per-window float rate ever exists,
    so the burst flag is bit-deterministic in both engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "event_type", F.unix_seconds("ts").alias("t_s")
    )
    by_type = Window.partitionBy("event_type").orderBy("t_s")
    n_5m = F.count(F.lit(1)).over(
        by_type.rangeBetween(-299, Window.currentRow)
    )
    n_1h = F.count(F.lit(1)).over(
        by_type.rangeBetween(-3599, Window.currentRow)
    )
    win = base.select(
        "event_id",
        "event_type",
        n_5m.alias("n_5m"),
        n_1h.alias("n_1h"),
    )
    return win.select(
        "event_id",
        "event_type",
        "n_5m",
        "n_1h",
        (F.col("n_5m") * 3600 > 3 * F.col("n_1h") * 300).alias(
            "is_burst"
        ),
    )


@register(
    "stats_supplier_concentration_hhi",
    oracle="""
    WITH shares AS (
      SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sum_sq,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM shares GROUP BY l_partkey
    )
    SELECT l_partkey, n_suppliers, total,
           CAST(CAST(1000000 AS HUGEINT) * sum_sq
                // (CAST(total AS HUGEINT) * total) AS BIGINT)
             AS hhi_ppm
    FROM per_part
    """,
)
def q_stats_supplier_hhi(spark, sf_dir):
    """Supply-concentration screening: the Herfindahl–Hirschman index
    of each part's supplier mix, in exact integer ppm — HHI = Σ
    share² distilled to 10⁶·Σn_i² // N², so the quadratic
    concentration metric (10⁶ = single supplier, 10⁶/k = k equal
    suppliers) never touches a float. The procurement-risk twin of
    profile_key_skew: skew profiles the KEY distribution for shuffle
    planning, HHI profiles a BUSINESS dimension for single-source
    risk. Two stacked aggregates: the fact-sized shuffle is the
    first, on (part, supplier); the second groupBy re-shuffles only
    the already-aggregated (part, supplier) counts — hash(part,
    supplier) does NOT satisfy a hash(part) requirement, so Spark
    correctly keeps it — and that second exchange carries one row
    per pair, negligible at any scale."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    shares = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_part = shares.groupBy("l_partkey").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias(
            "sum_sq"
        ),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    return per_part.select(
        "l_partkey",
        "n_suppliers",
        "total",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_sq)"
            " DIV (CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)"
        ).alias("hhi_ppm"),
    )


@register(
    "orders_yoy_growth_monthly",
    oracle="""
    WITH monthly AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS month_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT month_idx, rev_cents,
             lag(month_idx, 12) OVER (ORDER BY month_idx) AS prev_idx,
             lag(rev_cents, 12) OVER (ORDER BY month_idx)
               AS prev_cents
      FROM monthly
    )
    SELECT month_idx, rev_cents, prev_cents,
           CAST(((rev_cents - prev_cents) * CAST(1000000 AS HUGEINT))
                // prev_cents AS BIGINT) AS yoy_growth_ppm
    FROM seq WHERE prev_idx = month_idx - 12
    """,
)
def q_orders_yoy_growth(spark, sf_dir):
    """Year-over-year monthly revenue growth in exact signed ppm —
    the seasonality-adjusted growth metric (December vs December, not
    December vs November), completing the time-series kit next to
    orders_trend_residual_daily (intra-month shape) and
    drift_priority_mix_monthly (mix shift). The 12-row lag is guarded
    by prev_idx = idx − 12, so a gap month drops the pair on both
    engines rather than silently comparing to the wrong year. Signed
    integer division TRUNCATES toward zero identically in Spark's
    DIV and DuckDB's // (probed, not assumed), so negative growth
    months hash identically too. The window runs over the
    month-level aggregate — dozens of rows regardless of fact
    scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
            "month_idx"
        )
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    w = Window.partitionBy(bounded_bucket("month_idx")).orderBy("month_idx")
    seq = monthly.select(
        "month_idx",
        "rev_cents",
        F.lag("month_idx", 12).over(w).alias("prev_idx"),
        F.lag("rev_cents", 12).over(w).alias("prev_cents"),
    ).where(F.col("prev_idx") == F.col("month_idx") - 12)
    return seq.select(
        "month_idx",
        "rev_cents",
        "prev_cents",
        F.expr(
            "CAST(((rev_cents - prev_cents)"
            " * CAST(1000000 AS DECIMAL(38,0))) DIV prev_cents"
            " AS BIGINT)"
        ).alias("yoy_growth_ppm"),
    )


@register(
    "eval_lang_id_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(toks, t -> list_contains(
          ['the','a','and','of','to','in','is'], t))) AS INTEGER) AS score_en,
        CAST(len(list_filter(toks, t -> list_contains(
          ['der','die','das','und','ist','ein'], t))) AS INTEGER) AS score_de,
        CAST(len(list_filter(toks, t -> list_contains(
          ['el','los','de','y','que','una'], t))) AS INTEGER) AS score_es,
        CAST(len(list_filter(toks, t -> list_contains(
          ['le','la','et','les','des','un'], t))) AS INTEGER) AS score_fr
      FROM t
    ),
    pred AS (
      SELECT lang,
           CASE WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
                WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
      FROM s
    ),
    cells AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang)
                AS BIGINT) AS row_share_ppm
    FROM cells
    """,
)
def q_eval_lang_id_confusion(spark, sf_dir):
    """Model-eval harness: the confusion matrix of the stopword
    language-ID model (text_lang_id) against the labeled ``lang``
    column, with per-true-class shares in integer ppm (the diagonal
    is recall). This is the evaluation loop every classifier in the
    curation stack needs — the same aggregate works for the quality
    gate (text_model_quality_filter) by swapping the prediction
    column. Reuses the lang_id operator verbatim, so the entry also
    pins that the oracled per-document predictions AGGREGATE
    consistently: predictions groupBy to ≤ K² cells (map-side
    combinable), the share window runs over the tiny cell frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.textual import lang_id

    pred = lang_id(_t(spark, sf_dir, "documents"))
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        F.expr(
            "CAST((n * 1000000) DIV (sum(n) OVER (PARTITION BY lang))"
            " AS BIGINT)"
        ).alias("row_share_ppm"),
    )


@register(
    "events_watermark_lateness_audit",
    oracle="""
    WITH arr AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t_s,
             max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS frontier_s
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN t_s < frontier_s - 1800 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_30m,
           CAST(sum(CASE WHEN t_s < frontier_s - 7200 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_2h,
           CAST(max(frontier_s - t_s) AS BIGINT) AS max_lateness_s
    FROM arr GROUP BY event_type
    """,
)
def q_events_watermark_lateness(spark, sf_dir):
    """Watermark sizing audit: replay the stream's ARRIVAL order
    (event_id is the ingest sequence) and count, per instrument, how
    many events a 30-minute vs 2-hour watermark would have DROPPED —
    an event is late by (event-time frontier so far − its own ts).
    This is the batch query you run BEFORE choosing the watermark the
    streaming entries hard-code (streaming/windows.py uses 2 hours;
    this audit shows what that costs), closing the loop with
    events_gap_percentiles (which calibrates session gaps, while
    this calibrates allowed lateness). The frontier is a running max
    over arrival order — one keyed window, integer epoch seconds
    end-to-end — and the per-type aggregate rides the same
    partitioning, so Catalyst reuses a single exchange."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t_s = F.unix_seconds("ts")
    arr = ev.select(
        "event_type",
        t_s.alias("t_s"),
        F.max(t_s).over(w).alias("frontier_s"),
    )
    late = F.col("frontier_s") - F.col("t_s")
    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late > 1800, 1).otherwise(0))
        .cast("bigint")
        .alias("dropped_30m"),
        F.sum(F.when(late > 7200, 1).otherwise(0))
        .cast("bigint")
        .alias("dropped_2h"),
        F.max(late).cast("bigint").alias("max_lateness_s"),
    )


@register(
    "portfolio_sharpe_monthly",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ),
    rets AS (
      SELECT day_idx, rev_cents,
             lag(day_idx) OVER (ORDER BY day_idx) AS prev_idx,
             lag(rev_cents) OVER (ORDER BY day_idx) AS prev_cents
      FROM daily
    ),
    r AS (
      SELECT day_idx,
             CAST(((rev_cents - prev_cents) * CAST(1000000 AS HUGEINT))
                  // prev_cents AS BIGINT) AS r_ppm
      FROM rets WHERE prev_idx = day_idx - 1
    ),
    m AS (
      SELECT CAST(day_idx // 30 AS BIGINT) AS window_idx,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CAST(r_ppm AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(r_ppm AS HUGEINT) * r_ppm) AS HUGEINT) AS s2
      FROM r GROUP BY 1 HAVING count(*) >= 3
    )
    SELECT window_idx, n_days,
           CAST(s1 // CAST(n_days AS HUGEINT) AS BIGINT) AS mean_r_ppm,
           CAST(floor(
             1000.0 * (CAST(s1 AS DOUBLE) / n_days)
             / sqrt((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n_days AS DOUBLE) * (n_days - 1)))
           ) AS BIGINT) AS sharpe_milli
    FROM m
    WHERE n_days * s2 > s1 * s1
    """,
)
def q_portfolio_sharpe(spark, sf_dir):
    """Sharpe ratio (un-annualized, zero risk-free) of day-over-day
    revenue returns per 30-day window — the risk-adjusted-return
    summary that ranks strategies where raw P&L (portfolio_fifo_pnl)
    and drawdown (portfolio_max_drawdown) each tell half the story.
    Numerically it composes the repo's two determinism idioms:
    returns are integer ppm with gap-guarded consecutive days (the
    yoy entry's pattern), their sums ride HUGEINT/DECIMAL(38)
    exactly, and the final mean/σ ratio uses only ÷ and sqrt —
    IEEE-correctly-rounded ops — on doubles CAST from those exact
    integers, so both engines evaluate the identical expression tree
    on identical bits (the Wilson entry's boundary). Degenerate
    windows (constant returns → zero variance, or < 3 points) are
    excluded by integer predicates before any float exists."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.unix_date(F.col("o_orderdate").cast("date")).alias("day_idx")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    w = Window.partitionBy(bounded_bucket("day_idx")).orderBy("day_idx")
    r = (
        daily.select(
            "day_idx",
            "rev_cents",
            F.lag("day_idx").over(w).alias("prev_idx"),
            F.lag("rev_cents").over(w).alias("prev_cents"),
        )
        .where(F.col("prev_idx") == F.col("day_idx") - 1)
        .select(
            "day_idx",
            F.expr(
                "CAST(((rev_cents - prev_cents)"
                " * CAST(1000000 AS DECIMAL(38,0))) DIV prev_cents"
                " AS BIGINT)"
            ).alias("r_ppm"),
        )
    )
    m = (
        r.groupBy(
            F.expr("CAST(day_idx DIV 30 AS BIGINT)").alias("window_idx")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.col("r_ppm").cast("decimal(38,0)")).alias("s1"),
            F.sum(
                F.col("r_ppm").cast("decimal(38,0)") * F.col("r_ppm")
            ).alias("s2"),
        )
        .where(
            (F.col("n_days") >= 3)
            & (F.col("n_days") * F.col("s2") > F.col("s1") * F.col("s1"))
        )
    )
    return m.select(
        "window_idx",
        "n_days",
        F.expr("CAST(s1 DIV n_days AS BIGINT)").alias("mean_r_ppm"),
        F.expr(
            "CAST(floor(1000.0 * (CAST(s1 AS DOUBLE) / n_days)"
            " / sqrt((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
            " / (CAST(n_days AS DOUBLE) * (n_days - 1)))) AS BIGINT)"
        ).alias("sharpe_milli"),
    )


@register(
    "lineitem_shipment_lead_time",
    oracle="""
    WITH lt AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lead_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(lead_days AS BIGINT))
                // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_days,
           round(quantile_cont(lead_days, 0.50), 2) AS p50_days,
           round(quantile_cont(lead_days, 0.90), 2) AS p90_days,
           CAST(max(lead_days) AS BIGINT) AS max_days
    FROM lt GROUP BY o_orderpriority
    """,
)
def q_lineitem_lead_time(spark, sf_dir):
    """Shipment lead time (order date → ship date, in whole days) per
    order priority: the logistics SLA profile — does URGENT actually
    ship faster, and what does the p90 tail look like? The join is
    the corpus's canonical fact-fact shape (lineitem ⋈ orders on
    l_orderkey, both shuffled on the same key, AQE free to pick
    shuffle-hash), the lead time is integer calendar-day arithmetic,
    and the profile reuses the exact-percentile idiom
    (profile_quantiles): floor-mean in integers, interpolated
    p50/p90 identical across engines on integer inputs."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lead_days"),
    )
    return lt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(sum(CAST(lead_days AS BIGINT)) DIV count(*) AS BIGINT)"
        ).alias("mean_days"),
        F.round(F.expr("percentile(lead_days, 0.50)"), 2).alias(
            "p50_days"
        ),
        F.round(F.expr("percentile(lead_days, 0.90)"), 2).alias(
            "p90_days"
        ),
        F.max("lead_days").cast("bigint").alias("max_days"),
    )


@register(
    "events_funnel_conversion_ppm",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS t_buy
      FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
             CASE WHEN t_view IS NOT NULL AND t_click > t_view
                  THEN 1 ELSE 0 END AS s2,
             CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_buy > t_click THEN 1 ELSE 0 END AS s3
      FROM stages
    )
    SELECT CAST(sum(s1) AS BIGINT) AS n_view,
           CAST(sum(s2) AS BIGINT) AS n_click,
           CAST(sum(s3) AS BIGINT) AS n_purchase,
           CAST(sum(s2) * 1000000 // sum(s1) AS BIGINT)
             AS conv_view_click_ppm,
           CAST(sum(s3) * 1000000 // sum(s2) AS BIGINT)
             AS conv_click_buy_ppm,
           CAST(sum(s3) * 1000000 // sum(s1) AS BIGINT)
             AS conv_overall_ppm
    FROM flags
    """,
)
def q_events_funnel_conversion(spark, sf_dir):
    """Funnel conversion rates in integer ppm — the scalar summary on
    top of events_funnel's per-user stage flags: view→click,
    click→purchase, and overall, each an integer ratio of ORDERED
    stage completions (a later stage only counts if it happened
    after the earlier one — min-timestamp semantics shared with the
    funnel entry). One groupBy on user (min timestamps are
    map-side-combinable), then a single global aggregate row; the
    ppm ratios are integral division so the driver hash is exact.
    The strict '>' between stages means same-timestamp stage pairs
    do not convert — identical on both engines."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("t_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_buy"),
    )
    s1 = F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
    s2 = F.when(
        F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")),
        1,
    ).otherwise(0)
    s3 = F.when(
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_buy") > F.col("t_click")),
        1,
    ).otherwise(0)
    flags = stages.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    )
    return flags.agg(
        F.sum("s1").cast("bigint").alias("n_view"),
        F.sum("s2").cast("bigint").alias("n_click"),
        F.sum("s3").cast("bigint").alias("n_purchase"),
        F.expr(
            "CAST(sum(s2) * 1000000 DIV sum(s1) AS BIGINT)"
        ).alias("conv_view_click_ppm"),
        F.expr(
            "CAST(sum(s3) * 1000000 DIV sum(s2) AS BIGINT)"
        ).alias("conv_click_buy_ppm"),
        F.expr(
            "CAST(sum(s3) * 1000000 DIV sum(s1) AS BIGINT)"
        ).alias("conv_overall_ppm"),
    )


@register(
    "events_error_rate_sli",
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
def q_events_error_sli(spark, sf_dir):
    """Reliability SLI: hourly error rate in integer ppm with a
    budget-burn flag against a 99.9% objective (error share > 0.1%,
    cross-multiplied to the integer predicate n_error·1000 > n_total
    — no rate float exists, so the alert boundary is exact in both
    engines). This is the ops-monitoring face of the events table —
    the same single map-side-combinable groupBy as the heatmap
    entry, with the SLO arithmetic the alerting layer would
    otherwise do downstream. At 100 TB the partial aggregation
    reduces each task to one row per hour before the shuffle."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(is_err).cast("bigint").alias("n_error"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
            " * 1000000 DIV count(*) AS BIGINT)"
        ).alias("err_ppm"),
        (
            F.sum(is_err) * 1000 > F.count(F.lit(1))
        ).alias("budget_burn"),
    )


@register(
    "orders_fiscal_445_rollup",
    oracle="""
    WITH f AS (
      SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders,
             (date_diff('day', DATE '1994-12-26',
                        CAST(o_orderdate AS DATE)) // 7) AS week_seq
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1994-12-26'
      GROUP BY 3
    )
    SELECT CAST(1995 + week_seq // 52 AS INT) AS fiscal_year,
           CAST((week_seq % 52) // 13 + 1 AS INT) AS fiscal_quarter,
           CAST(CASE WHEN (week_seq % 52) % 13 < 4 THEN 1
                     WHEN (week_seq % 52) % 13 < 8 THEN 2
                     ELSE 3 END AS INT) AS fiscal_period,
           CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_weeks
    FROM f GROUP BY 1, 2, 3
    """,
)
def q_orders_fiscal_445(spark, sf_dir):
    """4-4-5 fiscal-calendar rollup — the retail/finance reporting
    calendar (each quarter = two 4-week periods + one 5-week period,
    anchored on a Monday week boundary) that no built-in date
    function provides in ANY engine: the mapping is pure integer
    arithmetic on a week sequence (day//7 from the 1994-12-26
    Monday anchor, chosen just before the corpus's 1995 first
    order, then //52, //13, and the 4/4/5 CASE ladder), which is
    exactly why it's portable — both engines compute the identical
    integers where a library calendar would disagree on week-53
    years (here weeks ≥ 52 fold into the next fiscal year, the
    documented simplification). Two stacked aggregates: the
    fact-sized shuffle lands on ~52 week keys per year; the
    re-rollup to periods is negligible. Money rides integer cents
    end-to-end."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    anchor = F.lit("1994-12-26").cast("date")
    day = F.col("o_orderdate").cast("date")
    weekly = (
        o.where(day >= anchor)
        .groupBy(
            F.expr(
                "CAST(datediff(CAST(o_orderdate AS DATE),"
                " DATE '1994-12-26') DIV 7 AS BIGINT)"
            ).alias("week_seq")
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    woy = F.col("week_seq") % 52
    return (
        weekly.groupBy(
            (F.lit(1995) + F.expr("week_seq DIV 52"))
            .cast("int")
            .alias("fiscal_year"),
            (F.expr("(week_seq % 52) DIV 13") + 1)
            .cast("int")
            .alias("fiscal_quarter"),
            F.when(woy % 13 < 4, 1)
            .when(woy % 13 < 8, 2)
            .otherwise(3)
            .cast("int")
            .alias("fiscal_period"),
        )
        .agg(
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.count(F.lit(1)).alias("n_weeks"),
        )
    )


@register(
    "dq_freshness_skew",
    oracle="""
    WITH per_type AS (
      SELECT event_type,
             max(CAST(floor(epoch(ts)) AS BIGINT)) AS latest_s,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events,
           CAST(max(latest_s) OVER () - latest_s AS BIGINT)
             AS staleness_s,
           (max(latest_s) OVER () - latest_s > 3600) AS stale_1h
    FROM per_type
    """,
)
def q_dq_freshness_skew(spark, sf_dir):
    """Ingest-freshness skew: how far each event type's newest record
    lags the table's overall event-time frontier — the DQ check that
    catches a silently-stalled upstream PARTITION (one Kafka topic,
    one exporter) that table-level freshness monitoring misses
    because the other types keep the global max moving. Anchoring on
    the in-data frontier instead of wall-clock now() keeps the check
    retry-deterministic and oracle-able (both engines see the same
    anchor; a wall-clock anchor would differ per run). One
    max/count groupBy over the facts; the frontier compare is a
    window over the per-type frame — K rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..partitioning import freeze_partitions

    ev = _t(spark, sf_dir, "events")
    # pinned: feeds the output rows AND the 1-row frontier branch —
    # unpinned, the scalar branch re-executes the fact aggregate
    per_type = freeze_partitions(
        ev.groupBy("event_type").agg(
            F.max(F.unix_seconds("ts")).alias("latest_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    # frontier via 1-row broadcast cross join (bounded K-row frame;
    # an empty-partition window warns and single-partitions)
    frontier = F.col("__frontier")
    return per_type.crossJoin(
        F.broadcast(per_type.agg(F.max("latest_s").alias("__frontier")))
    ).select(
        "event_type",
        "n_events",
        (frontier - F.col("latest_s")).cast("bigint").alias("staleness_s"),
        (frontier - F.col("latest_s") > 3600).alias("stale_1h"),
    )


@register(
    "drift_value_ks_distance",
    oracle="""
    WITH tagged AS (
      SELECT value,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    per_value AS (
      SELECT value,
             CAST(sum(in_a) AS BIGINT) AS c1,
             CAST(sum(1 - in_a) AS BIGINT) AS c2
      FROM tagged GROUP BY value
    ),
    ecdf AS (
      SELECT CAST(sum(c1) OVER w AS HUGEINT) AS cum1,
             CAST(sum(c2) OVER w AS HUGEINT) AS cum2,
             CAST(sum(c1) OVER () AS HUGEINT) AS n1,
             CAST(sum(c2) OVER () AS HUGEINT) AS n2
      FROM per_value
      WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(n2) AS BIGINT) AS n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) * 1000000
                // (max(n1) * max(n2)) AS BIGINT) AS ks_ppm
    FROM ecdf
    """,
)
def q_drift_value_ks(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov distance between the first
    and second half of January's value distributions — the
    CONTINUOUS-distribution drift test beside the categorical
    total-variation entry (drift_priority_mix_monthly): KS catches a
    shifted price distribution that category mixes can't see. The
    whole statistic is integer-exact: group by distinct value (so the
    ECDF steps at true jump points — ties collapse before the scan),
    running counts per sample via one ordered window, and
    D = max|cum1·N2 − cum2·N1| with the denominator N1·N2 kept
    symbolic until the final ppm division. No ECDF fraction ever
    floats. The ordered scan over the DISTINCT-value frame is the
    DISTRIBUTED two-pass prefix (partitioning.ordered_prefix:
    equal-width buckets of value + per-bucket running sums +
    broadcast offsets — values are unique post-groupBy, so the order
    is total without a tiebreaker), and the grand totals N1/N2 ride
    the same pass; no single-partition WindowExec anywhere."""
    from pyspark.sql import functions as F

    from ..partitioning import ordered_prefix

    ev = _t(spark, sf_dir, "events")
    in_a = F.when(
        F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), 1
    ).otherwise(0)
    per_value = ev.select("value", in_a.alias("in_a")).groupBy("value").agg(
        F.sum("in_a").cast("bigint").alias("c1"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("c2"),
    )
    ecdf = ordered_prefix(
        per_value,
        [F.col("value")],
        sum_cols=["c1", "c2"],
    ).select(
        F.col("run_c1").cast("decimal(38,0)").alias("cum1"),
        F.col("run_c2").cast("decimal(38,0)").alias("cum2"),
        F.col("total_c1").cast("decimal(38,0)").alias("n1"),
        F.col("total_c2").cast("decimal(38,0)").alias("n2"),
    )
    return ecdf.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
        .cast("bigint")
        .alias("ks_num"),
        F.expr(
            "CAST((max(abs(cum1 * n2 - cum2 * n1)) * 1000000)"
            " DIV (max(n1) * max(n2)) AS BIGINT)"
        ).alias("ks_ppm"),
    )


@register(
    "customer_order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT n_orders,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS orders_covered
    FROM per_cust GROUP BY n_orders
    """,
)
def q_customer_order_distribution(spark, sf_dir):
    """Order-frequency (degree) distribution: how many customers
    placed exactly k orders — the power-law profile behind retention
    economics (and the BUSINESS twin of profile_key_skew's shuffle
    profile: same two stacked aggregates, read for whale-vs-long-tail
    instead of partition sizing). The first groupBy is the fact-sized
    shuffle; the second runs over one row per customer, grouped into
    a handful of k buckets. orders_covered per bucket makes the
    Lorenz/Pareto readout (orders_pareto_8020) derivable from this
    frame without rescanning facts."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("orders_covered"),
    )


@register(
    "orders_seasonal_dow_index",
    oracle="""
    WITH daily AS (
      SELECT isodow(o_orderdate) AS dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT CAST(dow AS INT) AS dow, n, rev_cents,
           CAST(rev_cents * 7 * CAST(1000000 AS HUGEINT)
                // sum(rev_cents) OVER () AS BIGINT) AS rev_index_ppm,
           CAST(n * 7 * 1000000 // sum(n) OVER () AS BIGINT)
             AS volume_index_ppm
    FROM daily
    """,
)
def q_orders_seasonal_dow(spark, sf_dir):
    """Weekday seasonal index: each ISO weekday's revenue and order
    volume as a ratio to the uniform-week expectation (1 000 000 ppm
    = an average day; Monday at 1 300 000 means +30%) — the
    normalization step that turns the heatmap entry's raw counts
    into a comparable seasonality factor for forecasting. Integer
    throughout: ×7×10⁶ before one integral division against the
    global total (a window over the 7-row frame). Uses the same
    isodow == weekday()+1 calendar pinning as the heatmap (the
    engines' bare dayofweek disagree on Sunday)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.weekday("o_orderdate") + 1).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents"),
    )
    # week totals over the 7-row dow frame ride the non-foldable
    # scalar_bucket key: same values as sum() OVER (), without the
    # single-partition WindowExec warning (r7 sweep catch)
    from pyspark.sql import Window

    from ..partitioning import scalar_bucket

    wk = Window.partitionBy(scalar_bucket("dow"))
    return daily.withColumn(
        "__rev_total", F.sum("rev_cents").over(wk)
    ).withColumn("__n_total", F.sum("n").over(wk)).select(
        "dow",
        "n",
        "rev_cents",
        F.expr(
            "CAST((rev_cents * 7 * CAST(1000000 AS DECIMAL(38,0)))"
            " DIV __rev_total AS BIGINT)"
        ).alias("rev_index_ppm"),
        F.expr(
            "CAST((n * 7 * CAST(1000000 AS DECIMAL(38,0)))"
            " DIV __n_total AS BIGINT)"
        ).alias("volume_index_ppm"),
    )




@register(
    "events_time_to_convert",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type <> 'purchase'
                      THEN struct_pack(s := CAST(floor(epoch(ts)) AS BIGINT),
                                       eid := event_id,
                                       ch := event_type) END) AS ft,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fp_s
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT ft.ch AS first_channel, fp_s - ft.s AS tconv_s
      FROM per_user
      WHERE ft IS NOT NULL AND fp_s IS NOT NULL AND fp_s > ft.s
    )
    SELECT first_channel,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(tconv_s, 0.50), 2) AS p50_s,
           round(quantile_cont(tconv_s, 0.90), 2) AS p90_s,
           CAST(max(tconv_s) AS BIGINT) AS max_s
    FROM conv GROUP BY first_channel
    """,
)
def q_events_time_to_convert(spark, sf_dir):
    """Funnel velocity: per first-touch channel, exact p50/p90 of the
    seconds from a user's FIRST touch to their FIRST purchase (users
    whose first purchase precedes any touch drop out — they converted
    before the funnel saw them). Both 'firsts' come from ONE
    groupBy(user) with conditional struct-min aggregates — no window,
    no self-join, one data-sized shuffle; percentiles then run over
    the converted-users frame (population-sized). The struct min
    orders by (epoch, event_id, channel), the same lexicographic
    total order DuckDB's struct min uses, so same-instant ties are
    engine-identical. Interpolated percentiles over integer seconds
    are dyadic-exact (the events_gap_percentiles argument)."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    t_s = F.unix_seconds("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") != "purchase",
                F.struct(
                    t_s.alias("s"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("ch"),
                ),
            )
        ).alias("ft"),
        F.min(F.when(F.col("event_type") == "purchase", t_s)).alias("fp_s"),
    )
    conv = per_user.where(
        F.col("ft").isNotNull()
        & F.col("fp_s").isNotNull()
        & (F.col("fp_s") > F.col("ft.s"))
    ).select(
        F.col("ft.ch").alias("first_channel"),
        (F.col("fp_s") - F.col("ft.s")).alias("tconv_s"),
    )
    return conv.groupBy("first_channel").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(tconv_s, 0.50)"), 2).alias("p50_s"),
        F.round(F.expr("percentile(tconv_s, 0.90)"), 2).alias("p90_s"),
        F.max("tconv_s").alias("max_s"),
    )


@register(
    "supplier_service_scorecard",
    oracle="""
    WITH l AS (
      SELECT li.l_suppkey,
             date_diff('day', o.o_orderdate, li.l_shipdate) AS lag_d,
             CASE WHEN li.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(lag_d) * 1000 // count(*) AS BIGINT)
             AS ship_lag_avg_days_milli,
           CAST(sum(CASE WHEN lag_d > 90 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS late90_ppm,
           CAST(sum(ret) * 1000000 // count(*) AS BIGINT) AS return_ppm
    FROM l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_name
    """,
)
def q_supplier_service_scorecard(spark, sf_dir):
    """Supplier service-level scorecard — the KPI sheet a procurement
    pipeline publishes per supplier: mean order→ship lag in exact
    milli-days (integer DIV, no float averaging), share of lines
    shipped more than 90 days after order in ppm, and returns rate in
    ppm. One fact-fact join on orderkey (the shipment-lead-time
    shape), then a map-side-combinable groupBy on suppkey carrying
    four longs per (task, supplier); the supplier dimension
    broadcasts."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    l = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").alias("lag_d"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    agg = l.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("lag_d").alias("sum_lag"),
        F.sum((F.col("lag_d") > 90).cast("long")).alias("n_late"),
        F.sum("ret").alias("n_ret"),
    )
    return agg.join(
        F.broadcast(s.select("s_suppkey", "s_name")),
        agg.l_suppkey == F.col("s_suppkey"),
    ).select(
        "s_name",
        "n_lines",
        F.expr("CAST(sum_lag * 1000 DIV n_lines AS BIGINT)").alias(
            "ship_lag_avg_days_milli"
        ),
        F.expr("CAST(n_late * 1000000 DIV n_lines AS BIGINT)").alias(
            "late90_ppm"
        ),
        F.expr("CAST(n_ret * 1000000 DIV n_lines AS BIGINT)").alias(
            "return_ppm"
        ),
    )


@register(
    "orders_reorder_interval",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             date_diff('day',
               lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                        ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS gap_d
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_intervals,
           round(quantile_cont(gap_d, 0.50), 2) AS p50_d,
           round(quantile_cont(gap_d, 0.90), 2) AS p90_d,
           CAST(max(gap_d) AS BIGINT) AS max_d
    FROM g WHERE gap_d IS NOT NULL
    GROUP BY segment
    """,
)
def q_orders_reorder_interval(spark, sf_dir):
    """Repurchase-cycle profile: days between a customer's consecutive
    orders, exact p50/p90 per market segment — the cadence input to
    replenishment forecasting and churn-window calibration (how long
    is 'too long since last order'?). Same shape as
    events_gap_percentiles on the orders fact: one customer-keyed lag
    window (broadcast segment join rides the same shuffle), then
    dyadic-exact interpolated percentiles over integer day gaps.
    Ties in order dates break on o_orderkey — identical total order
    in both engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap_d"),
        )
        .where(F.col("gap_d").isNotNull())
    )
    return g.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(F.expr("percentile(gap_d, 0.50)"), 2).alias("p50_d"),
        F.round(F.expr("percentile(gap_d, 0.90)"), 2).alias("p90_d"),
        F.max("gap_d").alias("max_d"),
    )


@register(
    "events_burn_rate_alert",
    oracle="""
    WITH h AS (
      SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24
              + hour(ts)) AS hour_idx,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_error
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT hour_idx, n_total, n_error,
             CAST(sum(n_error) OVER l AS BIGINT) AS err_6h,
             CAST(sum(n_total) OVER l AS BIGINT) AS tot_6h
      FROM h
      WINDOW l AS (ORDER BY hour_idx RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT hour_idx,
           CAST(n_error * 1000000 // n_total AS BIGINT) AS short_ppm,
           CAST(err_6h * 1000000 // tot_6h AS BIGINT) AS long_ppm,
           (n_error * 1000 > 14 * n_total
            AND err_6h * 1000 > 14 * tot_6h) AS page_alert,
           (n_error * 1000 > 6 * n_total
            AND err_6h * 1000 > 6 * tot_6h) AS ticket_alert
    FROM w
    """,
)
def q_events_burn_rate_alert(spark, sf_dir):
    """Multi-window multi-burn-rate SLO alerting (the SRE-workbook
    policy the single-window SLI entry feeds): page when BOTH the
    1-hour and trailing 6-hour error rates burn the 99.9% budget at
    14x (fast burn confirmed by the long window — resistant to
    one-hour blips), ticket at 6x. Thresholds are cross-multiplied to
    exact integer predicates (rate > 14·0.001 ⇔ err·1000 > 14·total)
    so the alert boundary never sits on a float. The trailing window
    is a RANGE frame over the hour-indexed aggregate, partitioned by
    the bounded_bucket pseudo-constant (domain-bounded hour index —
    the orders_anomalous_days pattern), so no unpartitioned
    WindowExec appears and the frame is calendar-bounded at any data
    volume."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    h = ev.groupBy(
        (
            F.unix_date(F.col("ts").cast("date")) * 24 + F.hour("ts")
        ).alias("hour_idx")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(is_err).cast("bigint").alias("n_error"),
    )
    w = (
        Window.partitionBy(bounded_bucket("hour_idx"))
        .orderBy("hour_idx")
        .rangeBetween(-5, 0)
    )
    ww = h.select(
        "hour_idx",
        "n_total",
        "n_error",
        F.sum("n_error").over(w).alias("err_6h"),
        F.sum("n_total").over(w).alias("tot_6h"),
    )
    return ww.select(
        "hour_idx",
        F.expr("CAST(n_error * 1000000 DIV n_total AS BIGINT)").alias(
            "short_ppm"
        ),
        F.expr("CAST(err_6h * 1000000 DIV tot_6h AS BIGINT)").alias(
            "long_ppm"
        ),
        (
            (F.col("n_error") * 1000 > 14 * F.col("n_total"))
            & (F.col("err_6h") * 1000 > 14 * F.col("tot_6h"))
        ).alias("page_alert"),
        (
            (F.col("n_error") * 1000 > 6 * F.col("n_total"))
            & (F.col("err_6h") * 1000 > 6 * F.col("tot_6h"))
        ).alias("ticket_alert"),
    )


@register(
    "parts_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT l_partkey, rev_cents,
             CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents,
             CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
      FROM rev
    )
    SELECT l_partkey, rev_cents,
           CAST(run_cents * 10000 // total_cents AS BIGINT) AS cum_share_bp,
           CASE WHEN run_cents * 100 <= 80 * total_cents THEN 'A'
                WHEN run_cents * 100 <= 95 * total_cents THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r
    """,
)
def q_parts_abc_classification(spark, sf_dir):
    """ABC inventory classification — parts ranked by revenue with
    cumulative-share classes (A to 80%, B to 95%, C the tail), the
    stock-policy segmentation every ops team runs. Thresholds are
    cross-multiplied integer predicates (run·100 ≤ 80·total) so class
    boundaries never sit on a float, and the cumulative sum over the
    revenue-descending total order rides ``ordered_prefix`` — its
    run_/total_ outputs give the running and grand totals in the same
    pass with no single-partition window and no second scan."""
    from pyspark.sql import functions as F

    from ..partitioning import ordered_prefix

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    r = ordered_prefix(
        rev,
        [F.col("rev_cents").desc(), F.col("l_partkey")],
        sum_cols=["rev_cents"],
    )
    return r.select(
        "l_partkey",
        "rev_cents",
        F.expr(
            "CAST(run_rev_cents * 10000 DIV total_rev_cents AS BIGINT)"
        ).alias("cum_share_bp"),
        F.when(
            F.col("run_rev_cents") * 100 <= 80 * F.col("total_rev_cents"), "A"
        )
        .when(
            F.col("run_rev_cents") * 100 <= 95 * F.col("total_rev_cents"), "B"
        )
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "orders_revenue_bridge_monthly",
    oracle="""
    WITH cm AS (
      SELECT o_custkey AS cust,
             year(o_orderdate) * 12 + month(o_orderdate) - 1 AS midx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2
    ),
    lagd AS (
      SELECT cust, midx, rev,
             lag(midx) OVER w AS pmidx,
             lag(rev) OVER w AS prev
      FROM cm WINDOW w AS (PARTITION BY cust ORDER BY midx)
    ),
    cur AS (
      SELECT midx,
             sum(CASE WHEN pmidx IS NULL OR pmidx < midx - 1
                      THEN rev ELSE 0 END) AS new_cents,
             sum(CASE WHEN pmidx = midx - 1 AND rev > prev
                      THEN rev - prev ELSE 0 END) AS expansion_cents,
             sum(CASE WHEN pmidx = midx - 1 AND rev < prev
                      THEN prev - rev ELSE 0 END) AS contraction_cents
      FROM lagd GROUP BY midx
    ),
    nxt AS (
      SELECT cust, midx, rev,
             lead(midx) OVER w AS nmidx
      FROM cm WINDOW w AS (PARTITION BY cust ORDER BY midx)
    ),
    churn AS (
      SELECT midx + 1 AS midx,
             sum(rev) AS churned_cents
      FROM nxt
      WHERE nmidx IS NULL OR nmidx > midx + 1
      GROUP BY midx + 1
    )
    SELECT c.midx AS month_idx,
           CAST(c.new_cents AS BIGINT) AS new_cents,
           CAST(c.expansion_cents AS BIGINT) AS expansion_cents,
           CAST(c.contraction_cents AS BIGINT) AS contraction_cents,
           CAST(coalesce(ch.churned_cents, 0) AS BIGINT) AS churned_cents,
           CAST(c.new_cents + c.expansion_cents - c.contraction_cents
                - coalesce(ch.churned_cents, 0) AS BIGINT) AS net_change_cents
    FROM cur c LEFT JOIN churn ch ON ch.midx = c.midx
    """,
)
def q_orders_revenue_bridge_monthly(spark, sf_dir):
    """Monthly revenue bridge (SaaS-style growth accounting in cents):
    each month's change decomposes into NEW (customer absent the
    prior month — including lapsed returners), EXPANSION /
    CONTRACTION (same-customer delta vs an adjacent prior month), and
    CHURNED (the full prior-month revenue of customers with no
    revenue this month, attributed via a lead window so no dense
    month scaffold is materialized). The identity new + expansion −
    contraction − churned = net change holds exactly in integer cents
    (invariant-testable). Two customer-keyed windows over the
    (customer × month) aggregate — population-sized, not order-sized
    — then month-level rollups; the churn side joins back on month
    index."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..partitioning import freeze_partitions

    o = _t(spark, sf_dir, "orders")
    cm = freeze_partitions(
        o.groupBy(
            F.col("o_custkey").alias("cust"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).alias("midx"),
        ).agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.partitionBy("cust").orderBy("midx")
    lagd = cm.select(
        "midx",
        "rev",
        F.lag("midx").over(w).alias("pmidx"),
        F.lag("rev").over(w).alias("prev"),
    )
    cur = lagd.groupBy("midx").agg(
        F.sum(
            F.when(
                F.col("pmidx").isNull() | (F.col("pmidx") < F.col("midx") - 1),
                F.col("rev"),
            ).otherwise(0)
        ).alias("new_cents"),
        F.sum(
            F.when(
                (F.col("pmidx") == F.col("midx") - 1)
                & (F.col("rev") > F.col("prev")),
                F.col("rev") - F.col("prev"),
            ).otherwise(0)
        ).alias("expansion_cents"),
        F.sum(
            F.when(
                (F.col("pmidx") == F.col("midx") - 1)
                & (F.col("rev") < F.col("prev")),
                F.col("prev") - F.col("rev"),
            ).otherwise(0)
        ).alias("contraction_cents"),
    )
    nxt = cm.select(
        "midx", "rev", F.lead("midx").over(w).alias("nmidx")
    )
    churn = (
        nxt.where(F.col("nmidx").isNull() | (F.col("nmidx") > F.col("midx") + 1))
        .groupBy((F.col("midx") + 1).alias("midx"))
        .agg(F.sum("rev").alias("churned_cents"))
    )
    return (
        cur.join(churn, "midx", "left")
        .select(
            F.col("midx").alias("month_idx"),
            F.col("new_cents").cast("bigint").alias("new_cents"),
            F.col("expansion_cents").cast("bigint").alias("expansion_cents"),
            F.col("contraction_cents").cast("bigint").alias("contraction_cents"),
            F.coalesce("churned_cents", F.lit(0))
            .cast("bigint")
            .alias("churned_cents"),
            (
                F.col("new_cents")
                + F.col("expansion_cents")
                - F.col("contraction_cents")
                - F.coalesce("churned_cents", F.lit(0))
            )
            .cast("bigint")
            .alias("net_change_cents"),
        )
    )


@register(
    "orders_gap_burstiness",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             date_diff('day',
               lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                        ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS gap_d
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT segment, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(gap_d AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(gap_d AS HUGEINT) * gap_d) AS HUGEINT) AS s2
      FROM g WHERE gap_d IS NOT NULL GROUP BY segment
    )
    SELECT segment, CAST(n AS BIGINT) AS n_gaps,
           CAST(floor(1000 *
             (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                    / CAST(n AS DOUBLE)
              - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                      / CAST(n AS DOUBLE)
                + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             AS BIGINT) AS burstiness_milli
    FROM m
    """,
)
def q_orders_gap_burstiness(spark, sf_dir):
    """Burstiness of the repurchase process per segment: the
    Goh-Barabási coefficient B = (σ−μ)/(σ+μ) over inter-order day
    gaps — B→−1 for clockwork ordering, 0 for Poisson, →1 for bursty
    — the events-side Fano entry's companion on the orders fact. Raw
    moments are exact integers (the correlation-matrix idiom); σ and
    μ assemble from the one 3-number frame with IEEE sqrt/divide
    identical cross-engine, floored at milli. Same lag-window shape
    as orders_reorder_interval."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
                "gap_d"
            ),
        )
        .where(F.col("gap_d").isNotNull())
    )
    m = g.groupBy("segment").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("gap_d").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("gap_d").cast("decimal(38,0)") * F.col("gap_d")).alias(
            "s2"
        ),
    )
    return m.select(
        "segment",
        F.expr("CAST(n AS BIGINT)").alias("n_gaps"),
        F.expr(
            "CAST(floor(1000 *"
            " (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            "        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))"
            "        / CAST(n AS DOUBLE)"
            "  - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
            " / (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            "          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))"
            "          / CAST(n AS DOUBLE)"
            "    + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("burstiness_milli"),
    )


@register(
    "orders_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    ma AS (
      SELECT day, day_idx, rev_cents,
             rev_cents
               - CAST(sum(rev_cents) OVER w AS BIGINT)
                 // count(*) OVER w AS resid
      FROM daily
      WINDOW w AS (ORDER BY day_idx
                   RANGE BETWEEN 14 PRECEDING AND 14 FOLLOWING)
    ),
    lim AS (
      SELECT CAST(floor(0.7413 * quantile_cont(abs(resid), 0.5))
                  AS BIGINT) AS k,
             CAST(floor(5 * 1.4826 * quantile_cont(abs(resid), 0.5))
                  AS BIGINT) AS h
      FROM ma
    ),
    pre AS (
      SELECT day, day_idx, rev_cents,
             sum(resid - (SELECT k FROM lim))
               OVER (ORDER BY day_idx) AS p_up,
             sum(resid + (SELECT k FROM lim))
               OVER (ORDER BY day_idx) AS p_dn
      FROM ma
    ),
    cus AS (
      SELECT day, rev_cents,
             p_up - min(p_up) OVER (ORDER BY day_idx) AS cusum_pos,
             max(p_dn) OVER (ORDER BY day_idx) - p_dn AS cusum_neg
      FROM pre
    )
    SELECT day, rev_cents,
           CAST(cusum_pos AS BIGINT) AS cusum_pos,
           CAST(cusum_neg AS BIGINT) AS cusum_neg,
           CAST(CASE WHEN cusum_pos > (SELECT h FROM lim)
                       OR cusum_neg > (SELECT h FROM lim)
                     THEN 1 ELSE 0 END AS INT) AS is_shift
    FROM cus
    """,
)
def q_orders_cusum_changepoint(spark, sf_dir):
    """Page (1954) CUSUM level-shift detection on daily revenue —
    the screen that catches sustained shifts the per-day MAD fence
    (orders_anomalous_days) structurally misses: a +5% step never
    trips a daily outlier fence but integrates linearly in the CUSUM.
    Two-sided chart over DETRENDED residuals (±14-day centered
    floor-division trend, the orders_trend_residual_daily idiom) with
    MAD-derived allowance k and decision limit h.

    The clamped Page recursion S_t = max(0, S_{t-1} + x_t - k) is a
    nonlinear scan no window aggregate expresses directly — but it
    factors as S_t = P_t - min_{j<=t} P_j with P the plain prefix sum
    of (x - k): a running sum plus a running min, BOTH ordinary
    ordered windows. Every window runs over the bounded day frame
    keyed by bounded_bucket(day_idx) (calendar-bounded domain — at
    100 TB the frame is still ~37k rows), and the arithmetic is
    integer cents end-to-end (floor-division trend, integer k), so
    the hash gate sees identical bits on both engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..partitioning import bounded_bucket

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.unix_date(F.col("o_orderdate").cast("date")).alias("day_idx"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    wb = Window.partitionBy(bounded_bucket("day_idx"))
    wma = wb.orderBy("day_idx").rangeBetween(-14, 14)
    ma = (
        daily.select(
            "day",
            "day_idx",
            "rev_cents",
            F.sum("rev_cents").over(wma).cast("bigint").alias("__win"),
            F.count(F.lit(1)).over(wma).alias("__n"),
        )
        .withColumn(
            "resid", F.col("rev_cents") - F.expr("__win DIV __n")
        )
        .drop("__win", "__n")
    )
    lim = ma.withColumn(
        "__mad", F.expr("percentile(abs(resid), 0.5)").over(wb)
    ).select(
        "day",
        "day_idx",
        "rev_cents",
        "resid",
        F.floor(0.7413 * F.col("__mad")).cast("bigint").alias("k"),
        F.floor(5 * 1.4826 * F.col("__mad")).cast("bigint").alias("h"),
    )
    word = wb.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = lim.select(
        "day",
        "day_idx",
        "rev_cents",
        "h",
        F.sum(F.col("resid") - F.col("k")).over(word).alias("p_up"),
        F.sum(F.col("resid") + F.col("k")).over(word).alias("p_dn"),
    )
    cus = pre.select(
        "day",
        "rev_cents",
        "h",
        (F.col("p_up") - F.min("p_up").over(word)).alias("cusum_pos"),
        (F.max("p_dn").over(word) - F.col("p_dn")).alias("cusum_neg"),
    )
    return cus.select(
        "day",
        "rev_cents",
        "cusum_pos",
        "cusum_neg",
        F.when(
            (F.col("cusum_pos") > F.col("h"))
            | (F.col("cusum_neg") > F.col("h")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_shift"),
    )
