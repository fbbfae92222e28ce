"""Registry entries: statistics / drift / graph / experiments.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ..operators.sampling import HASH_CHARS, _hash_frac, _rate_threshold
from ..operators.textual import FINGERPRINT_SHINGLE
from ._core import (
    _TOKS,
    _d38,
    _t,
    bounded_bucket,
    register,
)

@register(
    "orders_gini_coefficient",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
                     AS HUGEINT) AS i
      FROM rev
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(x) AS BIGINT) AS total_cents,
           CAST((2 * sum(i * x) - (count(*) + 1) * sum(CAST(x AS HUGEINT)))
                * 1000000
                // (CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT)))
                AS BIGINT) AS gini_ppm
    FROM ranked
    """,
)
def q_orders_gini(spark, sf_dir):
    """Gini coefficient of customer revenue in exact integer ppm —
    the single-number inequality summary completing the
    concentration kit (orders_pareto_8020 gives the covering prefix,
    customer_order_count_distribution the histogram; Gini is what
    goes on the KPI dashboard). Uses the rank-weighted identity
    G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over revenues sorted
    ascending with a deterministic (x, custkey) tiebreak. The rank is
    the DISTRIBUTED two-pass row number (partitioning.ordered_prefix:
    equal-width buckets of x + per-bucket row_number + broadcast
    offsets), so the docstring's own "at a billion customers" sizing
    holds for the PLAN too — no single-partition WindowExec. Every
    term stays in HUGEINT/DECIMAL(38) until the final ppm division.
    i·x peaks at n·max_rev — ~10²³ at a billion customers,
    comfortably inside 38 digits."""
    from pyspark.sql import functions as F

    from ..partitioning import ordered_prefix

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("x")
    )
    ranked = ordered_prefix(
        rev,
        [F.col("x"), F.col("o_custkey")],
        rn_name="i",
    ).select("x", F.col("i").cast("decimal(38,0)").alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("x").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST(((2 * sum(i * x)"
            " - (count(*) + 1) * sum(CAST(x AS DECIMAL(38,0))))"
            " * 1000000)"
            " DIV (CAST(count(*) AS DECIMAL(38,0))"
            " * sum(CAST(x AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "stats_qty_price_independence",
    oracle="""
    WITH banded AS (
      SELECT CASE WHEN l_quantity <= 10 THEN 'low'
                  WHEN l_quantity <= 25 THEN 'mid'
                  ELSE 'high' END AS qty_band,
             CASE WHEN l_extendedprice < 20000 THEN 'cheap'
                  WHEN l_extendedprice < 50000 THEN 'normal'
                  ELSE 'premium' END AS price_band
      FROM lineitem
    ),
    cells AS (
      SELECT qty_band, price_band, CAST(count(*) AS BIGINT) AS o
      FROM banded GROUP BY qty_band, price_band
    ),
    tot AS (
      SELECT qty_band, price_band, o,
             CAST(sum(o) OVER (PARTITION BY qty_band) AS HUGEINT) AS r,
             CAST(sum(o) OVER (PARTITION BY price_band) AS HUGEINT)
               AS c,
             CAST(sum(o) OVER () AS HUGEINT) AS n
      FROM cells
    )
    SELECT qty_band, price_band, o,
           CAST(r * c * 1000 // n AS BIGINT) AS expected_milli,
           CAST((o * n - r * c) * (o * n - r * c) * 1000000
                // (r * c * n) AS BIGINT) AS chi2_contrib_ppm
    FROM tot
    """,
)
def q_stats_independence(spark, sf_dir):
    """Chi-square independence screen on the quantity-band ×
    price-band contingency table — the feature-redundancy test a
    training pipeline runs before crossing two features (a high χ²
    means the cross carries signal; near-zero means one is
    redundant). The whole table derives from ONE fact-sized groupBy:
    row totals, column totals, and the grand total are windows over
    the 9-cell frame, and each cell's χ² contribution uses the
    cross-multiplied form (O·N − R·C)²·10⁶ // (R·C·N) — the
    expected-count fraction never floats, so the driver hash is
    exact (the drift-TV idiom applied to 2-D independence). Band
    edges are integer-comparable literals, identical in both
    engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    banded = li.select(
        F.when(F.col("l_quantity") <= 10, "low")
        .when(F.col("l_quantity") <= 25, "mid")
        .otherwise("high")
        .alias("qty_band"),
        F.when(F.col("l_extendedprice") < 20000, "cheap")
        .when(F.col("l_extendedprice") < 50000, "normal")
        .otherwise("premium")
        .alias("price_band"),
    )
    from ..partitioning import scalar_bucket

    cells = banded.groupBy("qty_band", "price_band").agg(
        F.count(F.lit(1)).alias("o")
    )
    # row/column/grand totals are ALL windows over the bounded 9-cell
    # frame; the grand total rides the non-foldable scalar_bucket key
    # so the frame is scanned once with no persist, no broadcast job,
    # and no "No Partition Defined" warning (the r6 persist +
    # 1-row-cross-join shape regressed the bench 1.59x for exactly
    # that overhead)
    tot = cells.select(
        "qty_band",
        "price_band",
        "o",
        F.sum("o")
        .over(Window.partitionBy("qty_band"))
        .cast("decimal(38,0)")
        .alias("r"),
        F.sum("o")
        .over(Window.partitionBy("price_band"))
        .cast("decimal(38,0)")
        .alias("c"),
        F.sum("o")
        .over(Window.partitionBy(scalar_bucket("qty_band")))
        .cast("decimal(38,0)")
        .alias("n"),
    )
    return tot.select(
        "qty_band",
        "price_band",
        "o",
        F.expr("CAST((r * c * 1000) DIV n AS BIGINT)").alias(
            "expected_milli"
        ),
        F.expr(
            "CAST(((o * n - r * c) * (o * n - r * c) * 1000000)"
            " DIV (r * c * n) AS BIGINT)"
        ).alias("chi2_contrib_ppm"),
    )


@register(
    "events_user_lifecycle_weekly",
    oracle="""
    WITH weeks AS (
      SELECT DISTINCT user_id,
             (date_diff('day', DATE '2023-12-25', CAST(ts AS DATE)))
               // 7 AS week_seq
      FROM events
    ),
    seq AS (
      SELECT user_id, week_seq,
             lag(week_seq) OVER (PARTITION BY user_id
                                 ORDER BY week_seq) AS prev_week,
             lead(week_seq) OVER (PARTITION BY user_id
                                  ORDER BY week_seq) AS next_week,
             max(week_seq) OVER () AS last_week
      FROM weeks
    )
    SELECT week_seq,
           CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN prev_week = week_seq - 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN prev_week < week_seq - 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(sum(CASE WHEN week_seq < last_week
                              AND (next_week IS NULL
                                   OR next_week > week_seq + 1)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churning_after
    FROM seq GROUP BY week_seq
    """,
)
def q_events_user_lifecycle(spark, sf_dir):
    """Growth accounting: every active (user, week) classified as NEW
    (first week ever), RETAINED (active previous week), or
    RESURRECTED (returning after a gap), plus how many of the week's
    actives CHURN after it (no activity next week) — the four series
    behind the growth quick ratio (new+resurrected)/churned. One
    distinct (user, week) reduction of the fact table, then lag AND
    lead over the same per-user ordering (one window exchange), and
    the per-week rollup. The final week can't observe churn yet, so
    churn counting is bounded by the in-data frontier (max week seen
    — the dq_freshness_skew anchoring idiom), keeping the query
    deterministic and oracle-able rather than wall-clock-dependent.
    Monday-anchored integer week sequence, same arithmetic as the
    fiscal-calendar entry."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    week_expr = (
        "CAST(datediff(CAST(ts AS DATE), DATE '2023-12-25')"
        " DIV 7 AS BIGINT)"
    )
    weeks = ev.select(
        "user_id", F.expr(week_expr).alias("week_seq")
    ).distinct()
    by_user = Window.partitionBy("user_id").orderBy("week_seq")
    # Calendar frontier: max(week_seq) over the DISTINCT frame equals
    # the week of max(ts) over the RAW events (the week transform is
    # nondecreasing in ts, and max commutes with any nondecreasing
    # function), so the 1-row branch aggregates a single pruned
    # column straight off the source instead of sharing the
    # data-sized distinct frame. That removes the r6
    # freeze_partitions persist — caching the whole (user, week)
    # frame to serve a 1-row scalar is exactly backwards at 100 TB
    # (and regressed the bench 2.13x); a one-column max scan is
    # map-side combinable and parquet-footer-pushdown-eligible.
    frontier = ev.agg(F.max("ts").alias("__max_ts")).select(
        F.expr(
            "CAST(datediff(CAST(__max_ts AS DATE), DATE '2023-12-25')"
            " DIV 7 AS BIGINT)"
        ).alias("last_week")
    )
    seq = weeks.select(
        "user_id",
        "week_seq",
        F.lag("week_seq").over(by_user).alias("prev_week"),
        F.lead("week_seq").over(by_user).alias("next_week"),
    ).crossJoin(F.broadcast(frontier))
    return seq.groupBy("week_seq").agg(
        F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_week") == F.col("week_seq") - 1, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(F.col("prev_week") < F.col("week_seq") - 1, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
        F.sum(
            F.when(
                (F.col("week_seq") < F.col("last_week"))
                & (
                    F.col("next_week").isNull()
                    | (F.col("next_week") > F.col("week_seq") + 1)
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_churning_after"),
    )


@register(
    "events_hourly_autocorrelation",
    oracle="""
    WITH hourly AS (
      SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24
              + hour(ts)) AS hour_idx,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT x,
             lead(hour_idx) OVER (ORDER BY hour_idx) AS next_idx,
             lead(x) OVER (ORDER BY hour_idx) AS y,
             hour_idx
      FROM hourly
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM pairs WHERE next_idx = hour_idx + 1
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(floor(
             1000.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           ) AS BIGINT) AS acf1_milli
    FROM m
    WHERE n * sxx > sx * sx AND n * syy > sy * sy
    """,
)
def q_events_hourly_acf(spark, sf_dir):
    """Lag-1 autocorrelation of hourly event volume — the
    burstiness/seasonality diagnostic that says whether load
    forecasting is even possible (acf1 ≈ 0: memoryless arrivals;
    near 1000 milli: strong hour-to-hour persistence, provision
    accordingly). Consecutive-hour pairs via a gap-guarded lead
    (the yoy idiom applied at hour grain), Pearson moments as exact
    HUGEINT/DECIMAL(38) sums of integer counts, and the final
    correlation via ÷ and sqrt only — the Sharpe/Wilson determinism
    boundary. Degenerate constant series are excluded by integer
    variance predicates before any float exists. The window runs on
    the hour-level aggregate: ~9k rows per year of data regardless
    of event volume."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (
            F.unix_date(F.col("ts").cast("date")) * 24 + F.hour("ts")
        ).alias("hour_idx")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy(bounded_bucket("hour_idx")).orderBy("hour_idx")
    pairs = hourly.select(
        "hour_idx",
        "x",
        F.lead("hour_idx").over(w).alias("next_idx"),
        F.lead("x").over(w).alias("y"),
    ).where(F.col("next_idx") == F.col("hour_idx") + 1)
    m = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(_d38("x")).alias("sx"),
        F.sum(_d38("y")).alias("sy"),
        F.sum(_d38("x") * _d38("x")).alias("sxx"),
        F.sum(_d38("y") * _d38("y")).alias("syy"),
        F.sum(_d38("x") * _d38("y")).alias("sxy"),
    ).where(
        (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(floor(1000.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)"
        ).alias("acf1_milli"),
    )


@register(
    "orders_anomalous_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    det AS (
      SELECT day, rev_cents,
             rev_cents - CAST(sum(rev_cents) OVER w AS BIGINT)
                         // count(*) OVER w AS residual_cents
      FROM daily
      WINDOW w AS (ORDER BY day_idx
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    fence AS (
      SELECT quantile_cont(abs(residual_cents), 0.5) AS mad
      FROM det
    )
    SELECT d.day, d.rev_cents, d.residual_cents,
           abs(d.residual_cents) > 3 * 1.4826 * f.mad AS is_anomaly
    FROM det d CROSS JOIN fence f
    """,
)
def q_orders_anomalous_days(spark, sf_dir):
    """Seasonally-adjusted anomaly detection — the composition the
    individual entries build toward: de-trend daily revenue with the
    ±3-day centered moving average (orders_trend_residual_daily),
    then fence the RESIDUALS with the MAD robust estimator
    (clean_mad_outliers) instead of raw values — so a normal
    high-revenue Monday is NOT an anomaly but a quiet Monday after
    trend removal IS. Residuals stay integer cents (floor-mean
    trend), the MAD is an exact interpolated percentile of integers,
    and the single fence comparison is the only float — the
    identical expression in both engines. The FULL day frame is
    emitted with the flag (filtering to flagged rows would make
    is_anomaly constant-true and the oracle one-sided — review
    catch); the 1-row fence broadcasts (winsorize's cut-point
    pattern)."""
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
    det = (
        daily.withColumn("__ma_sum", F.sum("rev_cents").over(w))
        .withColumn("__ma_n", F.count(F.lit(1)).over(w))
        .select(
            "day",
            "rev_cents",
            # exact integer moving-average subtraction: DIV on the
            # already-windowed columns (no Column operator for integral
            # divide; floor(double) would lose exactness past 2^53)
            (F.col("rev_cents") - F.expr("__ma_sum DIV __ma_n")).alias(
                "residual_cents"
            ),
        )
    )
    # whole-frame window instead of agg + crossJoin (r14, guide §2.1):
    # det has one row per DAY, so its cardinality is date-range-bounded
    # (~thousands of rows at ANY data scale) and a single-partition
    # window over it is safe — while the former fence aggregate was a
    # SECOND consumer of det that re-ran the full orders scan + day
    # aggregate + two window passes (the r14 plan held the identical
    # 13-node chain under both BroadcastNestedLoopJoin branches). Same exact percentile over the same rows, same float
    # fence expression — oracle hash-identical. scalar_bucket keeps
    # the partition spec non-empty (one partition for every row at
    # every scale) so WindowExec's no-partition warning stays out of
    # the bench tail.
    from ..partitioning import scalar_bucket

    mad = F.expr("percentile(abs(residual_cents), 0.5)").over(
        Window.partitionBy(scalar_bucket("day"))
    )
    return det.select(
        "day",
        "rev_cents",
        "residual_cents",
        (F.abs(F.col("residual_cents")) > 3 * 1.4826 * mad).alias(
            "is_anomaly"
        ),
    )


@register(
    "documents_source_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks
               FROM documents WHERE text IS NOT NULL),
    sh AS (
      SELECT source,
             [array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+{FINGERPRINT_SHINGLE - 1}], ' ')
              for i in range(1, greatest(len(toks)-{FINGERPRINT_SHINGLE - 1}, 1)+1)] AS shingles
      FROM t
    ),
    sigs AS (
      SELECT DISTINCT source,
             list_min(list_transform(shingles, x -> md5(x))) AS fp
      FROM sh
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_fps
      FROM sigs GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sigs a JOIN sigs b
        ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
           CAST(n_common * 1000000
                // (sa.n_fps + sb.n_fps - n_common) AS BIGINT)
             AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def q_documents_source_overlap(spark, sf_dir):
    """Provenance-overlap matrix: pairwise Jaccard (in integer ppm)
    between sources' winnowing-fingerprint sets (min shingle-hash =
    1-permutation MinHash, operators/textual.py:fingerprint) — the
    corpus-curation audit that answers 'which feeds are re-crawling
    each other?' before dedup budgets are set. Fingerprints rather
    than exact sha256 digests because near-duplicates across feeds
    rarely match byte-for-byte (this corpus has ZERO exact
    cross-source copies — an exact-digest matrix is vacuously empty,
    the round-3 vacuous-oracle lesson) while shared min-shingles
    surface the real overlap. Only 32-byte fingerprints travel: the
    co-partitioned self-join carries keys, never documents, and only
    colliding pairs reach the aggregate — cost is the collision
    count, not sources²·docs.
    Set sizes broadcast back onto the pair frame. The fingerprint
    subtree is materialize()d: it has THREE consumers (sizes + both
    self-join sides), and without the cut each re-runs the tokenize →
    shingle → min-hash pipeline over the corpus — the identical
    3-consumer situation minhash_lsh_pairs materializes for
    (operators/dedup.py, measured 3.6x there; r3 verdict item 4)."""
    from pyspark.sql import functions as F

    from ..operators.textual import fingerprint
    from ..partitioning import freeze_partitions

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    fps = fingerprint(d).select("doc_id", "winnow_fp")
    # pinned: measured on 4 vCPUs, 3 interleaved runs per arm, pin vs
    # none: wall 0.93 vs 4.17 s and JVM CPU 3.0 vs 7.1 s at sf0.1,
    # 2.53 vs 39.06 s and 8.3 vs 50.0 s at 10x
    sigs = freeze_partitions(
        d.select("doc_id", "source")
        .join(fps, "doc_id")
        .select("source", F.col("winnow_fp").alias("fp"))
        .distinct()
    )
    sizes = sigs.groupBy("source").agg(F.count(F.lit(1)).alias("n_fps"))
    a, b = sigs.alias("a"), sigs.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_fps").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_fps").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.expr(
                "CAST(n_common * 1000000 DIV (na + nb - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


@register(
    "embedding_dim_variance_ranking",
    oracle="""
    WITH vals AS (
      SELECT u.i AS dim,
             CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS v
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u
    ),
    m AS (
      SELECT dim, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      FROM vals GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(s1 // n AS BIGINT) AS mean_micro,
           CAST((n * s2 - s1 * s1) // (n * n) AS BIGINT) AS var_micro2,
           CAST(row_number() OVER (
             ORDER BY (n * s2 - s1 * s1) // (n * n) DESC, dim)
             AS INT) AS variance_rank
    FROM m
    """,
)
def q_embedding_dim_variance(spark, sf_dir):
    """Per-dimension variance ranking of the embedding space — the
    feature-selection / PCA-screening pass (low-variance dimensions
    carry no signal and are truncation candidates; see
    embedding_pca_power_iter for the rotated version). Float
    handling is the deliberate lesson: float32 → decimal casts go
    through SHORTEST-STRING in Spark but exact binary in DuckDB and
    silently disagree, so values are quantized with floor(x·10⁶) on
    the (exactly-widened) double — floor is deterministic on
    identical doubles where round() can straddle a half-ulp — and
    all moments then ride HUGEINT/DECIMAL(38) exactly. posexplode
    keys the single shuffle by the 64 dimension ids; the ranking
    window runs over 64 rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "embeddings")
    vals = e.select(
        F.posexplode("embedding").alias("pos", "val")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.expr(
            "CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT)"
        ).alias("v"),
    )
    m = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(_d38("v")).alias("s1"),
        F.sum(_d38("v") * _d38("v")).alias("s2"),
    )
    var = F.expr("(n * s2 - s1 * s1) DIV (n * n)")
    return m.select(
        F.col("dim").cast("int").alias("dim"),
        F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_micro"),
        var.cast("bigint").alias("var_micro2"),
        F.row_number()
        .over(Window.partitionBy(bounded_bucket("dim")).orderBy(var.desc(), "dim"))
        .cast("int")
        .alias("variance_rank"),
    )


@register(
    "text_code_detection",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[{{}}]')) AS BIGINT)
               AS n_braces,
             CAST(len(regexp_extract_all(text, ';')) AS BIGINT)
               AS n_semis,
             CAST(len(regexp_extract_all(text, '\\n  ')) AS BIGINT)
               AS n_indents
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, n_tokens, n_braces, n_semis, n_indents,
           CAST((n_braces * 3 + n_semis * 2 + n_indents) * 1000
                // (n_tokens + 1) AS BIGINT) AS code_score_milli,
           ((n_braces * 3 + n_semis * 2 + n_indents) * 1000
            > 50 * (n_tokens + 1)) AS is_code
    FROM c
    """,
)
def q_text_code_detection(spark, sf_dir):
    """Code-vs-prose detection — the content-type router every
    pretraining pipeline needs before lang-ID or quality scoring
    (code must not be punished by prose heuristics, and code/text
    mixture ratios are a top-level corpus knob beside
    sample_domain_mixture). The signal is a weighted density of
    syntax markers — braces, semicolons, and indented-line starts
    (counted as literal newline-space bigrams so no multiline regex
    dialect is involved) — over the shared tokenizer's count, scaled
    to integer milli with the +1-smoothed denominator. Pure
    projection: zero shuffles, pushes to the scan, and the
    cross-multiplied threshold keeps the flag float-free like every
    classifier gate in this registry."""
    from pyspark.sql import functions as F

    from ..operators.textual import tokens

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    c = d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '[{}]', 0)) AS BIGINT)"
        ).alias("n_braces"),
        F.expr(
            "CAST(size(regexp_extract_all(text, ';', 0)) AS BIGINT)"
        ).alias("n_semis"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '\\n  ', 0)) AS BIGINT)"
        ).alias("n_indents"),
    )
    score = (
        F.col("n_braces") * 3 + F.col("n_semis") * 2 + F.col("n_indents")
    ) * 1000
    return c.select(
        "doc_id",
        "n_tokens",
        "n_braces",
        "n_semis",
        "n_indents",
        F.expr(
            "CAST(((n_braces * 3 + n_semis * 2 + n_indents) * 1000)"
            " DIV (n_tokens + 1) AS BIGINT)"
        ).alias("code_score_milli"),
        (score > 50 * (F.col("n_tokens") + 1)).alias("is_code"),
    )


@register(
    "orders_segment_migration_matrix",
    oracle="""
    WITH half AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 'p1' ELSE 'p2' END AS period,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    seg AS (
      SELECT o_custkey, period,
             CAST(ntile(4) OVER (PARTITION BY period
                                 ORDER BY rev_cents, o_custkey)
                  AS INT) AS quartile
      FROM half
    ),
    mat AS (
      SELECT a.quartile AS q_before, b.quartile AS q_after,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM seg a JOIN seg b
        ON a.o_custkey = b.o_custkey
       AND a.period = 'p1' AND b.period = 'p2'
      GROUP BY 1, 2
    )
    SELECT q_before, q_after, n_customers,
           CAST(n_customers * 1000000
                // sum(n_customers) OVER (PARTITION BY q_before)
                AS BIGINT) AS row_share_ppm
    FROM mat
    """,
)
def q_orders_segment_migration(spark, sf_dir):
    """Segment migration matrix: customers quartiled by revenue in
    each half of the corpus (before/after 1998, its midpoint), then the transition
    counts between quartiles with per-origin shares in integer ppm —
    the value-migration readout (are Q4 whales sticky? where do Q1
    customers go?) that complements the event-level Markov entry
    (events_markov_transitions) with an ENTITY-level transition
    matrix. Quartile assignment uses the deterministic ntile
    tiebreak (features_ntile_bins); the self-join matches each
    customer's two period rows on the aggregated frame (one row per
    customer per period, shuffled on o_custkey); only customers
    active in BOTH halves appear — entries/exits are the lifecycle
    entry's concern."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    half = o.groupBy(
        "o_custkey",
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
            "p1",
        )
        .otherwise("p2")
        .alias("period"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    seg = half.select(
        "o_custkey",
        "period",
        F.ntile(4)
        .over(
            Window.partitionBy("period").orderBy("rev_cents", "o_custkey")
        )
        .cast("int")
        .alias("quartile"),
    )
    # single-pass pivot: one scan, no self-join — filtering seg into
    # two branches and joining would re-execute the fact groupBy and
    # the ntile window once per branch (review catch)
    mat = (
        seg.groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("period") == "p1", F.col("quartile"))
            ).alias("q_before"),
            F.max(
                F.when(F.col("period") == "p2", F.col("quartile"))
            ).alias("q_after"),
        )
        .where(
            F.col("q_before").isNotNull() & F.col("q_after").isNotNull()
        )
        .groupBy("q_before", "q_after")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return mat.select(
        "q_before",
        "q_after",
        "n_customers",
        F.expr(
            "CAST(n_customers * 1000000"
            " DIV (sum(n_customers) OVER (PARTITION BY q_before))"
            " AS BIGINT)"
        ).alias("row_share_ppm"),
    )


@register(
    "events_overdispersion_fano",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24
              + hour(ts)) AS hour_idx,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM hourly GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(s1 // n AS BIGINT) AS mean_per_hour,
           CAST(((n * s2 - s1 * s1) * 1000) // (n * s1) AS BIGINT)
             AS fano_milli
    FROM m
    WHERE s1 > 0
    """,
)
def q_events_fano(spark, sf_dir):
    """Overdispersion (Fano factor, variance/mean of hourly arrival
    counts) per event type in integer milli — 1000 means Poisson
    arrivals (provision for the mean), substantially more means
    clumped traffic (provision for bursts; see
    events_burst_detection for the per-event flag and
    events_hourly_autocorrelation for temporal persistence — the
    three together are the arrival-process profile). Counts are
    integers, so variance/mean reduces algebraically to the SINGLE
    integral division (n·Σx²−(Σx)²)·1000 // (n·Σx) — one floor at
    the end, never a floored intermediate (a floored mean in the
    divisor biases the factor by up to the mean's fractional part —
    a round-3 review catch) — float-free end to end. Two stacked aggregates, hour
    grain then type grain."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            F.unix_date(F.col("ts").cast("date")) * 24 + F.hour("ts")
        ).alias("hour_idx"),
    ).agg(F.count(F.lit(1)).alias("x"))
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(_d38("x")).alias("s1"),
        F.sum(_d38("x") * _d38("x")).alias("s2"),
    )
    return m.where(F.col("s1") > 0).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_per_hour"),
        F.expr(
            "CAST(((n * s2 - s1 * s1) * 1000) DIV (n * s1) AS BIGINT)"
        ).alias("fano_milli"),
    )


@register(
    "orders_runs_test_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT quantile_disc(rev_cents, 0.5) AS med FROM daily
    ),
    signs AS (
      SELECT CASE WHEN d.rev_cents > m.med THEN 1 ELSE 0 END AS s,
             lag(CASE WHEN d.rev_cents > m.med THEN 1 ELSE 0 END)
               OVER (ORDER BY d.day_idx) AS prev_s
      FROM daily d CROSS JOIN med m
    )
    SELECT CAST(sum(s) AS BIGINT) AS n_above,
           CAST(sum(1 - s) AS BIGINT) AS n_below,
           CAST(1 + sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
           CAST((2 * sum(CAST(s AS HUGEINT)) * sum(1 - s) * 1000)
                // (sum(s) + sum(1 - s)) + 1000 AS BIGINT)
             AS expected_runs_milli
    FROM signs
    """,
)
def q_orders_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test on daily revenue vs its median — the
    nonparametric randomness check (too FEW sign runs = trending /
    autocorrelated series, too MANY = oscillating), the hypothesis-
    test reading of what events_hourly_autocorrelation measures
    parametrically. The median cut uses quantile_disc (an actual
    data value, no interpolation), the sign sequence's run count is
    a lag-compare sum over one day-ordered window, and the expected
    run count 2·n₁·n₂/(n₁+n₂)+1 is emitted in integer milli —
    everything integer end-to-end. The 1-row median broadcasts onto
    the day frame (winsorize's pattern, allowlisted in the plan
    audit); the window runs over the day-level aggregate."""
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
    # whole-frame window instead of agg + broadcast crossJoin (r14,
    # guide §2.1, the orders_anomalous_days pattern): daily is one row
    # per DAY — calendar-bounded at any volume — and the former median
    # aggregate was a SECOND consumer of it that re-ran the orders
    # scan + day aggregate. The median window shares the
    # bounded_bucket(day_idx) partition with the lag window, so both
    # ride ONE exchange. Same percentile_disc over the same rows.
    wp = Window.partitionBy(bounded_bucket("day_idx"))
    med = F.expr(
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY rev_cents)"
    ).over(wp)
    s = F.when(F.col("rev_cents") > med, 1).otherwise(0)
    signs = daily.select("day_idx", s.alias("s"))
    w = wp.orderBy("day_idx")
    signs = signs.select("s", F.lag("s").over(w).alias("prev_s"))
    return signs.agg(
        F.sum("s").cast("bigint").alias("n_above"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n_below"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_runs"),
        F.expr(
            "CAST((2 * sum(CAST(s AS DECIMAL(38,0))) * sum(1 - s)"
            " * 1000) DIV (sum(s) + sum(1 - s)) + 1000 AS BIGINT)"
        ).alias("expected_runs_milli"),
    )


@register(
    "drift_value_mann_whitney",
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
    scan AS (
      SELECT CAST(c1 AS HUGEINT) AS c1, CAST(c2 AS HUGEINT) AS c2,
             CAST(coalesce(sum(c2) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS HUGEINT) AS cum2_prev
      FROM per_value
    )
    SELECT CAST(sum(c1) AS BIGINT) AS n1,
           CAST(sum(c2) AS BIGINT) AS n2,
           CAST(sum(c1 * (2 * cum2_prev + c2)) AS BIGINT) AS u2,
           CAST(sum(c1) * sum(c2) AS BIGINT) AS u2_expected
    FROM scan
    """,
)
def q_drift_mann_whitney(spark, sf_dir):
    """Mann–Whitney U between the two January halves' value
    distributions — the rank-based LOCATION-shift test completing
    the nonparametric drift kit (KS = max ECDF gap, any shape
    change; runs test = temporal randomness; U = 'did the median
    move'). Computed tie-correctly in DOUBLED units so it stays
    integer: over distinct values ascending,
    2U = Σ c₁·(2·cum₂_prev + c₂) — each sample-1 point scores 2 per
    smaller sample-2 point and 1 per tie — with E[2U] = n₁·n₂ as
    the no-shift reference emitted beside it. Same per-distinct-
    value ECDF skeleton as drift_value_ks_distance — and the same
    DISTRIBUTED scan: partitioning.ordered_prefix with
    ``exclusive=True`` gives the strictly-preceding cum₂ directly
    (value buckets + per-bucket prefix + broadcast offsets, no
    single-partition WindowExec).
    Everything HUGEINT/DECIMAL(38)."""
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
    scan = ordered_prefix(
        per_value,
        [F.col("value")],
        sum_cols=["c2"],
        exclusive=True,
    ).select(
        F.col("c1").cast("decimal(38,0)").alias("c1"),
        F.col("c2").cast("decimal(38,0)").alias("c2"),
        F.col("run_c2").cast("decimal(38,0)").alias("cum2_prev"),
    )
    return scan.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum2_prev") + F.col("c2")))
        .cast("bigint")
        .alias("u2"),
        F.expr("CAST(sum(c1) * sum(c2) AS BIGINT)").alias("u2_expected"),
    )


@register(
    "lineitem_discount_did",
    oracle="""
    WITH cells AS (
      SELECT (l_discount >= 0.05) AS treated,
             (l_shipdate >= TIMESTAMP '1998-01-01') AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000
                           AS BIGINT)) AS BIGINT) AS qty_micro
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT treated, post, n, qty_micro // n AS mean_micro FROM cells
    )
    SELECT
      CAST(max(CASE WHEN treated AND post THEN mean_micro END)
           AS BIGINT) AS treated_post,
      CAST(max(CASE WHEN treated AND NOT post THEN mean_micro END)
           AS BIGINT) AS treated_pre,
      CAST(max(CASE WHEN NOT treated AND post THEN mean_micro END)
           AS BIGINT) AS control_post,
      CAST(max(CASE WHEN NOT treated AND NOT post THEN mean_micro END)
           AS BIGINT) AS control_pre,
      CAST((max(CASE WHEN treated AND post THEN mean_micro END)
            - max(CASE WHEN treated AND NOT post THEN mean_micro END))
           - (max(CASE WHEN NOT treated AND post THEN mean_micro END)
              - max(CASE WHEN NOT treated AND NOT post
                    THEN mean_micro END)) AS BIGINT) AS did_micro
    FROM m
    """,
)
def q_lineitem_discount_did(spark, sf_dir):
    """Difference-in-differences: the 2×2 causal-inference primitive —
    mean quantity for discounted (≥5%) vs undiscounted lines, before
    vs after 1998, and the DiD estimate (treated post−pre minus
    control post−pre), which nets out both the group baseline and
    the common time trend that a naive post-vs-pre comparison
    conflates. All four cell means are integer micro floor-divisions
    from exact sums (quantities lifted to micro via the decimal
    path), so the estimate is bit-identical across engines — the
    observational-data caveat (discounting isn't randomized) is the
    analyst's problem, the engine's job is the exact cells. ONE
    fact-sized groupBy over 4 cells (map-side combinable), then a
    4-row pivot projection."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        (F.col("l_discount") >= 0.05).alias("treated"),
        (
            F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
        ).alias("post"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("l_quantity").cast("decimal(18,6)") * 1000000).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("qty_micro"),
    )
    m = cells.select(
        "treated", "post", F.expr("qty_micro DIV n").alias("mean_micro")
    )
    cell = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p),
               F.col("mean_micro"))
    )
    return m.agg(
        cell(True, True).cast("bigint").alias("treated_post"),
        cell(True, False).cast("bigint").alias("treated_pre"),
        cell(False, True).cast("bigint").alias("control_post"),
        cell(False, False).cast("bigint").alias("control_pre"),
        (
            (cell(True, True) - cell(True, False))
            - (cell(False, True) - cell(False, False))
        )
        .cast("bigint")
        .alias("did_micro"),
    )


@register(
    "events_activation_depth",
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
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN session_seq = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS first_depth,
             max(CASE WHEN session_seq = 1 AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS converted_first,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      FROM s GROUP BY user_id
    )
    SELECT CASE WHEN first_depth = 1 THEN '1'
                WHEN first_depth <= 3 THEN '2-3'
                WHEN first_depth <= 7 THEN '4-7'
                ELSE '8+' END AS depth_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted_first) AS BIGINT) AS n_converted_first,
           CAST(sum(converted_first) * 1000000 // count(*) AS BIGINT)
             AS first_conversion_ppm,
           CAST(sum(n_purchases) * 1000 // count(*) AS BIGINT)
             AS lifetime_purchases_milli
    FROM per_user GROUP BY 1
    """,
)
def q_events_activation_depth(spark, sf_dir):
    """Activation analysis: does FIRST-session depth predict
    conversion? Users bucket by how many events their first session
    contained (the 'aha-moment' depth product teams tune onboarding
    toward), each band reporting its FIRST-SESSION purchase rate in
    integer ppm plus mean lifetime purchases in milli. First-session
    conversion rather than a lifetime-ever flag because on this
    corpus nearly every user eventually purchases — a lifetime flag
    is constant 1 and the oracle stops discriminating (the review's
    non-discriminating-oracle catch; same family as the vacuous-
    zero-row lesson). Reuses the canonical session labeling
    (operators/events.py:label_sessions — the same rule the
    sessionize and path-mining entries share), so a change to the
    gap definition propagates here automatically. One user-keyed
    window pass, a per-user reduction (first-session depth +
    lifetime-conversion flag in the SAME aggregate — no second scan),
    and a 4-band rollup. The observational caveat is the DiD entry's
    lesson: this ranks bands, it doesn't prove causation."""
    from pyspark.sql import functions as F

    from ..operators.events import label_sessions

    s = label_sessions(_t(spark, sf_dir, "events"), 30)
    per_user = s.groupBy("user_id").agg(
        F.sum(F.when(F.col("session_seq") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("first_depth"),
        F.max(
            F.when(
                (F.col("session_seq") == 1)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        ).alias("converted_first"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_purchases"),
    )
    band = (
        F.when(F.col("first_depth") == 1, "1")
        .when(F.col("first_depth") <= 3, "2-3")
        .when(F.col("first_depth") <= 7, "4-7")
        .otherwise("8+")
    )
    return per_user.groupBy(band.alias("depth_band")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted_first").cast("bigint").alias("n_converted_first"),
        F.expr(
            "CAST(sum(converted_first) * 1000000 DIV count(*)"
            " AS BIGINT)"
        ).alias("first_conversion_ppm"),
        F.expr(
            "CAST(sum(n_purchases) * 1000 DIV count(*) AS BIGINT)"
        ).alias("lifetime_purchases_milli"),
    )


@register(
    "events_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                            AS BIGINT) // 1000 ELSE 0 END)
                  AS BIGINT) AS pre,
             CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                  THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                            AS BIGINT) // 1000 ELSE 0 END)
                  AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(pre AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(post AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS sxx,
             CAST(sum(CAST(post AS HUGEINT) * post) AS HUGEINT) AS syy,
             CAST(sum(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS sxy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx)
                AS BIGINT) AS theta_milli,
           CAST((((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx))
                 * 1000 * (n * sxy - sx * sy))
                // (n * syy - sy * sy)
                AS BIGINT) AS var_reduction_ppm
    FROM m
    WHERE n * sxx > sx * sx AND n * syy > sy * sy
    """,
)
def q_events_cuped(spark, sf_dir):
    """CUPED (controlled experiments using pre-experiment data): the
    variance-reduction workhorse of modern A/B platforms. Each
    user's pre-period value (first January half) serves as covariate
    for their post-period metric; the optimal adjustment coefficient
    θ = Cov(pre, post)/Var(pre) and the achievable variance
    reduction (= corr², the fraction of metric noise the covariate
    explains — directly the experiment-runtime savings) both emerge
    from the SAME five moment sums, all exact HUGEINT/DECIMAL(38)
    over MILLI-lifted values — milli, not the usual micro, because
    the reduction's squared centered cross-moment must stay inside
    128-bit/38-digit range (at billions of users, compute θ and
    corr² from pre-divided moments instead) — finished by integral
    divisions: θ in
    milli as (n·Sxy−SxSy)·1000 // (n·Sxx−Sx²) and the reduction in
    ppm as the cross-multiplied corr² — NO float exists anywhere,
    unlike the Sharpe/ACF entries which need sqrt. One per-user
    reduction (pre and post in a single conditional aggregate) and
    one global moment row."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    # micro lift is always integral for DECIMAL(18,6); the milli
    # reduction is then an integer DIV — a direct *1000 cast would
    # round in DuckDB but truncate in Spark on >3-decimal values
    v_milli = F.expr(
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
        " DIV 1000"
    )
    is_pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(is_pre, v_milli).otherwise(0))
        .cast("bigint")
        .alias("pre"),
        F.sum(F.when(~is_pre, v_milli).otherwise(0))
        .cast("bigint")
        .alias("post"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(_d38("pre")).alias("sx"),
        F.sum(_d38("post")).alias("sy"),
        F.sum(_d38("pre") * _d38("pre")).alias("sxx"),
        F.sum(_d38("post") * _d38("post")).alias("syy"),
        F.sum(_d38("pre") * _d38("post")).alias("sxy"),
    ).where(
        (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000"
            " DIV (n * sxx - sx * sx) AS BIGINT)"
        ).alias("theta_milli"),
        # Divide-FIRST corr^2: ppm = (theta_milli * 1000 * C) DIV Vy
        # rather than (C^2 * 10^6) DIV (Vx * Vy). The joint form
        # squares the centered cross-moment C, which scales with
        # (rows x value)^2 and burst Decimal(38,0) at the 5x sweep
        # corpus (C^2 * 10^6 ~ 3e40 — the r7 full-registry sf0.5
        # sweep's catch); the factored form caps intermediates at
        # ~10^6 * Vy (n^2-scaled, good past 10^15 users) and both
        # engines replay the identical truncation order, so the
        # oracle stays bit-exact.
        F.expr(
            "CAST((((n * sxy - sx * sy) * 1000"
            " DIV (n * sxx - sx * sx))"
            " * 1000 * (n * sxy - sx * sy))"
            " DIV (n * syy - sy * sy)"
            " AS BIGINT)"
        ).alias("var_reduction_ppm"),
    )


@register(
    "events_srm_check",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, {HASH_CHARS})
                       < '{_rate_threshold(0.5)}'
                  THEN 'A' ELSE 'B' END AS arm,
             user_id
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM assigned
    )
    SELECT n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b)
                AS BIGINT) AS srm_chi2_milli,
           ((n_a - n_b) * (n_a - n_b) * 1000
            > 3841 * (n_a + n_b)) AS srm_alarm
    FROM counts
    """,
)
def q_events_srm_check(spark, sf_dir):
    """Sample-ratio mismatch — the first health check of any A/B
    readout (an assignment that should be 50/50 but isn't means the
    experiment is broken BEFORE you look at metrics; CUPED and DiD
    readings are void under SRM). Users are assigned by the md5-hash
    idiom (sample_hash_split — deterministic, retry-stable), and the
    1-degree-of-freedom χ² = (n_A−n_B)²/(n_A+n_B) is emitted in
    integer milli with the alarm as the cross-multiplied comparison
    against the 3.841 critical value (p < 0.05) — alarm boundary
    exact in both engines, no float anywhere. Here the hash split is
    genuinely balanced, so this entry also doubles as a property
    check on the splitter itself: a biased hash WOULD trip the
    alarm. One distinct + one global aggregate row."""
    from pyspark.sql import functions as F

    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    arm = F.when(
        _hash_frac(F.col("user_id")) < _rate_threshold(0.5), "A"
    ).otherwise("B")
    counts = users.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return counts.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST((n_a - n_b) * (n_a - n_b) * 1000 DIV (n_a + n_b)"
            " AS BIGINT)"
        ).alias("srm_chi2_milli"),
        (
            (F.col("n_a") - F.col("n_b"))
            * (F.col("n_a") - F.col("n_b"))
            * 1000
            > 3841 * (F.col("n_a") + F.col("n_b"))
        ).alias("srm_alarm"),
    )


@register(
    "events_power_analysis_mde",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                           AS BIGINT) // 1000) AS BIGINT) AS metric
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(metric AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(metric AS HUGEINT) * metric) AS HUGEINT)
               AS s2
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(s1 // n AS BIGINT) AS mean_milli,
           CAST(floor(
             2.8 * sqrt(2.0
               * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
               / (CAST(n AS DOUBLE) / 2))
           ) AS BIGINT) AS mde_milli
    FROM m WHERE n * s2 > s1 * s1 AND n > 1
    """,
)
def q_events_power_mde(spark, sf_dir):
    """Power analysis: the minimal detectable effect for a 50/50
    experiment on the per-user value metric at 80% power / 5% α —
    MDE = (z_{α/2}+z_{power})·√(2σ²/(n/2)) with the 2.8 constant —
    the experiment-sizing number read BEFORE launch that CUPED's
    variance reduction then shrinks (mde·√(1−corr²)) and SRM guards
    after launch. Variance comes from exact HUGEINT moments of
    milli-lifted per-user sums; the finish is ÷ and sqrt only on
    doubles cast from those exact integers (the Sharpe/Wilson
    determinism boundary), floored to integer milli. Degenerate
    inputs (constant metric, single user) are excluded by integer
    predicates. One per-user reduction + one moment row."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
                " DIV 1000"
            )
        )
        .cast("bigint")
        .alias("metric")
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(_d38("metric")).alias("s1"),
        F.sum(_d38("metric") * _d38("metric")).alias("s2"),
    ).where(
        (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
        & (F.col("n") > 1)
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_milli"),
        F.expr(
            "CAST(floor(2.8 * sqrt(2.0"
            " * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))"
            " / (CAST(n AS DOUBLE) / 2))) AS BIGINT)"
        ).alias("mde_milli"),
    )


@register(
    "events_stickiness_dau_mau",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    contrib AS (
      SELECT (day + r.i * INTERVAL 1 DAY) AS m_day, user_id
      FROM seen CROSS JOIN (SELECT unnest(range(0, 30)) AS i) r
    ),
    mau AS (
      SELECT m_day AS day, count(DISTINCT user_id) AS mau
      FROM contrib GROUP BY m_day
    ),
    dau AS (
      SELECT day, count(*) AS dau FROM seen GROUP BY day
    )
    SELECT d.day, d.dau, m.mau,
           CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN mau m USING (day)
    """,
)
def q_events_stickiness(spark, sf_dir):
    """DAU/MAU stickiness — the engagement KPI (what fraction of the
    month's actives show up on a given day; 1 000 000 ppm = everyone
    daily). Extends the events_dau_wau machinery from a 7- to a
    30-day trailing COUNT DISTINCT via the same contribution
    explosion — exact sliding distincts don't decompose into window
    frames, so each (user, day) activity fans out to the 30 window
    days it keeps the user counted in, and one groupBy counts
    distincts; shuffle volume is 30× the DISTINCT (user, day) pairs,
    still tiny against raw events. The ratio is integral ppm. The
    first 29 days carry partial windows by construction — reported,
    not dropped, identically in both engines."""
    from pyspark.sql import functions as F

    seen = (
        _t(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    # DAU rides the SAME aggregate (r14, guide §2.1, the
    # events_dau_wau pattern): the i=0 contribution rows of a window
    # day are exactly that day's distinct (user, day) pairs, so
    # counting them IS the DAU — the former separate dau aggregate
    # re-ran the events scan + distinct and met mau in a join.
    # ``dau > 0`` keeps the old inner-join semantics.
    contrib = seen.select(
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"),
        "day",
        "user_id",
    )
    return (
        contrib.groupBy(F.date_add("day", F.col("i")).alias("day"))
        .agg(
            F.count(F.when(F.col("i") == 0, 1)).alias("dau"),
            F.count_distinct("user_id").alias("mau"),
        )
        .where(F.col("dau") > 0)
        .select(
            "day",
            "dau",
            "mau",
            F.expr("CAST(dau * 1000000 DIV mau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
    )


@register(
    "orders_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                         AS VARCHAR), 1, 1) AS d
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT d AS first_digit,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) * 1000000 // sum(count(*)) OVER ()
                AS BIGINT) AS share_ppm
    FROM digits GROUP BY d
    """,
)
def q_orders_benford(spark, sf_dir):
    """Benford first-digit screening of order totals — the classic
    forensic-accounting scan (fabricated amounts over-represent
    high first digits; organic multiplicative data tracks
    log10(1+1/d)). The digit is extracted from the STRING of the
    floored integer part — never from log10 (libm) and never by
    formatting a float (engines disagree on float rendering;
    integer-to-string is identical everywhere) — and shares are
    integral ppm over the 9-row digit frame. Note the honest caveat
    a screening tool must carry: bounded synthetic distributions
    (like this corpus's uniform-ish totals) legitimately deviate
    from Benford; the entry reports the distribution, the analyst
    supplies the reference. One map-side-combinable groupBy."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.expr(
            "substr(CAST(CAST(floor(o_totalprice) AS BIGINT)"
            " AS STRING), 1, 1)"
        ).alias("d")
    )
    from pyspark.sql import Window

    from ..partitioning import scalar_bucket

    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    # grand total over the <=9-row digit frame rides the non-foldable
    # scalar_bucket key — same result as sum(n) OVER (), but the
    # window keeps a partition spec so the single-partition WindowExec
    # warning never fires (this was the last entry emitting it — the
    # r7 full-registry sweep's catch; bench's headline never ran it)
    total = F.sum("n").over(Window.partitionBy(scalar_bucket("d")))
    return counts.withColumn("__total", total).select(
        F.col("d").alias("first_digit"),
        "n",
        F.expr("CAST(n * 1000000 DIV __total AS BIGINT)").alias(
            "share_ppm"
        ),
    )



@register(
    "embedding_drift_split",
    oracle="""
    WITH vals AS (
      SELECT vec_id % 2 AS cohort, u.i AS dim,
             CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS v
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u
    ),
    m AS (
      SELECT cohort, dim, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s1
      FROM vals GROUP BY cohort, dim
    ),
    pair AS (
      SELECT a.dim,
             CAST(a.s1 // a.n AS BIGINT) AS mean_a_micro,
             CAST(b.s1 // b.n AS BIGINT) AS mean_b_micro
      FROM m a JOIN m b ON a.dim = b.dim
      WHERE a.cohort = 0 AND b.cohort = 1
    )
    SELECT CAST(dim AS INT) AS dim, mean_a_micro, mean_b_micro,
           abs(mean_a_micro - mean_b_micro) AS shift_abs_micro,
           CAST(row_number() OVER (
             ORDER BY abs(mean_a_micro - mean_b_micro) DESC, dim)
             AS INT) AS drift_rank
    FROM pair
    """,
)
def q_embedding_drift_split(spark, sf_dir):
    """Embedding-population drift monitor — the retraining gate an
    embedding pipeline runs when the encoder or the corpus changes:
    per-dimension mean shift between two cohorts (vec_id parity
    stands in for before/after populations), ranked by absolute
    shift. The float lesson rides the dim-variance entry's idiom:
    floor(x·10⁶) micro-quantization on exactly-widened doubles, then
    all moments in exact integers — no float summation order
    anywhere. One posexplode shuffle keyed by (cohort, dim) — 128
    groups at any corpus size — then a 64-row self-join and ranking
    window. Production swaps the parity split for a snapshot-date
    column; per-dim variance (for a z-scored shift) composes from
    embedding_dim_variance_ranking."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "embeddings")
    vals = e.select(
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "cohort",
        (F.col("pos") + 1).alias("dim"),
        F.expr("CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT)").alias(
            "v"
        ),
    )
    m = vals.groupBy("cohort", "dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s1"),
    )
    a = m.where(F.col("cohort") == 0).select(
        "dim", F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_a_micro")
    )
    b = m.where(F.col("cohort") == 1).select(
        "dim", F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_b_micro")
    )
    pair = a.join(b, "dim").withColumn(
        "shift_abs_micro",
        F.abs(F.col("mean_a_micro") - F.col("mean_b_micro")),
    )
    w = Window.partitionBy(bounded_bucket("dim")).orderBy(
        F.col("shift_abs_micro").desc(), F.col("dim")
    )
    return pair.select(
        F.col("dim").cast("int").alias("dim"),
        "mean_a_micro",
        "mean_b_micro",
        "shift_abs_micro",
        F.row_number().over(w).cast("int").alias("drift_rank"),
    )


_CORR_COLS = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_c", "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
    ("disc_bp", "CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)"),
    ("tax_bp", "CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)"),
]
_CORR_PAIRS = [
    (a, b)
    for i, (a, _) in enumerate(_CORR_COLS)
    for b, _ in [c for c in _CORR_COLS[i + 1 :]]
]


def _corr_oracle() -> str:
    cols = ", ".join(f"{expr} AS {n}" for n, expr in _CORR_COLS)
    moments = ", ".join(
        f"CAST(sum(CAST({n} AS HUGEINT)) AS HUGEINT) AS s_{n}, "
        f"CAST(sum(CAST({n} AS HUGEINT) * {n}) AS HUGEINT) AS ss_{n}"
        for n, _ in _CORR_COLS
    )
    xmoms = ", ".join(
        f"CAST(sum(CAST({a} AS HUGEINT) * {b}) AS HUGEINT) AS sx_{a}_{b}"
        for a, b in _CORR_PAIRS
    )
    rows = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" CAST(CASE WHEN (n * ss_{a} - s_{a} * s_{a}) = 0"
        f"        OR (n * ss_{b} - s_{b} * s_{b}) = 0 THEN 0"
        f" ELSE floor(1000 * (CAST(n AS DOUBLE) * CAST(sx_{a}_{b} AS DOUBLE)"
        f"   - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
        f"   - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
        f"   - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))) END"
        f" AS BIGINT) AS corr_milli FROM m"
        for a, b in _CORR_PAIRS
    )
    return f"""
    WITH v AS (SELECT {cols} FROM lineitem),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, {moments}, {xmoms}
      FROM v
    )
    {rows}
    """


@register("profile_correlation_matrix", oracle=_corr_oracle())
def q_profile_correlation_matrix(spark, sf_dir):
    """Pairwise Pearson correlation over the fact table's numeric
    columns — the profiling matrix a feature-engineering pass runs to
    drop redundant columns before training. ONE aggregate pass
    collects every raw moment (Σx, Σx², Σxy for all 6 pairs) as exact
    integers over pre-quantized columns (cents / basis points — the
    events_hourly_autocorrelation idiom), then each coefficient is
    assembled from the 1-row moment frame with the only floats being
    the final widen + sqrt (IEEE-identical cross-engine; floor at
    milli precision). Shuffle volume: 15 integers per task, total —
    the matrix costs one scan at any scale."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        *[F.expr(expr).alias(n) for n, expr in _CORR_COLS]
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for n, _ in _CORR_COLS:
        aggs.append(F.sum(_d38(n)).alias(f"s_{n}"))
        aggs.append(F.sum(_d38(n) * F.col(n)).alias(f"ss_{n}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(_d38(a) * F.col(b)).alias(f"sx_{a}_{b}"))
    m = v.agg(*aggs)

    def corr_expr(a: str, b: str):
        return F.expr(
            f"CAST(CASE WHEN (n * ss_{a} - s_{a} * s_{a}) = 0"
            f"        OR (n * ss_{b} - s_{b} * s_{b}) = 0 THEN 0"
            f" ELSE floor(1000 * (CAST(n AS DOUBLE) * CAST(sx_{a}_{b} AS DOUBLE)"
            f"   - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f"   - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f"   - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))) END"
            f" AS BIGINT)"
        )

    # all 6 coefficients assembled from the ONE 1-row moment frame via
    # a struct array + explode — no temp view, no re-aggregation
    pairs_arr = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                corr_expr(a, b).alias("corr_milli"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return m.select(F.explode(pairs_arr).alias("p")).select("p.*")


@register(
    "stats_discount_qty_ols",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM v
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro_per_bp,
           CAST((sy - (n * sxy - sx * sy) * sx
                      // ((n * sxx - sx * sx))) // n AS BIGINT)
             AS intercept_approx,
           CAST(sx // n AS BIGINT) AS mean_x_bp,
           CAST(sy // n AS BIGINT) AS mean_y
    FROM m
    """,
)
def q_stats_discount_qty_ols(spark, sf_dir):
    """Simple OLS as one aggregate: the regression slope of quantity
    on discount (micro-units of quantity per basis point of discount)
    from the five raw moments — the do-we-move-volume-with-discounts
    screen that complements the chi-square independence test and the
    diff-in-diff entry with an effect SIZE. All arithmetic is exact
    integer: quantized inputs (discount in bp), HUGEINT/DECIMAL(38)
    moment sums, and the closed-form slope as one integer floor
    division — the estimator is engine-identical with no float in
    sight (the intercept reuses the integer slope, floor-composed, so
    it is an exact-arithmetic approximation, documented). One
    map-side-combinable scan; five integers of shuffle per task."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.expr(
            "CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)"
        ).alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(_d38("x")).alias("sx"),
        F.sum(_d38("y")).alias("sy"),
        F.sum(_d38("x") * F.col("x")).alias("sxx"),
        F.sum(_d38("x") * F.col("y")).alias("sxy"),
    )
    return m.select(
        F.expr("CAST(n AS BIGINT)").alias("n"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " DIV (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_micro_per_bp"),
        F.expr(
            "CAST((sy - (n * sxy - sx * sy) * sx"
            " DIV (n * sxx - sx * sx)) DIV n AS BIGINT)"
        ).alias("intercept_approx"),
        F.expr("CAST(sx DIV n AS BIGINT)").alias("mean_x_bp"),
        F.expr("CAST(sy DIV n AS BIGINT)").alias("mean_y"),
    )


@register(
    "orders_seasonal_decomposition",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    det AS (
      SELECT day, day_idx, rev_cents,
             CAST(sum(rev_cents) OVER w AS BIGINT)
               // count(*) OVER w AS trend_cents
      FROM daily
      WINDOW w AS (ORDER BY day_idx
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT day_idx % 7 AS dow7,
             CAST(sum(rev_cents - trend_cents) AS BIGINT)
               // count(*) AS seasonal_cents
      FROM det GROUP BY 1
    ),
    resid AS (
      SELECT d.day, d.rev_cents, d.trend_cents, s.seasonal_cents,
             d.rev_cents - d.trend_cents - s.seasonal_cents AS residual_cents
      FROM det d JOIN seas s ON s.dow7 = d.day_idx % 7
    ),
    fence AS (
      SELECT quantile_cont(abs(residual_cents), 0.5) AS mad FROM resid
    )
    SELECT r.day, r.rev_cents, r.trend_cents, r.seasonal_cents,
           r.residual_cents,
           abs(r.residual_cents) > 3 * 1.4826 * f.mad AS is_anomaly
    FROM resid r CROSS JOIN fence f
    """,
)
def q_orders_seasonal_decomposition(spark, sf_dir):
    """Full STL-lite decomposition — the capstone the trend-residual,
    seasonal-index, and MAD entries build toward: daily revenue =
    ±3-day centered-MA TREND + day-of-week SEASONAL (per-DOW mean of
    the detrended series, exact integer DIV over the epoch-day mod-7
    cycle) + RESIDUAL, with the anomaly fence on the residual AFTER
    both adjustments — so a quiet-but-normal Sunday no longer trips
    the detector the trend-only entry would. All components stay
    integer cents; the single float is the shared MAD fence
    expression. Windows all the way down (r14, guide §2.1): the trend
    frame rides the bounded_bucket day-index spec
    (orders_anomalous_days's fix), the seasonal term is a per-DOW
    window over the detrended day frame (7 partitions, day-bounded
    rows), and the fence a whole-frame percentile window — one
    single-scan chain instead of two cached branches + a broadcast
    join + a 1-row cross join. Same integer DIV per DOW group, same
    percentile over the same residual rows; the day frame is
    calendar-bounded at any volume, so every window partition is
    safe."""
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
    w = (
        Window.partitionBy(bounded_bucket("day_idx"))
        .orderBy("day_idx")
        .rangeBetween(-3, 3)
    )
    det = (
        daily.withColumn("__ms", F.sum("rev_cents").over(w))
        .withColumn("__mn", F.count(F.lit(1)).over(w))
        .select(
            "day",
            "day_idx",
            "rev_cents",
            F.expr("__ms DIV __mn").alias("trend_cents"),
        )
    )
    # per-DOW seasonal index as a window over det (7 partitions of
    # day-bounded rows) — the former groupBy + broadcast join made det
    # a two-consumer frame that needed a pin
    wd = Window.partitionBy((F.col("day_idx") % 7).alias("dow7"))
    resid = (
        det.withColumn(
            "__ds", F.sum(F.col("rev_cents") - F.col("trend_cents")).over(wd)
        )
        .withColumn("__dn", F.count(F.lit(1)).over(wd))
        .select(
            "day",
            "rev_cents",
            "trend_cents",
            F.expr("CAST(__ds AS BIGINT) DIV __dn").alias("seasonal_cents"),
            (
                F.col("rev_cents")
                - F.col("trend_cents")
                - F.expr("CAST(__ds AS BIGINT) DIV __dn")
            ).alias("residual_cents"),
        )
    )
    # whole-frame MAD fence window (the orders_anomalous_days
    # pattern) — the former 1-row aggregate + crossJoin made resid a
    # two-consumer frame that needed a second pin
    from ..partitioning import scalar_bucket

    mad = F.expr("percentile(abs(residual_cents), 0.5)").over(
        Window.partitionBy(scalar_bucket("day"))
    )
    return resid.select(
        "day",
        "rev_cents",
        "trend_cents",
        "seasonal_cents",
        "residual_cents",
        (F.abs(F.col("residual_cents")) > 3 * 1.4826 * mad).alias(
            "is_anomaly"
        ),
    )


@register(
    "orders_forecast_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    f AS (
      SELECT day, day_idx, rev_cents,
             lag(rev_cents, 7) OVER (ORDER BY day_idx) AS forecast_cents,
             lag(day_idx, 7) OVER (ORDER BY day_idx) AS fidx
      FROM daily
    )
    SELECT day, rev_cents, forecast_cents,
           abs(rev_cents - forecast_cents) AS abs_err_cents
    FROM f
    WHERE forecast_cents IS NOT NULL AND fidx = day_idx - 7
    """,
)
def q_orders_forecast_seasonal_naive(spark, sf_dir):
    """Seasonal-naive forecasting backtest — the baseline every
    forecasting pipeline must beat: predict each day's revenue as the
    SAME WEEKDAY one week earlier and report the per-day absolute
    error in exact cents. The lag guards on the day-index gap (a
    7-ROW lag only equals a 7-DAY lag when the calendar is dense, so
    days whose offset-7 row isn't exactly 7 days back drop out rather
    than silently comparing the wrong weekday). One day-level
    aggregate plus a bounded_bucket-partitioned lag window —
    calendar-bounded at any volume. MAE/MAPE rollups compose
    downstream; the per-day frame keeps the entry join-able to the
    decomposition entries."""
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
    w = Window.partitionBy(bounded_bucket("day_idx")).orderBy("day_idx")
    f = daily.select(
        "day",
        "day_idx",
        "rev_cents",
        F.lag("rev_cents", 7).over(w).alias("forecast_cents"),
        F.lag("day_idx", 7).over(w).alias("fidx"),
    )
    return f.where(
        F.col("forecast_cents").isNotNull()
        & (F.col("fidx") == F.col("day_idx") - 7)
    ).select(
        "day",
        "rev_cents",
        "forecast_cents",
        F.abs(F.col("rev_cents") - F.col("forecast_cents")).alias(
            "abs_err_cents"
        ),
    )
