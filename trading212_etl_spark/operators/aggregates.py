"""Aggregation operators (SURVEY §2.4) and the group-by battery the
driver's star-schema corpus exercises.

All hash aggregates get map-side partial aggregation for free from
``HashAggregateExec`` (partial → shuffle on group keys → final), so a
100 TB scan reduces to |groups| rows before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_rows(df: DataFrame) -> DataFrame:
    """A1 — exact all-column dedup (``drop_duplicates``,
    trading212.py:121). Physical plan: hash aggregate on every column;
    pandas' ``keep='first'`` order-dependence is moot for exact
    duplicates (the kept row is identical)."""
    return df.dropDuplicates()


def string_agg_first_n(
    df: DataFrame, id_col: str, order_col: str, n: int
) -> DataFrame:
    """A2+O2 — the reference's ','.join of the first 8 notification
    ids (trading212.py:81). ``limit(n)`` bounds the rows, and the
    in-cell order is made explicit with ``sort_array`` (SURVEY §7:
    driver hashing is order-insensitive across rows, NOT within a
    concatenated cell)."""
    limited = df.orderBy(F.col(order_col).asc()).limit(n)
    return limited.agg(
        F.array_join(
            F.sort_array(F.collect_list(F.col(id_col).cast("long"))).cast(
                "array<string>"
            ),
            ",",
        ).alias("ids_csv")
    )


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column-profiling summary: (column, n_nonnull, n_distinct,
    min_str, max_str) per profiled column — the data-quality first
    pass of any ingest (the reference eyeballed its Google Sheet,
    SURVEY §5).

    ONE aggregate pass computes 4·|cols| measures into a single row
    (map-side partial combine ⇒ a 100 TB profile moves |cols| numbers
    per task), then pivots to rows via an inline explode — never one
    scan per column."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"__n_{c}"),
            F.countDistinct(c).alias(f"__d_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"__n_{c}").alias("n_nonnull"),
                        F.col(f"__d_{c}").alias("n_distinct"),
                        F.col(f"__min_{c}").alias("min_str"),
                        F.col(f"__max_{c}").alias("max_str"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.column", "p.n_nonnull", "p.n_distinct", "p.min_str", "p.max_str")


def pricing_summary(lineitem: DataFrame, ship_cutoff: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical group-by battery
    (sum/avg/count over arithmetic expressions). Absent from the
    reference (SURVEY §2.4) but required by the driver corpus.

    Doubles are rounded to 2 dp for oracle value-parity (SURVEY §7).
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= ship_cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# hottest keys key_skew_profile reports
SKEW_TOP_K = 5


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """Key-distribution skew diagnostics: the measurement pass you run
    BEFORE choosing a shuffle strategy (plain hash vs salted vs AQE
    skew split) for a join or aggregation on ``key``.

    Output: the ``SKEW_TOP_K`` hottest keys, each row carrying its count,
    its corpus share in basis points, and the global context columns —
    total rows, distinct keys, and ``skew_ratio_bp`` =
    floor(max_count * n_keys * 10000 / total) (10000 == perfectly
    uniform; a key at 100x its fair share reads 1_000_000). The salting
    factor to spread the hottest key to uniform is ceil(skew_ratio_bp /
    10000) — the number this profile exists to produce.

    Scale shape (100 TB): one map-side-combined groupBy(key) — the
    only pass that touches the fact table — then the global stats are
    an aggregate over the |keys|-sized count frame, joined back as a
    1-row broadcast; top-k is a TakeOrderedAndProject heap. All
    arithmetic is exact integer (order-independent sums).
    """
    from ..partitioning import freeze_partitions

    # two consumers (totals + the emitted rows): materialize the
    # |keys|-sized count frame so the FACT table is scanned once, not
    # recomputed per consumer — the whole point of a pre-shuffle probe
    counts = freeze_partitions(
        df.groupBy(F.col(key).alias("key")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
    )
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n_rows").alias("max_count"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("key").cast("string").alias("key"),
            "n_rows",
            F.expr("n_rows * 10000 DIV total_rows").alias("share_bp"),
            "total_rows",
            "n_keys",
            F.expr("max_count * n_keys * 10000 DIV total_rows").alias(
                "skew_ratio_bp"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(SKEW_TOP_K)
    )


def agg_partial_states(
    df: DataFrame, keys: list[str], measure: str
) -> DataFrame:
    """Algebraic aggregate state per group: (sum as exact decimal,
    count) — the mergeable partial that makes incremental view
    maintenance possible. sum/count/min/max are algebraic: the state
    of (base ∪ delta) is a pure merge of the two states, so an
    append-only 100 TB fact table never needs re-scanning — each
    ingest batch contributes |groups| state rows.

    The measure rides DECIMAL(18,6): merged sums are then exact and
    accumulation-order independent, so a view maintained through any
    number of incremental merges is bit-identical to a full
    recompute."""
    return df.groupBy(*keys).agg(
        F.sum(F.col(measure).cast("decimal(18,6)")).alias("_sum"),
        F.count(measure).alias("_cnt"),
    )


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Merge any number of :func:`agg_partial_states` outputs into
    one state table: union + re-aggregate of the states themselves —
    input sizes are |groups| per state, not row counts, so the merge
    cost is independent of the underlying data volume."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    keys = [c for c in merged.columns if c not in ("_sum", "_cnt")]
    return merged.groupBy(*keys).agg(
        F.sum("_sum").alias("_sum"), F.sum("_cnt").alias("_cnt")
    )


def finalize_agg_states(states: DataFrame) -> DataFrame:
    """Project the user-facing aggregate from a state table:
    sum (exact decimal → double cast), count, and the mean as an
    exact integer micro-value (floor division — no float ratio, see
    the VWAP rationale in the registry)."""
    keys = [c for c in states.columns if c not in ("_sum", "_cnt")]
    return states.select(
        *keys,
        F.col("_sum").cast("double").alias("total"),
        F.col("_cnt").alias("n"),
        F.expr("CAST(_sum * 1000000 AS BIGINT) DIV _cnt").alias(
            "mean_micro"
        ),
    )
