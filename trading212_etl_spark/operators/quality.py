"""Data-quality auditing and snapshot reconciliation — the governance
layer a production lake needs before any downstream query is trusted.

The reference has exactly one implicit quality rule (drop rows whose
Action is not Buy/Sell, trading212.py:120) and no reconciliation at
all; these are north-star extensions in the Deequ / dbt-test mold,
designed around two scale rules:

- **Column metrics ride ONE aggregate pass.** Completeness, bounds,
  set-membership and uniqueness for any number of columns collapse
  into a single groupBy().agg(...) over the fact table — one scan,
  one (tiny) shuffle of partial aggregates, regardless of how many
  constraints are declared. Adding a constraint costs an expression,
  not a job.
- **Cross-table checks are semi/anti joins, never materialized
  diffs.** Referential integrity probes the dimension with a
  broadcast anti-join (orphan count); snapshot reconciliation is a
  single full-outer join on the key with change classification as a
  projection — the only shuffle is the join itself, and row-identical
  pairs are filtered before anything wide is carried.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def constraint_report(
    df: DataFrame,
    *,
    completeness: list[str],
    unique: list[str],
    bounds: dict[str, tuple[float | None, float | None]],
    in_set: dict[str, list[str]],
) -> DataFrame:
    """Deequ-style constraint audit: one row per declared constraint
    with its measured metric in [0, 1] and a pass flag.

    Every metric is an aggregate expression over the SAME single
    pass: completeness = non-null fraction, bounds/in_set = fraction
    of rows satisfying the predicate (nulls fail), unique = exact
    distinct-to-total ratio. count(DISTINCT) columns each add a
    distinct-aggregate expansion, which Spark plans as one expand +
    partial-agg — still a single scan of the input.

    Output: (check_name STRING, metric DOUBLE, passed BOOLEAN),
    ordered by check name for deterministic presentation.
    """
    total = F.count(F.lit(1)).cast("double")
    aggs = [total.alias("_total")]
    rows: list[tuple[str, str]] = []  # (constraint label, agg alias)

    for c in completeness:
        a = f"comp_{c}"
        aggs.append((F.count(c).cast("double") / total).alias(a))
        rows.append((f"completeness({c})", a))
    for c in unique:
        a = f"uniq_{c}"
        aggs.append(
            (F.count_distinct(F.col(c)).cast("double") / total).alias(a)
        )
        rows.append((f"unique({c})", a))
    for c, (lo, hi) in bounds.items():
        a = f"bound_{c}"
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(c) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(c) <= F.lit(hi))
        aggs.append(
            (
                F.sum(F.when(pred, 1).otherwise(0)).cast("double") / total
            ).alias(a)
        )
        rows.append((f"bounds({c})", a))
    for c, allowed in in_set.items():
        a = f"inset_{c}"
        aggs.append(
            (
                F.sum(
                    F.when(F.col(c).isin(list(allowed)), 1).otherwise(0)
                ).cast("double")
                / total
            ).alias(a)
        )
        rows.append((f"in_set({c})", a))

    wide = df.agg(*aggs)
    # Unpivot the single metrics row into (constraint, metric) via
    # stack — a projection over the 1-row aggregate, no extra pass.
    stack_args = ", ".join(f"'{label}', {alias}" for label, alias in rows)
    report = wide.selectExpr(
        f"stack({len(rows)}, {stack_args}) AS (check_name, metric)"
    )
    return report.select(
        "check_name",
        F.round("metric", 6).alias("metric"),
        (F.col("metric") >= F.lit(1.0) - F.lit(1e-12)).alias("passed"),
    ).orderBy("check_name")


def referential_orphans(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """Foreign-key audit: fraction of fact rows whose key has a match
    in the dimension. ONE pass: probe the (small, broadcast) distinct
    dimension with a left join and aggregate hit/total in the same
    job — no separate count() action, and the fact table never
    shuffles. Output is a single row compatible with
    :func:`constraint_report`'s schema."""
    probed = fact.select(F.col(fact_key)).join(
        F.broadcast(
            dim.select(F.col(dim_key).alias(fact_key))
            .distinct()
            .withColumn("_hit", F.lit(True))
        ),
        on=fact_key,
        how="left",
    )
    hits = F.count("_hit").cast("double")
    total = F.count(F.lit(1)).cast("double")
    return probed.agg(
        F.lit(f"referential({fact_key})").alias("check_name"),
        F.round(hits / total, 6).alias("metric"),
        (hits == total).alias("passed"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """CDC-style reconciliation of two snapshots of the same entity:
    full-outer join on ``key``, classify each key as added / removed /
    changed, and drop the (typically dominant) unchanged majority
    before anything is materialized.

    One shuffle (the join); the change classification and the
    unchanged-filter are projections, so at 100 TB the output is
    sized by the churn rate, not the snapshot size. With bucketed
    snapshots (see sinks) the join itself is shuffle-free.

    Output: (key, change_type, old_<c>/new_<c> per compare col).
    """
    o = old.select(
        F.col(key),
        F.lit(True).alias("_old_present"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key),
        F.lit(True).alias("_new_present"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    joined = o.join(n, on=key, how="full_outer")
    # Explicit presence markers: a NULL in a compare column must not
    # read as "row absent" — only a missing join side does.
    old_present = F.col("_old_present").isNotNull()
    new_present = F.col("_new_present").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & (
            F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        )
    change = (
        F.when(old_present & ~new_present, F.lit("removed"))
        .when(new_present & ~old_present, F.lit("added"))
        .when(~same, F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            key,
            "change_type",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def entity_pairs_blocked(
    entities: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
) -> DataFrame:
    """Entity-resolution candidate pairs: blocked self-join +
    edit-distance filter (Levenshtein ≤ ``max_edit`` = 2).

    The classic ER quadratic trap is the all-pairs name comparison;
    blocking turns it into an equi-self-join on cheap deterministic
    keys (here: caller-chosen ``block_cols``), so the pair fan-out is
    bounded by the largest block, not n². Levenshtein runs as the
    join's post-filter — JVM-side, codegen'd, only within blocks.

    Hot-block guard (r10, same family contract as minhash_lsh_pairs /
    simhash_near_pairs): AQE skew-split can cut a hot block's join
    WALL, but not its OUTPUT — a block of b near-identical records
    emits C(b,2) edges, and the downstream connected-components
    materialization of a clique that size OOM'd at the 125× probe
    (a 125-copy name block → ~70k edges per original entity →
    1B-edge graph). Block size + hub (min id) come from ONE window
    over the keyed frame, whose (block) exchange the self-join
    reuses; blocks ≤ ``max_block`` (dedup.HOT_BUCKET_CAP) take the
    exact all-pairs path,
    larger blocks emit a STAR to the block's min-id record with true
    hub↔member levenshtein — O(block) edges. Above the cap recall is
    HUB-REACHABLE only (a member within ``max_edit`` of another
    member but not of the hub loses its in-block pairs); for
    dedup-style clusters whose variants derive from one canonical
    record — the ER workload — the star IS the cluster. Rows with a
    null block key never pair (the equality join semantics), so the
    star path filters them too. Output: (doc_a, doc_b) with
    doc_a < doc_b, ready for
    :func:`~..dedup.connected_components` clustering.
    """
    from pyspark.sql import Window

    from . import dedup

    max_edit, max_block = 2, dedup.HOT_BUCKET_CAP
    bcols = [f"__b_{c}" for c in block_cols]
    keyed = entities.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__n"),
        *[F.col(c).alias(bc) for c, bc in zip(block_cols, bcols)],
    )
    wb = Window.partitionBy(*bcols)
    # Hub = min-id row among NON-NULL-name rows (null-name flag sorts
    # first in the struct ordering): a null-name hub would make every
    # star levenshtein NULL and silently void the whole over-cap
    # block (ADVICE r10). Non-null-name members always have id >
    # hub id, so the doc_a < doc_b edge contract is preserved; a
    # block whose names are ALL null emits no edges, matching the
    # exact path (null names never satisfy the edit filter).
    sized = keyed.withColumn("__cnt", F.count(F.lit(1)).over(wb)).withColumn(
        "__hub",
        F.min(
            F.struct(
                F.col("__n").isNull().cast("int").alias("__null_name"),
                F.col("__id"),
                F.col("__n"),
            )
        ).over(wb),
    )
    small = sized.filter(F.col("__cnt") <= max_block)
    a = small.select(
        F.col("__id").alias("doc_a"),
        F.col("__n").alias("__na"),
        *[F.col(bc).alias(f"__a{bc}") for bc in bcols],
    )
    b = small.select(
        F.col("__id").alias("doc_b"),
        F.col("__n").alias("__nb"),
        *[F.col(bc).alias(f"__b{bc}") for bc in bcols],
    )
    cond = F.col("doc_a") < F.col("doc_b")
    for bc in bcols:
        cond = cond & (F.col(f"__a{bc}") == F.col(f"__b{bc}"))
    exact = (
        a.join(b, cond)
        .where(F.levenshtein("__na", "__nb") <= max_edit)
        .select("doc_a", "doc_b")
    )
    star_base = sized.filter(F.col("__cnt") > max_block).filter(
        F.col("__id") != F.col("__hub.__id")
    )
    for bc in bcols:
        star_base = star_base.filter(F.col(bc).isNotNull())
    star = star_base.where(
        F.levenshtein(F.col("__n"), F.col("__hub.__n")) <= max_edit
    ).select(
        F.col("__hub.__id").alias("doc_a"), F.col("__id").alias("doc_b")
    )
    return exact.unionByName(star)
