"""Deterministic sampling, splitting, packing, and mixture planning —
the selection layer of an LLM training-data pipeline.

Nothing like this exists in the reference (its only row selection is
the Buy/Sell IN-filter, trading212.py:120); these are north-star
extensions (BASELINE.json) with one shared design rule:

**All selection is content/key-hashed, never RNG.** ``df.sample`` and
``sampleBy`` draw from a per-task RNG, so a retried task (guaranteed
at 100 TB) or a re-run yields a different dataset — catastrophic for
training reproducibility and for exactly-once semantics. Hashing the
stable key instead makes every decision a pure projection: stable
under retries, re-runs, repartitioning, and engine versions, and
cheap enough to stay at parquet-scan speed. md5 (not xxhash64) so the
DuckDB oracle reproduces decisions bit-for-bit (SURVEY §5.4 rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textual import tokens

# md5 hex chars behind every hash-fraction decision: 4 chars = 16-bit
# resolution, plenty for split/sample rates
HASH_CHARS = 4
# hashed unigram feature buckets of dsir_importance_weights
DSIR_BUCKETS = 512


def _hash_frac(key: Column) -> Column:
    """Uniform-ish [0, 1) fraction from the first ``HASH_CHARS`` hex
    chars of md5(key). Lowercase hex on both Spark and DuckDB, so
    lexicographic threshold comparisons agree across engines too."""
    return F.substring(F.md5(key.cast("string")), 1, HASH_CHARS)


def _rate_threshold(rate: float) -> str:
    """Hex threshold t such that P(md5-prefix < t) == rate (at
    ``HASH_CHARS`` hex resolution)."""
    return format(int(rate * (16**HASH_CHARS)), f"0{HASH_CHARS}x")


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
) -> DataFrame:
    """Deterministic train/val/test split: each row lands in exactly
    one named split (column ``split``) with probability ~= its weight,
    decided solely by md5(key). Pure projection — zero shuffle at any scale, and a
    document keeps its split across re-runs and dataset versions
    (critical: no eval-set leakage when the corpus is regenerated).

    ``splits`` maps name -> weight; weights must sum to 1.
    """
    total = sum(splits.values())
    if not abs(total - 1.0) < 1e-9:  # also rejects NaN weights
        raise ValueError(f"split weights must sum to 1, got {total}")
    frac = _hash_frac(F.col(key_col))
    expr: Column | None = None
    cum = 0.0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = frac < _rate_threshold(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    md5(key) falls under its stratum's rate. The reproducible
    production form of ``df.sampleBy`` (which is RNG-per-task and not
    stable under retries). Strata absent from ``rates`` are dropped.

    Pure filter — pushes to the scan, no shuffle, no state.
    """
    frac = _hash_frac(F.col(key_col))
    cond: Column = F.lit(False)
    for stratum, rate in rates.items():
        keep = (
            F.lit(True) if rate >= 1.0 else frac < _rate_threshold(rate)
        )
        cond = cond | ((F.col(stratum_col) == stratum) & keep)
    return df.filter(cond)


def pack_sequences(docs: DataFrame, budget: int) -> DataFrame:
    """Assign documents to fixed token-budget packs (context-window
    filling): within each ``source`` shard, documents are laid out
    in ``doc_id`` order and a new pack starts whenever the running
    token count crosses the budget. Returns (doc_id, source, n_tokens,
    pack_id, pack_offset) where ``pack_offset`` is the token position
    at which the doc starts in its shard's layout.

    Scale shape: the running sum windows over ``source`` — packing
    is per-shard by design (a global pack order would serialize the
    corpus through one partition; sharded packing is what training
    loaders do anyway, one pack stream per reader). One shuffle on the
    shard key, then a linear in-partition scan.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(tokens(F.col("text")))
    return (
        docs.select(
            F.col("doc_id"),
            F.col("source"),
            n_tok.alias("n_tokens"),
        )
        .withColumn(
            "pack_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn(
            "pack_id", F.floor(F.col("pack_offset") / F.lit(budget))
        )
    )


def domain_mixture_plan(
    docs: DataFrame, weights: dict[str, float]
) -> DataFrame:
    """Compute the per-domain (``lang``) sampling plan that realizes a
    target mixture (e.g. 70% en / 20% de / 10% fr by tokens) while
    using as much data as possible: the binding domain (smallest
    available/target ratio) is taken in full and every other domain is
    downsampled to match. Returns per domain: available tokens, target
    weight, sampling rate, and the token count the plan takes.

    Plan shape: one groupBy(domain) token count (map-side partial agg
    → tiny shuffle), then an all-rows window min to find the binding
    domain — the window input is |domains| rows, so the single-
    partition window is trivially safe. The emitted rates feed
    :func:`stratified_sample` for the actual (shuffle-free) selection
    pass.
    """
    domains = list(weights)
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    from ..partitioning import freeze_partitions

    # pinned: feeds the per-domain rows AND the 1-row binding-
    # constraint branch (unpinned, the corpus tokenize+agg runs twice)
    counts = freeze_partitions(
        docs.filter(F.col("lang").isin(domains))
        .groupBy(F.col("lang").alias("domain"))
        .agg(F.sum(F.size(tokens(F.col("text")))).alias("tokens_avail"))
        .withColumn("weight", wmap[F.col("domain")])
    )
    # binding-constraint scale via 1-row broadcast cross join, not an
    # empty-partition window (the domain frame is |weights|-row)
    scale = F.col("__scale")
    rate = F.least(
        F.lit(1.0), F.col("weight") * scale / F.col("tokens_avail")
    )
    return (
        counts.crossJoin(
            F.broadcast(
                counts.agg(
                    F.min(F.col("tokens_avail") / F.col("weight")).alias(
                        "__scale"
                    )
                )
            )
        )
        .withColumn("rate", F.round(rate, 4))
        .withColumn(
            "tokens_take",
            F.floor(F.col("rate") * F.col("tokens_avail")).cast("long"),
        )
        .drop("__scale")
    )


def temperature_mixture_weights(docs: DataFrame) -> DataFrame:
    """Temperature-scaled domain (``source``) sampling weights at
    alpha = 0.5: p_domain ∝ n_docs^alpha — the standard
    multilingual/multi-domain rebalancing rule (alpha=1 keeps the
    natural distribution, alpha→0 approaches uniform; XLM-R-style
    pipelines use alpha≈0.3–0.7 to up-sample small domains without
    flattening large ones).

    Cross-engine exactness: n^alpha for alpha=k/100 is exp/ln in
    general (libm, engine-divergent) — EXCEPT alpha=0.5: sqrt is an
    IEEE-754 correctly-rounded operation, identical everywhere, which
    is why alpha is fixed; the per-domain weight is quantized to
    exact integer micro-units ``floor(sqrt(n_docs) * 1e6)`` and shares
    are integer basis points of the micro-weight sum (integer sums are
    order-independent; a double sum of raw sqrt values would be
    summation-order-dependent and flap across engines/partitions).

    Scale shape: one map-side-combined groupBy(domain) over the corpus
    — the only pass that touches the facts — then all arithmetic runs
    on the |domains|-sized frame (single-partition window over a
    handful of rows).
    """
    from pyspark.sql import Window

    from ..partitioning import scalar_bucket

    counts = docs.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_micro = F.floor(F.sqrt(F.col("n_docs")) * F.lit(1_000_000)).cast("long")
    # micro-weight total over the |domains|-row frame rides the
    # non-foldable scalar_bucket key: same value as sum() OVER (),
    # without the single-partition WindowExec warning (r7 sweep catch)
    total = F.sum("w_micro").over(Window.partitionBy(scalar_bucket("domain")))
    return (
        counts.withColumn("w_micro", w_micro)
        .withColumn("__total", total)
        .withColumn("share_bp", F.expr("w_micro * 10000 DIV __total"))
        .select("domain", "n_docs", "w_micro", "share_bp")
    )


def dsir_importance_weights(docs: DataFrame, target_pred: Column) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-document hashed
    n-gram log-likelihood ratio between a target domain
    (``target_pred`` rows) and the raw corpus, in integer milli-nats.

    Hashed unigram features (md5 — the cross-engine hash) bound state
    at O(DSIR_BUCKETS) regardless of vocabulary. The per-bucket
    log-ratio (add-one smoothing both sides) is quantized to
    milli-nats ONCE per bucket, so document scores are integer-exact
    sums; bucket totals ride a scalar_bucket window over the bounded
    bucket frame and the weight table broadcasts into the per-doc
    rollup. Plan: two token-explode aggregates + one broadcast join —
    no all-pairs work, no driver state.

    Returns (doc_id, source, weight_milli) for EVERY document with at
    least one token; selection policy (top-k, threshold, Gumbel
    resample) composes downstream.
    """
    from ..partitioning import scalar_bucket

    n_buckets = DSIR_BUCKETS
    bt = docs.select(
        F.col("doc_id"),
        F.col("source"),
        target_pred.alias("__is_target"),
        F.explode(tokens("text")).alias("__w"),
    ).select(
        "doc_id",
        "source",
        "__is_target",
        (
            F.conv(F.substring(F.md5("__w"), 1, 6), 16, 10).cast("bigint")
            % n_buckets
        ).alias("__b"),
    )
    # SCALE-ADAPTIVE shape (r14, guide §1.2/§2.1): raw/tgt/dc are
    # three independent consumers of bt, so the tokenize + md5-bucket
    # chain re-runs per aggregate (r14 scan_dup_audit: documents
    # scanned 3×). On an idle bench-SF cluster those three chains run
    # CONCURRENTLY and the duplication costs ~no wall — pinning there
    # measured ~1.9× SLOWER (cache materialization serializes the
    # chain). Once the input is big enough to saturate cores, every
    # pass is paid in full: aggregate to per-(doc, target, bucket)
    # counts FIRST — the only token-level pass — pin that (bounded by
    # docs × n_buckets rows, not one row per token), and derive both
    # bucket histograms from it (Σ per-doc counts ≡ token-row count;
    # __is_target is doc-constant so the target filter commutes with
    # the doc-level grouping). 125× A/B: 0.94× pinned
    # (BENCH_SCALING heavy_pins_r14); at 100 TB the saving is two
    # full tokenize passes.
    from ..partitioning import freeze_partitions, is_heavy

    if is_heavy(bt):
        dc = freeze_partitions(
            bt.groupBy("doc_id", "source", "__is_target", "__b").agg(
                F.count(F.lit(1)).alias("__cnt")
            )
        )
        raw = dc.groupBy("__b").agg(F.sum("__cnt").alias("__r_cnt"))
        tgt = (
            dc.where(F.col("__is_target"))
            .groupBy("__b")
            .agg(F.sum("__cnt").alias("__t_cnt"))
        )
    else:
        raw = bt.groupBy("__b").agg(F.count(F.lit(1)).alias("__r_cnt"))
        tgt = (
            bt.where(F.col("__is_target"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__t_cnt"))
        )
        dc = bt.groupBy("doc_id", "source", "__b").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
    wj = raw.join(tgt, "__b", "left").select(
        "__b",
        "__r_cnt",
        F.coalesce("__t_cnt", F.lit(0)).alias("__t_cnt"),
    )
    sw = Window.partitionBy(scalar_bucket("__b"))
    wts = wj.select(
        "__b",
        F.round(
            (
                F.log(
                    (F.col("__t_cnt") + 1)
                    / (F.sum("__t_cnt").over(sw) + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("__r_cnt") + 1)
                    / (F.sum("__r_cnt").over(sw) + F.lit(float(n_buckets)))
                )
            )
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("__lw_milli"),
    )
    return (
        dc.join(F.broadcast(wts), "__b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("__cnt") * F.col("__lw_milli"))
            .cast("bigint")
            .alias("weight_milli")
        )
    )
