"""Physical-plan assertions: the scale properties SURVEY §4/§7 claim
must be visible in `.explain` output, not just hoped for — filter
pushdown reaching the parquet scan, column pruning, broadcast joins on
dim tables, TakeOrderedAndProject for top-k, and no Python in the row
path of relational queries."""

from __future__ import annotations

import contextlib
import io
import re

from trading212_etl_spark import registry

SF = "/root/testdata/sf0.001"


def plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# Physical join-node names, not a bare "Join" substring: an expression
# like array_join/concat_ws in a plan would trip the substring test
# spuriously, and the substring also matches non-operator plan text.
_JOIN_NODE = re.compile(
    r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct)\b"
)


def assert_no_join_node(p: str) -> None:
    m = _JOIN_NODE.search(p)
    assert m is None, f"plan contains a physical join node: {m.group(0)}"


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "filter_isin")
    assert "PushedFilters" in p
    assert "In(l_returnflag" in p


def test_range_predicate_pushdown(spark):
    p = plan(spark, "predicate_equality")
    assert "EqualTo(o_orderstatus,F)" in p.replace(" ", "").replace("'", "") or (
        "EqualTo" in p and "GreaterThan" in p
    )


def test_column_pruning_q1(spark):
    """TPC-H Q1 touches 7 lineitem columns; the scan must not read the
    join keys it doesn't need."""
    p = plan(spark, "agg_pricing_summary")
    assert "l_partkey" not in p
    assert "l_suppkey" not in p


def test_dim_joins_broadcast(spark):
    assert "BroadcastHashJoin" in plan(spark, "join_broadcast_enrich")
    star = plan(spark, "join_multiway_star")
    # formatted output lists each node in the tree and again in the
    # detail section — 3 broadcast joins appear >= 3 times
    assert star.count("BroadcastHashJoin") >= 3, "all three dims must broadcast"
    assert "SortMergeJoin" not in star


def test_topk_avoids_global_sort(spark):
    p = plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in p


def test_flagship_stays_jvm_side(spark):
    """The full canonicalize->filter->dedup->union->sort pipeline must
    compile to pure Catalyst expressions (SURVEY §2.10) — a Python UDF
    in the row path would show as BatchEvalPython."""
    p = plan(spark, "flagship_pipeline")
    assert "BatchEvalPython" not in p
    assert "PythonUDF" not in p
    # the IN filter must reach the scan (applies before the 4-step
    # string canonicalization, the reorder Catalyst does for free —
    # SURVEY §4 row 2)
    assert "In(o_orderstatus" in p


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The interval range join keeps its equi-key conjunct, so Catalyst
    must plan a hash-based join, never BroadcastNestedLoopJoin."""
    p = plan(spark, "join_range_interval")
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_bucketed_join_shuffles_nothing(spark):
    """Both sides bucketed on the join key ⇒ the join reads buckets
    co-located and the plan contains NO shuffle exchange at all (the
    final aggregate reuses the bucket partitioning too). Broadcast is
    disabled so the test exercises the bucketed fact-fact path — at
    test scale Catalyst would otherwise (correctly) just broadcast."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, "sink_bucketed_colocated_join")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "Bucketed: true" in p
    assert "Exchange hashpartitioning" not in p


def test_approx_sketches_within_bounds(spark):
    """HLL++ rsd=2% and t-digest percentiles must land near the exact
    answers (the invariant that makes them usable at 100 TB)."""
    from pyspark.sql import functions as F

    approx = {
        r["l_returnflag"]: r
        for r in registry.QUERIES["agg_approx_sketches"](spark, SF).collect()
    }
    from trading212_etl_spark.sources import load_table

    exact = {
        r["l_returnflag"]: r
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("median"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["n_orders_approx"] - e["n_orders"]) <= max(3, 0.05 * e["n_orders"])
        assert abs(a["median_approx"] - e["median"]) <= 0.05 * e["median"]
        assert abs(a["p90_approx"] - e["p90"]) <= 0.05 * e["p90"]


# Queries where a nested-loop join IS the intended plan: brute-force
# similarity broadcasts the tiny query set against the corpus scan
# (O(n*q) by contract), and the exact near-dup op is the test-scale
# verifier whose scale path is the LSH variant. The tpch q11/q22
# entries join a ONE-ROW broadcast scalar (global threshold) under a
# non-equi condition — the plan Spark itself produces for a scalar
# subquery comparison; nested-loop over 1 broadcast row is O(n).
NESTED_LOOP_BY_DESIGN = {
    "similarity_topk_bruteforce",
    "embedding_near_dup",
    "tpch_q11_important_parts",
    "tpch_q22_dormant_customers",
    # 1-row broadcast of the corpus token total onto the tf frame
    "text_unigram_lm_score",
    # 1-row broadcast of the global key-count stats onto the count frame
    "profile_key_skew",
    # three 1-row audit aggregates cross-joined into one summary row
    "delete_propagation",
    # 1-row broadcast of the global order count onto the pair frame
    "orders_basket_affinity",
    # 1-row broadcast of the [p01, p99] cut points onto the orders scan
    "clean_winsorize_prices",
    # (orders_anomalous_days, orders_runs_test_daily and
    # orders_seasonal_decomposition left this list in r14: their MAD
    # fence / median scalars are now whole-frame windows over the
    # day-bounded frames, so their plans have no nested loop at all)
    # r6: 1-row broadcast scalar (grand total / frontier / binding
    # constraint) cross-joined onto a bounded aggregate frame.
    # (agg_heavy_hitters / stats_qty_price_independence moved to
    # scalar_bucket windows in r7 and left this list;
    # events_user_lifecycle_weekly kept its 1-row frontier broadcast,
    # now sourced from a one-column events scan.)
    "dq_freshness_skew",
    "events_user_lifecycle_weekly",
    "sample_domain_mixture",
    "sample_temperature_mixture",
    # r6: three 1-row audit aggregates cross-joined into one gate row
    "pipeline_release_gate",
    # r6: 1-row session-total broadcast onto the pair-count frame
    "events_type_lift_matrix",
    # 1-row broadcast of the leading sort key's min/max onto the frame
    # partitioning.ordered_prefix buckets
    "orders_pareto_8020",
    "orders_gini_coefficient",
    "orders_rfm_segments",
    "parts_abc_classification",
    "drift_value_ks_distance",
    "drift_value_mann_whitney",
    "events_concurrency_peak",
    "text_bpe_merges",
    "sample_curriculum_order",
    # r6: 1-row corpus-stats broadcast onto the tf frame
    "text_bm25_topk",
    # r6: 1-row total-pairs broadcast onto the pair-frequency frame
    "text_bigram_coherence",
    # r6: 8-row per-query LUT broadcast onto the code scan (ADC is a
    # deliberate scan of all codes per query — the codes ARE the index)
    "similarity_topk_pq_adc",
    # r7: broadcast query-set x corpus scan, the documented brute-force
    # baseline shape (same class as similarity_topk_bruteforce; the
    # IVF/LSH bucketed path is the production variant)
    "similarity_hard_negatives",
    "similarity_matryoshka_recall",
}

# Hot-key window anti-patterns (r7 skew sweep): a frame whose start is
# bounded but whose end is UNBOUNDED FOLLOWING is re-aggregated from
# each row to partition end — O(rows^2) per key (join_asof_forward
# ground 13+ CPU-minutes on a 30%-hot key before the reversed-
# running-frame rewrite); a collect_list evaluated OVER A WINDOW
# copies its buffer per output row, so a running prefix list writes
# O(rows^2) bytes (events_attribution_linear, same sweep — bounded
# collect_set or a groupBy aggregate are the sanctioned forms). The
# full (unboundedpreceding, unboundedfollowing) frame is exempt: Spark
# aggregates it once per partition.
_UF_FRAME_RE = re.compile(
    # the lower bound is exactly one token — a lazy .+? would span
    # across NEIGHBORING frame specs on the plan's single-line
    # Arguments list and false-positive the full frame
    r"specifiedwindowframe\((?:Row|Range)Frame, "
    r"(unboundedpreceding\$\(\)|currentrow\$\(\)|-?\d+), "
    r"unboundedfollowing\$\(\)\)"
)
_WINDOWED_COLLECT_LIST_RE = re.compile(
    r"collect_list\([^\n]*?windowspecdefinition"
)


def window_frame_flags(p: str) -> list[str]:
    flags = []
    if any(
        lower != "unboundedpreceding$()" for lower in _UF_FRAME_RE.findall(p)
    ):
        flags.append("BoundedStartUnboundedFollowingFrame")
    if _WINDOWED_COLLECT_LIST_RE.search(p):
        flags.append("WindowedCollectList")
    return flags


def test_no_accidental_nested_loops_or_python(spark):
    """Audit EVERY batch registry entry: no CartesianProduct, no
    BroadcastNestedLoopJoin outside the allowlist, no row-at-a-time
    Python (BatchEvalPython) anywhere — Arrow mapInPandas is the only
    sanctioned Python entry point — and no hot-key window
    anti-pattern (bounded-start UNBOUNDED FOLLOWING frame, windowed
    collect_list; see window_frame_flags)."""
    offenders = {}
    for name, fn in sorted(registry.QUERIES.items()):
        if name.startswith("streaming"):  # streaming harnesses execute eagerly
            continue
        p = plan(spark, name)
        flags = [
            m
            for m in ("CartesianProduct", "BatchEvalPython")
            if m in p
        ]
        if "BroadcastNestedLoopJoin" in p and name not in NESTED_LOOP_BY_DESIGN:
            flags.append("BroadcastNestedLoopJoin")
        flags += window_frame_flags(p)
        if flags:
            offenders[name] = flags
    assert not offenders, f"inefficient plans: {offenders}"


def test_unigram_lm_vocab_joins_broadcast(spark):
    """The vocabulary (term -> corpus count) and the 1-row total must
    join back broadcast — the corpus-sized tf frame never reshuffles
    for the lookup."""
    p = plan(spark, "text_unigram_lm_score")
    assert "BroadcastHashJoin" in p  # vocab lookup
    assert "BatchEvalPython" not in p


def test_top_ngrams_is_take_ordered(spark):
    """Corpus heavy-hitters end in TakeOrderedAndProject (top-k heap),
    never a global sort of the gram dictionary."""
    p = plan(spark, "text_top_ngrams")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_key_skew_profile_single_fact_pass(spark):
    """The fact table is scanned once (one groupBy exchange); the
    global stats ride a 1-row broadcast and top-k is a heap."""
    import re

    p = plan(spark, "profile_key_skew")
    assert "TakeOrderedAndProject" in p
    # one detail-section scan node (the materialized count frame is
    # reused by both consumers; without it the facts scan twice)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1


def test_markov_transitions_two_exchanges(spark):
    """One user_id window shuffle over the facts + one (src, dst)
    aggregate exchange; the per-src totals come from a window over the
    tiny matrix, never a second fact pass."""
    import re

    p = plan(spark, "events_markov_transitions")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_zorder_write_tightens_file_spans(spark, tmp_path, monkeypatch):
    """The data-skipping claim, measured: after a Z-order write, the
    per-file (min, max) span of BOTH clustered columns must shrink far
    below a round-robin layout's (where every file spans ~the full key
    range and min-max skipping eliminates nothing)."""
    import pyarrow.parquet as pq

    from trading212_etl_spark.sources import load_table, writers

    monkeypatch.setattr(writers, "ZORDER_FILES", 16)
    li = load_table(spark, SF, "lineitem").select("l_partkey", "l_suppkey")
    zpath, rpath = str(tmp_path / "zorder"), str(tmp_path / "rr")
    writers.zorder_write(li, "l_partkey", "l_suppkey", zpath)
    li.repartition(16).write.mode("overwrite").parquet(rpath)

    def avg_span(path: str, col: str) -> float:
        import glob

        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                spans.append(hi - lo)
        return sum(spans) / len(spans)

    for col in ("l_partkey", "l_suppkey"):
        assert avg_span(zpath, col) < 0.5 * avg_span(rpath, col), col


def test_compaction_reduces_file_count(spark, tmp_path):
    """compact_parquet must rewrite a fragmented directory into the
    byte-sized target count — strictly fewer files, losslessly."""
    import glob

    from trading212_etl_spark.sources import load_table
    from trading212_etl_spark.sources.writers import compact_parquet

    li = load_table(spark, SF, "lineitem").select("l_orderkey")
    frag, out = str(tmp_path / "frag"), str(tmp_path / "out")
    li.repartition(32).write.mode("overwrite").parquet(frag)
    n_target = compact_parquet(spark, frag, out, target_file_bytes=1 << 20)
    n_out = len(glob.glob(f"{out}/*.parquet"))
    assert n_out == n_target < 32
    assert spark.read.parquet(out).count() == li.count()


def _flat_parquet_bytes(path: str) -> int:
    import glob
    import os

    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet"))


def _files_per_dir(path: str) -> dict[str, int]:
    import glob
    import os

    return {
        os.path.basename(d): len(glob.glob(f"{d}/*.parquet"))
        for d in sorted(glob.glob(f"{path}/*=*"))
    }


@contextlib.contextmanager
def _confs(spark, confs: dict[str, str]):
    """Set session confs for the block and restore the previous values
    afterwards."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_one_file_per_partition_split_under_skew(spark, tmp_path):
    """write_parquet(partition_by=...) clusters each hive partition into
    one write task: one file per l_returnflag directory from an 8-file
    input (a plain partitionBy writes one file per input task). When a
    partition outgrows advisoryPartitionSizeInBytes, AQE splits it over
    several tasks instead of funnelling it through one. The split is
    layout-only: the same columns and the same rows read back, and
    rows with a NULL partition value land in the default partition and
    read back IS NULL."""
    from trading212_etl_spark.sources import load_table
    from trading212_etl_spark.sources.writers import write_parquet

    src = str(tmp_path / "src")
    load_table(spark, "/root/testdata/sf0.1", "lineitem").repartition(8).write.parquet(src)
    lineitem = spark.read.parquet(src)

    out = str(tmp_path / "default")
    write_parquet(lineitem, out, partition_by=["l_returnflag"])
    per_dir = _files_per_dir(out)
    assert len(per_dir) == 3 and set(per_dir.values()) == {1}, per_dir

    # 1 MB scan splits give every input file its own map task, so the
    # split is not capped by how many tasks the host's cores pack.
    out = str(tmp_path / "skewed")
    with _confs(
        spark,
        {
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
            "spark.sql.files.maxPartitionBytes": "1m",
        },
    ):
        write_parquet(lineitem, out, partition_by=["l_returnflag"])
    per_dir = _files_per_dir(out)
    assert len(per_dir) == 3 and min(per_dir.values()) > 1, per_dir
    back = spark.read.parquet(out)
    assert sorted(back.columns) == sorted(lineitem.columns)
    assert back.count() == lineitem.count()
    assert back.select(*lineitem.columns).exceptAll(lineitem).count() == 0

    cells = spark.range(100).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 3 END AS cell"
    )
    out = str(tmp_path / "null_cells")
    write_parquet(cells, out, partition_by=["cell"])
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert back.filter("cell IS NULL").count() == 10
    assert back.select("id").exceptAll(cells.select("id")).count() == 0


def test_compaction_is_shuffle_free_and_does_not_inflate(spark, tmp_path):
    """Compaction coalesces whole input files into each output file:
    the executed write plan has no Exchange, and a sorted input keeps
    its runs, so the output is no larger than the input."""
    from trading212_etl_spark.sources import load_table
    from trading212_etl_spark.sources.writers import compact_parquet

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    src, out = str(tmp_path / "sorted"), str(tmp_path / "out")
    li.repartitionByRange(16, "l_orderkey").sortWithinPartitions("l_orderkey").write.parquet(src)
    in_bytes = _flat_parquet_bytes(src)

    def executed_plans() -> dict[int, str]:
        # the SQL status store is fed by the listener bus; drain it
        # first. It keeps only the latest executions, so key by id.
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runs = spark._jsparkSession.sharedState().statusStore().executionsList()
        return {
            runs.apply(i).executionId(): runs.apply(i).physicalPlanDescription()
            for i in range(runs.size())
        }

    seen = max(executed_plans(), default=-1)
    # one scan task per input file, whatever the host's core count
    with _confs(spark, {"spark.sql.files.maxPartitionBytes": "1m"}):
        n_out = compact_parquet(spark, src, out, target_file_bytes=in_bytes // 3)
    plans = [p for i, p in executed_plans().items() if i > seen]
    assert any("InsertIntoHadoopFsRelationCommand" in p for p in plans)
    assert not any("Exchange" in p for p in plans), plans

    assert n_out >= 2
    assert _flat_parquet_bytes(out) <= in_bytes
    assert spark.read.parquet(out).count() == li.count()


def test_compaction_keeps_hive_partitions(spark, tmp_path):
    """A hive-partitioned source keeps its layout through compaction:
    the same l_returnflag directories, one file each, the same
    columns, no rows lost. A partition larger than
    advisoryPartitionSizeInBytes is split over several files, with
    the rows unchanged."""
    from trading212_etl_spark.sources import load_table
    from trading212_etl_spark.sources.writers import compact_parquet

    li = load_table(spark, SF, "lineitem")
    src = str(tmp_path / "src")
    li.repartition(4).write.partitionBy("l_returnflag").parquet(src)
    original = spark.read.parquet(src)

    def compact(out: str) -> dict[str, int]:
        n_out = compact_parquet(spark, src, out)
        per_dir = _files_per_dir(out)
        assert per_dir.keys() == _files_per_dir(src).keys()
        assert n_out == sum(per_dir.values())
        back = spark.read.parquet(out)
        assert back.columns == original.columns
        assert back.exceptAll(original).count() == 0
        assert back.count() == li.count()
        return per_dir

    assert set(compact(str(tmp_path / "out")).values()) == {1}
    # 1 MB scan splits give every input file its own map task, so the
    # split is not capped by how many tasks the host's cores pack.
    with _confs(
        spark,
        {
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
            "spark.sql.files.maxPartitionBytes": "1m",
        },
    ):
        per_dir = compact(str(tmp_path / "split"))
    assert max(per_dir.values()) > 1, per_dir


def test_dynamic_partition_pruning_fires(spark):
    """The partitioned-fact x selective-dim join must carry a runtime
    dynamicpruningexpression in the scan's PartitionFilters — the
    whole-directory elimination static planning cannot do."""
    p = plan(spark, "join_dpp_partitioned")
    assert "dynamicpruning" in p.lower(), "DPP subquery missing from scan"


def test_aqe_skew_join_splits_hot_partition(spark):
    """RUNTIME proof (not just conf) that the session's AQE skew-join
    handling splits a hot key: a join where 90% of rows share one key
    must execute as SortMergeJoin(skew=true) with an
    'AQEShuffleRead ... skewed' child. Caveat encoded here: the rule
    requires BOTH join children to be bare shuffle reads — an
    aggregate between the shuffle and the join (e.g. a pre-aggregated
    dim) silently disables splitting, which is why skewed fact tables
    are salted (join_salted_skew) when the other side is derived."""
    from pyspark.sql import functions as F

    tweaked = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k, None) for k in tweaked}
    for k, v in tweaked.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 32)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 32).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(dim, "k").select(
            F.sum(F.col("payload") + F.col("v")).alias("s")
        )
        j.collect()
        executed = j._jdf.queryExecution().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in executed, "AQE did not split the hot partition"


def test_asof_join_single_exchange_on_key(spark):
    """The as-of join must be union + window — exactly one shuffle
    exchange keyed on the join key, and no join operator at all
    (operators/asof.py claims one exchange; count the nodes)."""
    p = plan(spark, "join_asof_backward")
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in p
    assert "Window" in p
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1


def test_twap_single_exchange_reuse(spark):
    """events_twap_hourly's lead window and its groupBy share the
    (event_type, hour) key, so the aggregate must reuse the window's
    exchange — exactly one shuffle for the whole query."""
    p = plan(spark, "events_twap_hourly")
    assert "Window" in p
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1


def test_market_feature_frame_single_exchange(spark):
    """features_market_hourly computes six statistics (TWAP, VWAP,
    mean, variance, volume, count) in one window + one groupBy on the
    same key — the whole feature frame must cost exactly one
    shuffle."""
    p = plan(spark, "features_market_hourly")
    assert "Window" in p
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1


def test_lateness_audit_single_exchange_reuse(spark):
    """events_watermark_lateness_audit's frontier window and per-type
    aggregate share the event_type key — one shuffle total."""
    p = plan(spark, "events_watermark_lateness_audit")
    assert "Window" in p
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1


def test_running_distinct_two_exchanges(spark):
    """window_running_distinct: the (user, type) first-seen window and
    the (user) running sum cannot share a hash partitioning — exactly
    two exchanges, no more (a third would mean a lost reuse)."""
    p = plan(spark, "window_running_distinct")
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 2


def test_salted_join_spreads_hot_key(spark):
    """salted_join must (a) explode the build side into n_salts
    replicas and (b) shuffle both sides on (key, __salt) — the hot key
    lands in n_salts partitions instead of one straggler. Broadcast is
    disabled so the shuffle path is exercised (at test scale Catalyst
    would otherwise just broadcast the replicated dim)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, "join_salted_skew")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Generate" in p and "explode" in p  # build-side replication
    # the join exchange must partition on the composite (key, salt)
    import re

    assert re.search(r"hashpartitioning\(skew_key#\d+L?, __salt#\d+", p), (
        "join shuffle must be keyed on (skew_key, __salt):\n" + p
    )


def test_q5_all_dims_broadcast_single_agg_exchange(spark):
    """TPC-H Q5: five dims broadcast into the lineitem scan; the only
    shuffle is the final n_name aggregate."""
    p = plan(spark, "tpch_q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in p


def test_merge_upsert_single_shuffle_on_key(spark):
    """MERGE lowers to union + one keyed window: exactly one hash
    exchange on the merge key, no join nodes, and WindowGroupLimit
    pre-filters to rank 1 on the map side before the shuffle."""
    p = plan(spark, "merge_upsert_orders")
    assert "Window" in p
    assert_no_join_node(p)
    assert "WindowGroupLimit" in p
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1


def test_partitioned_sink_read_prunes_partitions(spark):
    """The hive-partitioned write must be read back with the status
    filter landing in PartitionFilters — the scan lists only the
    o_orderstatus=F directory, never the other partitions (the lever
    that makes date-partitioned 100 TB layouts readable)."""
    import re

    p = plan(spark, "sink_partitioned_parquet")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, "scan must expose PartitionFilters:\n" + p
    assert "o_orderstatus" in m.group(1)


def test_q6_predicates_all_push_to_scan(spark):
    """Q6 is the pure scan-aggregate: shipdate range, discount band
    and quantity cap must ALL reach the parquet reader."""
    p = plan(spark, "tpch_q6_forecast_revenue")
    m = [l for l in p.splitlines() if "PushedFilters" in l]
    assert m, p
    pf = " ".join(m)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"


def test_scd2_build_single_shuffle(spark):
    """Both SCD2 windows (change-compression lag + interval-close
    lead) partition by the same key, so Catalyst must plan ONE
    exchange on o_custkey for the whole history build."""
    p = plan(spark, "scd2_customer_history")
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1, p


def test_decontaminate_probe_is_broadcast_semi(spark):
    """The benchmark-shingle membership probe must be a broadcast
    left-semi hash join — the 100 TB corpus side shuffles nothing for
    the probe (the benchmark shingle dictionary is the small side by
    construction)."""
    p = plan(spark, "dedup_decontaminate")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    # and the probe must join on the hashed shingle, not raw text
    assert "xxhash64" in p


def test_repetition_is_pure_projection(spark):
    """The Gopher repetition stats must stay a scan + project — any
    keyed exchange or join here would mean the per-row n-gram counting
    leaked into a shuffle. (The round-robin fan_out repartition is the
    documented test-scale parallelism lever, not a data shuffle.)"""
    p = plan(spark, "text_repetition")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert_no_join_node(p)


def test_boilerplate_dictionary_joins_broadcast(spark):
    """Line-level boilerplate removal: the frequent-line dictionary
    (df > max_df, the small Zipf tail) must come back to the exploded
    corpus as a BROADCAST join keyed on the md5 digest — the corpus
    never shuffles for the flagging pass; the only corpus-keyed
    exchanges are the df count and the per-doc reassembly."""
    p = plan(spark, "dedup_boilerplate_lines")
    assert "BroadcastHashJoin" in p, p
    assert "md5" in p


def test_kmeans_step_single_keyed_shuffle(spark):
    """One Lloyd round = one shuffle: assignment is a projection, so
    the only hash exchange is the (cell, dim) mean aggregation — a
    k·d-key groupBy, map-side combined."""
    p = plan(spark, "embedding_kmeans_step")
    assert p.count("hashpartitioning(") == 1, p
    assert_no_join_node(p)


def test_hash_split_is_pure_projection(spark):
    """The deterministic split adds zero exchanges — it must stay a
    scan + project so it costs nothing at 100 TB."""
    p = plan(spark, "sample_hash_split")
    assert "Exchange" not in p
    assert_no_join_node(p)


def test_chunk_windows_is_pure_projection(spark):
    """Token-window chunking must stay scan + project + generate —
    zero exchanges, zero Python — so chunking a 100 TB corpus runs at
    parquet-scan speed on the scan's own partitioning."""
    p = plan(spark, "text_chunk_windows")
    assert "Exchange" not in p
    assert "Generate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quantize_int8_is_pure_projection(spark):
    """int8 quantization is a per-row transform: no exchange, no
    Python, one scan pass over the embedding store."""
    p = plan(spark, "embedding_quantize_int8")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pack_sequences_single_shard_shuffle(spark):
    p = plan(spark, "sample_pack_sequences")
    assert "Window" in p
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1


def test_materialize_cuts_lineage(spark):
    """partitioning.materialize must truncate lineage: the
    materialized node is a plain RDD scan, with no Aggregate/Range
    ancestry left in the plan (iterative fixpoints such as
    connected_components rely on it)."""
    from trading212_etl_spark.partitioning import materialize

    agg = spark.range(64).selectExpr("id", "id % 7 AS k").groupBy("k").count()
    p = materialize(agg)._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in p and "Range" not in p, p


def test_connected_components_frontier_both_broadcast_arms(spark, monkeypatch):
    """The distributed closure joins edges against the CHANGED labels
    only, broadcasting the frontier when its rows times its row width
    fit spark.sql.autoBroadcastJoinThreshold. A threshold of the pair
    table's bytes minus one keeps the graph off the driver arm. On
    this path graph (diameter 5) the seeded frontier then holds 6
    labels (96 bytes, shuffle join) and every later one at most 4
    (broadcast), so round 1 shuffles and rounds 2-5 broadcast; -1
    shuffles every round. At the default threshold with
    CC_DRIVER_MAX_PAIRS below the pair count, every round broadcasts.
    Each regime must reach the exact closure, and exhausting the round
    budget must stay a loud failure. At the default threshold and cap
    the graph closes on the driver: no rounds, no frontier broadcast,
    and the round budget cannot run out."""
    import pytest
    from pyspark.sql import functions as F

    from trading212_etl_spark.operators import dedup
    from trading212_etl_spark.operators.dedup import connected_components

    hinted = []
    real_broadcast = F.broadcast
    monkeypatch.setattr(
        F, "broadcast", lambda df: hinted.append(df) or real_broadcast(df)
    )
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 4), (5, 6), (10, 11)],
        ["doc_a", "doc_b"],
    )
    n_pairs = pairs.count()
    pair_bytes = n_pairs * pairs._jdf.schema().defaultSize()
    want = {(i, 1) for i in range(1, 7)} | {(10, 10), (11, 10)}
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    driver_max = dedup.CC_DRIVER_MAX_PAIRS
    for threshold, max_pairs, broadcast_rounds, budget_fails in (
        ("-1", driver_max, 0, True),
        (str(pair_bytes - 1), driver_max, 4, True),
        (old, n_pairs - 1, 5, True),
        (old, driver_max, 0, False),
    ):
        spark.conf.set(key, threshold)
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_PAIRS", max_pairs)
        hinted.clear()
        try:
            got = {
                (r.doc_id, r.component)
                for r in connected_components(pairs).collect()
            }
            assert got == want, (threshold, max_pairs)
            assert len(hinted) == broadcast_rounds, (threshold, max_pairs)
            with monkeypatch.context() as mp:
                mp.setattr(dedup, "CC_MAX_ROUNDS", 1)
                if budget_fails:
                    with pytest.raises(RuntimeError, match="did not converge"):
                        connected_components(pairs)
                else:
                    assert connected_components(pairs).count() == len(want)
        finally:
            spark.conf.set(key, old)


def test_remove_near_dups_broadcasts_driver_closed_drop_set(spark):
    """A pair graph that fits the broadcast threshold closes on the
    driver into a local relation built from Arrow, so the survivor
    anti-join plans as a broadcast hash join — in any session,
    including one with Arrow conversion off."""
    from trading212_etl_spark.operators.dedup import remove_near_dups

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"])
    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        kept = remove_near_dups(docs, pairs)
    finally:
        spark.conf.set(key, old)
    p = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        set(range(20)) - {2, 3, 8}
    )


def test_model_quality_filter_zero_shuffle_no_python(spark):
    """The hashing-trick classifier application must be a pure
    projection: no exchange (it is a per-row score) and no Python in
    the row path (the weight lookup is a Catalyst lambda)."""
    p = plan(spark, "text_model_quality_filter")
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    # no keyed exchange or join — the round-robin fan_out repartition
    # is the documented test-scale parallelism lever, not a data shuffle
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert_no_join_node(p)


def test_asof_tolerance_single_exchange_on_key(spark):
    """The tolerance variant must keep the backward as-of plan: one
    exchange on the join key, no extra shuffle for the staleness
    projection."""
    p = plan(spark, "join_asof_tolerance")
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1, p


def test_point_in_time_join_is_asof_merge_not_a_join(spark):
    """The SCD2 point-in-time lookup (r9 shape): a backward as-of
    merge — tagged union + one keyed running window — with NO pair
    join at all. The former equi-key hash join evaluated its validity
    -range residual per (event × interval) pair within a key, which
    is quadratic on a hot customer: the Zipf(1.1) skew sweep pinned
    it at 213 s vs ~3 s for this form. Any Join node here is a
    regression."""
    p = plan(spark, "join_point_in_time")
    assert_no_join_node(p)
    assert ") Window" in p  # the carry window (plus SCD2's builds)
    assert "Union" in p  # events ∪ dim rows on the (key, ts) spine
    assert "BatchEvalPython" not in p


def test_profile_quantiles_single_agg_exchange(spark):
    """Exact quantiles shuffle once on the group key — partial_
    percentile map-side state, one hashpartitioning exchange."""
    p = plan(spark, "profile_quantiles")
    assert len([l for l in p.splitlines() if ") Exchange" in l]) == 1, p


def test_sample_weighted_is_take_ordered(spark):
    """Weighted-sample top-k must compile to TakeOrderedAndProject —
    each partition ships its local top 100, never a global sort."""
    p = plan(spark, "sample_weighted")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_vwap_single_exchange(spark):
    """The VWAP rollup is scan -> partial agg -> ONE exchange ->
    final agg; the JSON extraction must not add a shuffle."""
    import re

    p = plan(spark, "events_vwap_hourly")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "BatchEvalPython" not in p


def test_fifo_pnl_plan_shape(spark):
    """FIFO P&L (r7 shape): a sorted merge over ONE keyed window —
    carry last buy/sell lot + lead over the breakpoint spine — with NO
    pair join at all.  The former account-equi + range-residual hash
    join probed O(buys x sells) per key and ground a 30%-hot-key
    straggler for 4+ minutes in the skew sweep; any Join node here is
    a regression.  Whole chain stays JVM-side.  r14 removed the
    buy/sell self-UNION spine too (each branch re-ran the scan and the
    per-account ordered window): conditional running sums over one
    pass emit the identical spine rows, so no Union either."""
    p = plan(spark, "portfolio_fifo_pnl")
    assert "NestedLoop" not in p
    assert_no_join_node(p)  # no pair join of the buy/sell interval sets
    assert ") Window" in p  # the single carry/lead window pass
    assert "Union" not in p  # r14: one-pass spine, no self-union
    assert "BatchEvalPython" not in p


def test_drawdown_single_exchange(spark):
    """Equity-curve drawdown: two stacked windows + final agg over ONE
    exchange on the account key (window partitioning == agg key, so
    the aggregate reuses the window's shuffle)."""
    import re

    p = plan(spark, "portfolio_max_drawdown")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1


def test_winsorize_broadcasts_cuts(spark):
    """The percentile cut points join back as a broadcast — the fact
    side never shuffles for the clamp."""
    p = plan(spark, "clean_winsorize_prices")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # the clamp pass itself must not shuffle the fact table
    assert "Exchange hashpartitioning(o_orderkey" not in p


def test_ordered_scans_have_no_unpartitioned_window_over_data(spark):
    """The r3 verdict's scale-killer fix: the five rank/ECDF entries
    must not move their (unbounded-cardinality) frame through a
    single-partition WindowExec. After the ordered_prefix rewrite,
    every window over DATA is partitioned on the sort-key bucket;
    the only permitted unpartitioned stage is the final scalar
    aggregate (gini/KS/U emit one row), which is a partial-agg +
    SinglePartition reduce, not a window. We assert on the window
    specs directly: every windowspecdefinition in the plan names a
    partition column before its ORDER BY."""
    import re

    for name in (
        "orders_pareto_8020",
        "orders_gini_coefficient",
        "orders_rfm_segments",
        "drift_value_ks_distance",
        "drift_value_mann_whitney",
    ):
        df = registry.QUERIES[name](spark, SF)
        simple = df._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", simple):
            args = m.group(1)
            # A partitioned spec reads (part..., order ASC/DESC ...,
            # frame); an unpartitioned one starts at the ORDER BY,
            # so its FIRST argument carries the sort direction.
            first = args.split(",")[0]
            assert " ASC" not in first and " DESC" not in first, (
                f"{name}: unpartitioned window over data: {args[:120]}"
            )


def test_ordered_prefix_sort_stage_is_parallel(spark):
    """>1 partition must survive the sort stage: the pareto scan's
    row_number window hash-partitions on its sort-key bucket (the
    session's shuffle partitions), not SinglePartition, and no range
    exchange samples the input."""
    df = registry.QUERIES["orders_pareto_8020"](spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bucket" in simple
    assert "rangepartitioning" not in simple
    # the lone SinglePartition exchanges allowed are under the
    # broadcasts of the one-row key bounds and the metadata-sized
    # offsets frame — no SinglePartition may feed a Sort over the
    # data frame
    import re

    for m in re.finditer(r"Exchange SinglePartition[^\n]*\n([^\n]*)", simple):
        nxt = m.group(1)
        assert "Sort" not in nxt, f"single-partition sort stage: {nxt[:120]}"


def test_minhash_lsh_guard_is_window_not_join(spark):
    """The hot-bucket guard's per-bucket count/min must come from a
    WINDOW over the banded frame — one (band_idx, band_hash) exchange
    serving guard + grouping. The r5 form (separate aggregate joined
    back on the band keys) never hit ReuseExchange — the aggregate's
    exchange carries a partial-agg subtree the join's doesn't — so the
    signature pipeline executed twice (2.03→3.91 s at sf0.1). Pin the
    shape: a Window node exists and NO join is keyed on band_hash
    (the only joins left are the verify joins on doc_a/doc_b)."""
    import re

    p = plan(spark, "dedup_minhash_lsh")
    assert "Window" in p
    # formatted-mode details list join keys right under the join node
    # header; band keys appearing in any join's key list is the
    # regression shape
    for m in re.finditer(r"\(\d+\) (?:SortMerge|BroadcastHash|ShuffledHash)Join", p):
        tail = p[m.end():m.end() + 400]
        assert "band_hash" not in tail, "guard join on band keys is back"


def test_bm25_broadcasts_and_two_phase_topk(spark):
    """text_bm25_topk: the query-term list and term stats join
    broadcast (no corpus-sized shuffle for the probe), and the
    per-query top-k runs TWO windows — per-(query, partition) heads
    then the survivor pass — so no window partition is data-sized."""
    p = plan(spark, "text_bm25_topk")
    assert p.count("BroadcastHashJoin") >= 2
    # phase-1 heads window is partitioned by (query_id, __pid); the
    # final pass by query_id alone over <= k*parts survivors
    assert "windowspecdefinition(query_id#" in p
    assert ", __pid#" in p


def test_ivf_partitioned_probe_prunes_partitions(spark):
    """sink_ivf_partitioned_ann: the probe join keys on the PARTITION
    column of the cell-partitioned corpus with a broadcast query side,
    so dynamic partition pruning must appear on the scan — the probe
    reads n_probe cell directories, not the corpus."""
    p = plan(spark, "sink_ivf_partitioned_ann")
    assert "dynamicpruningexpression(cell" in p
    assert "BroadcastHashJoin" in p


def test_scaled_shuffle_partitions_grows_with_corpus_bytes(spark, tmp_path):
    """The partitions-scale-with-bytes deployment rule is CODE
    (session.shuffle_partitions_for). Harness-SF corpora sit at the
    core-count floor (sf0.1 is ~17.5 MB = 3 × 8 MiB) and the count
    grows to ~bytes/8MiB once a corpus outruns it — the 125x corpus
    (~2 GB) must land near the measured bm25 optimum (256), never
    above the 4096 cap."""
    from trading212_etl_spark.session import input_bytes, shuffle_partitions_for

    cores = spark.sparkContext.defaultParallelism
    sf01 = "/root/testdata/sf0.1"
    assert shuffle_partitions_for(cores, input_bytes(sf01)) == max(cores, 3)
    for fake_bytes, lo, hi in [
        (2_000_000_000, 200, 300),   # the 125x corpus
        (400_000_000, 33, 64),       # the 25x corpus
        (10**14, 4096, 4096),        # 100 TB -> capped
    ]:
        got = shuffle_partitions_for(cores, fake_bytes)
        assert lo <= got <= hi, (fake_bytes, got)
    # unreadable path -> floor, not an exception
    assert shuffle_partitions_for(cores, input_bytes(str(tmp_path / "nope"))) == cores


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _physical_nodes(node, into_exchanges: bool = True):
    """Every node of a physical plan, descending into AQE's input
    plan and cached relations' plans; with ``into_exchanges=False``
    the walk stops at exchanges — the nodes of ONE stage."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.inputPlan())
        elif cls == "InMemoryTableScanExec":
            stack.append(n.relation().cachedPlan())
        if into_exchanges or "Exchange" not in cls:
            stack.extend(_seq(n.children()))


def _is_file_scan(node) -> bool:
    cls = node.getClass().getSimpleName()
    return cls.endswith("ScanExec") and cls != "InMemoryTableScanExec"


def _tokenizes(node) -> bool:
    return any("regexp_extract_all" in e.toString() for e in _seq(node.expressions()))


def tokenizer_below_fan_out(df, whole_subtree: bool) -> list[str]:
    """Operators that evaluate ``regexp_extract_all`` below a
    ``fan_out`` exchange (RoundRobinPartitioning): anywhere beneath it
    with ``whole_subtree``, else only in a map stage that reads a file
    scan — the under-split input fan_out exists to widen (a map stage
    fed by another shuffle already runs wide). Asserts the plan has
    such an exchange, so a pass is never vacuous."""
    root = df._jdf.queryExecution().executedPlan()
    exchanges = [
        n
        for n in _physical_nodes(root)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and n.outputPartitioning().toString().startswith("RoundRobinPartitioning")
    ]
    assert exchanges, "no fan_out exchange in the plan"
    found = []
    for x in exchanges:
        nodes = list(_physical_nodes(x.child(), into_exchanges=whole_subtree))
        if whole_subtree or any(_is_file_scan(n) for n in nodes):
            found += [n.nodeName() for n in nodes if _tokenizes(n)]
    return found


def test_curation_tokenizes_only_above_fan_out(spark):
    """pipeline_curate_corpus: the quality/language filter must not be
    pushed through the scoring projections and fan_out's round-robin
    exchange down to the scan, where it inlined the tokenizer (21
    regexp_extract_all per row) into a one-task Filter and the
    tokenizer then ran again after the exchange. Nothing below the
    exchange may tokenize."""
    for name in ("pipeline_curate_corpus", "pipeline_curate_corpus_lsh"):
        df = registry.QUERIES[name](spark, SF)
        assert tokenizer_below_fan_out(df, whole_subtree=True) == [], name


def test_quality_score_counts_each_input_once(spark):
    """text_quality_score's scored stage runs the regex tokenizer and
    the symbol-deleting regexp_replace once each per row: no
    match-array symbol count, no per-token lambda sum, and the scores
    read the counts as attributes (the tokenizer's projection holds
    no score arithmetic)."""
    df = registry.QUERIES["text_quality_score"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("regexp_replace(") == 1, p
    assert p.count("regexp_extract_all(") == 1, p
    assert "regexp_extract_all(lower(text" in p, p
    assert "aggregate(" not in p, p
    tokenizer_line = next(l for l in p.splitlines() if "regexp_extract_all(" in l)
    assert "CASE WHEN" not in tokenizer_line, tokenizer_line


# at least one registry entry per fan_out call site (operators/dedup.py,
# operators/textual.py, operators/similarity.py, registry/llm.py)
FAN_OUT_SITES = [
    "dedup_jaccard_pairs",          # dedup._shingle_sets
    "dedup_boilerplate_lines",      # dedup.dedup_lines
    "dedup_simhash",                # dedup.simhash
    "dedup_substring_spans",        # dedup.substring_span_pairs
    "text_quality_score",           # textual.score_docs (_with_tokens)
    "text_tfidf_topk",              # textual._with_tokens + explode
    "text_unigram_lm_score",        # textual._with_tokens + explode
    "text_bm25_topk",               # textual._with_tokens + explode
    "similarity_topk_bruteforce",   # similarity.cosine_topk_bruteforce
    "similarity_topk_lsh",          # similarity.cosine_topk_lsh
    "similarity_topk_ivf",          # similarity.cosine_topk_ivf
    "embedding_near_dup_lsh",       # similarity.embedding_near_dup_pairs_lsh
    "embedding_kmeans_step",        # similarity.kmeans_lloyd_step
    "similarity_hard_negatives",    # registry/llm.py
    "similarity_matryoshka_recall", # registry/llm.py
]


def test_fan_out_map_stages_run_no_tokenizer(spark):
    """Every fan_out call site: the scan stage feeding a round-robin
    exchange never tokenizes. A filter over token-derived columns
    (including the size(arr) > 0 that an inner explode of a token
    column infers) is pushed through the exchange with the tokenizer
    inlined; tokenizing before fan_out runs it in the one task of an
    under-split scan."""
    bad = {}
    for name in FAN_OUT_SITES:
        found = tokenizer_below_fan_out(registry.QUERIES[name](spark, SF), False)
        if found:
            bad[name] = found
    assert bad == {}


def test_approx_sketches_refutation_bounds(spark):
    """VERDICT r10 item 6: error-BOUND refutation for the sketch
    aggregates on an adversarial corpus — built so a wrong sketch
    config measurably fails, not just 'close on friendly data'.

    Corpus: 200k distinct xxhash64 keys (HLL stress: every row a new
    register update) and v = i² (t-digest stress: quadratic spread
    makes rank error visible in the value). Published bounds:
    - approx_count_distinct(rsd=0.02): |est−N|/N ≤ 3·rsd (99.7%
      envelope; HLL++ is deterministic for fixed data — no RNG — so
      this is a stable assertion, not a flaky one);
    - percentile_approx(accuracy=a): rank error ≤ N/a = 20 rows, i.e.
      sqrt(estimate) within ±(20+1) of the target rank.
    Refutation power, asserted deterministically on the same data: a
    WRONG config (rsd=0.2 ~ small lgK; accuracy=20) lands far outside
    these bounds (measured 54% distinct error and ~2,659-row rank
    error), so a silent lgK/compression regression fails this test."""
    from pyspark.sql import functions as F

    N = 200_000
    # A fixed partition count: the merged sketches depend on how the
    # rows are split, and spark.range(N) alone takes defaultParallelism
    # partitions (at 4 the accuracy-20 median lands at rank error 1).
    df = spark.range(0, N, 1, 32).selectExpr(
        "xxhash64(id) AS k",
        "cast(id AS double) * cast(id AS double) AS v",
    )
    row = df.agg(
        F.approx_count_distinct("k", rsd=0.02).alias("d_good"),
        F.approx_count_distinct("k", rsd=0.2).alias("d_bad"),
        F.percentile_approx("v", 0.5, 10000).alias("med_good"),
        F.percentile_approx("v", 0.5, 20).alias("med_bad"),
        F.percentile_approx("v", 0.9, 10000).alias("p90_good"),
    ).first()
    # HLL++ within the 3-sigma envelope of its rsd...
    assert abs(row["d_good"] - N) <= 3 * 0.02 * N, row["d_good"]
    # ...and the bound REFUTES a mis-sized sketch on this same corpus
    assert abs(row["d_bad"] - N) > 3 * 0.02 * N, row["d_bad"]

    def rank_of(value: float) -> float:
        return value ** 0.5  # v = i² → rank(v) = i (+1, absorbed below)

    max_rank_err = N / 10000 + 1  # 21 rows
    assert abs(rank_of(row["med_good"]) - 0.5 * N) <= max_rank_err
    assert abs(rank_of(row["p90_good"]) - 0.9 * N) <= max_rank_err
    # wrong compression: orders of magnitude outside the rank bound
    assert abs(rank_of(row["med_bad"]) - 0.5 * N) > 100


def test_decontaminate_bloom_prefilter_is_shuffle_free(spark):
    """The Bloom pre-filter must ride the corpus scan: three broadcast
    hash joins on the word index (one per hash function) and ZERO
    additional exchanges between the corpus scan and the exact-confirm
    semi join — the whole point is that a 100 TB probe side tests its
    bits without shuffling. The confirm join stays the broadcast
    left-semi of the plain entry."""
    p = plan(spark, "dedup_decontaminate_bloom")
    assert "LeftSemi" in p, p
    # k=3 bloom word-index joins + the confirm semi join, all
    # broadcast — count numbered NODES, not substrings (formatted mode
    # prints each node name twice, tree + detail, so a substring count
    # of 4 would only guarantee 2 joins; ADVICE r11)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)) >= 4, p
    # every hash exchange sits on a SMALL side: the bench distinct,
    # ONE bloom-build aggregate (the built summary is frozen since
    # r12, so the k joins share a single build instead of repeating
    # the subtree per hash function), and the final per-doc count
    # aggregate. The corpus-probe path itself — scan → explode →
    # 3 bloom joins → confirm semi join — shuffles NOTHING: a
    # probe-side exchange would grow this count and fail the pin.
    # (The plan's remaining exchanges are fan_out round-robins.)
    assert len(re.findall(r"Arguments: hashpartitioning", p)) == 3, p


def test_bounded_pairs_plan_has_no_shingle_self_join(spark, monkeypatch):
    """With the top-k candidate bound active (VERDICT r11 item 2), the
    exact-pair plan must contain NO shingle self-join — candidates
    come from the checkpointed LSH band frame (one signature pipeline,
    served to its three consumers as Scan ExistingRDD) and only the
    successor explode generates rows. A SortMergeJoin or a second
    Generate here means the quadratic shingle co-occurrence crept
    back in."""
    monkeypatch.setenv("SPARK_GRAFT_PAIRS_TOP_K", "8")
    p = plan(spark, "dedup_jaccard_pairs")
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0, p
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", p, re.M)) >= 3, p
    # the only Generate is the successor-array explode; the shingle
    # explode lives inside the checkpointed candidate pipeline
    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 1, p


def test_incremental_snapshot_joins_persisted_sink(spark):
    """The incremental entry must read the snapshot state from the
    Parquet sink (two file scans: bands + signatures) and never
    recompute snapshot signatures: exactly one signature aggregation
    pipeline (the batch's own) may appear in the plan."""
    p = plan(spark, "dedup_incremental_snapshot")
    assert "minhash_sink_md5" in p, p[:2000]
    # exactly the sink's two tables arrive as parquet scans (bands +
    # signatures); the batch's own signatures are cut off by
    # materialize()'s checkpoint and appear as Scan ExistingRDD — so
    # count numbered nodes (formatted mode prints each name twice,
    # tree + detail; ADVICE r11), and pin the single exchange: the
    # batch signature aggregation, the only shuffle in the plan.
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 2, p[:2000]
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", p, re.M)) >= 1, p[:2000]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p[:2000]


def test_rake_single_scan_no_token_level_joinback(spark):
    """r14 one-pass RAKE shape: one documents scan feeding one pinned
    token frame; plen rides a (doc, run) count window (no words =
    runs JOIN phrases token-level join-back), and the phrase string
    joins the RUN-LEVEL score frame — two physical joins total (the
    vocabulary score lookup + the run-level phrase attach). A third
    join or a second parquet scan means the r13 double join-back
    crept back in."""
    p = plan(spark, "text_rake_keyphrases")
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1, p[:2000]
    # ADVICE r14: count with the full physical-join-node family (the
    # module-level _JOIN_NODE pattern) — the rake plan has no
    # allowlisted nested-loop join, so a regression that plans as
    # BroadcastNestedLoopJoin/CartesianProduct must fail this too.
    n_joins = len(
        re.findall(r"^\(\d+\) " + _JOIN_NODE.pattern, p, re.M)
    )
    assert n_joins == 2, f"expected 2 joins (wscore + phrase attach), got {n_joins}"
    # the plen window (full-frame count over doc_id, run_id) must exist
    assert re.search(r"count\(1\) windowspecdefinition\(doc_id", p), p[:2000]


def test_type_lift_basket_single_scan_no_self_join(spark):
    """r14 basket shape: one events scan, session baskets via
    collect_set riding the sessionize windows' user_id exchange, and
    NO (user, session)-keyed self-join — the only equi-joins left are
    the two broadcast type-count lookups (the 1-row session total is
    the allowlisted nested loop)."""
    p = plan(spark, "events_type_lift_matrix")
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1, p[:2000]
    assert "collect_set(event_type" in p, p[:2000]
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0, p[:2000]
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M))
    assert n_bhj == 2, f"expected 2 broadcast type-count lookups, got {n_bhj}"


def test_curate_pair_stage_prunes_before_rounding(spark, monkeypatch):
    """pipeline_curate_corpus' exact pair stage (the plan its
    connected_components collects): the self-join's condition holds
    the size bound least(|A|, |B|) ≥ τ′·greatest(|A|, |B|), and the
    aggregate's output is cut on the unrounded J ≥ τ′ ahead of
    round(J, 4)."""
    from trading212_etl_spark.operators import dedup

    captured = []
    closure = dedup.connected_components

    def capture(pairs):
        captured.append(pairs)
        return closure(pairs)

    monkeypatch.setattr(dedup, "connected_components", capture)
    registry.QUERIES["pipeline_curate_corpus"](spark, SF)
    (pairs,) = captured
    nodes = list(_physical_nodes(pairs._jdf.queryExecution().executedPlan()))

    def exprs(n):
        return " ".join(e.toString() for e in _seq(n.expressions()))

    floor = repr(dedup.rounding_floor(dedup.JACCARD_THRESHOLD, 4))
    joins = [n for n in nodes if _JOIN_NODE.fullmatch(n.nodeName())]
    assert joins and all(
        "least(" in n.condition().toString() and floor in n.condition().toString()
        for n in joins
    )
    cuts = [
        exprs(n) for n in nodes if n.nodeName() == "Filter" and "round(" in exprs(n)
    ]
    assert cuts and all(0 <= c.find(f">= {floor}") < c.find("round(") for c in cuts)
