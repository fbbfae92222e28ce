"""Unit + plan tests for the governance suite (operators/quality.py):
constraint-report semantics on crafted frames (including NULLs and
violations the clean testdata can't exercise), snapshot-diff
classification with NULL compare columns, and the scale-shape plan
properties (single aggregate pass, broadcast FK probe)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from trading212_etl_spark.operators.quality import (
    constraint_report,
    referential_orphans,
    snapshot_diff,
)


def _report_dict(df):
    return {r["check_name"]: (r["metric"], r["passed"]) for r in df.collect()}


def test_constraint_report_detects_violations(spark):
    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, None, -5.0),
            (2, "b", 20.0),
            (3, "zz", 30.0),
        ],
        "id INT, tag STRING, amount DOUBLE",
    )
    rep = _report_dict(
        constraint_report(
            df,
            completeness=["tag"],
            unique=["id"],
            bounds={"amount": (0.0, None)},
            in_set={"tag": ["a", "b"]},
        )
    )
    assert rep["completeness(tag)"] == (0.75, False)
    assert rep["unique(id)"] == (0.75, False)
    assert rep["bounds(amount)"] == (0.75, False)
    # NULL tag fails in_set too: 2 of 4 rows are in {a, b}
    assert rep["in_set(tag)"] == (0.5, False)


def test_constraint_report_clean_data_passes(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id INT, tag STRING"
    )
    rep = _report_dict(
        constraint_report(
            df, completeness=["tag"], unique=["id"], bounds={}, in_set={}
        )
    )
    assert all(passed for _, passed in rep.values())
    assert all(metric == 1.0 for metric, _ in rep.values())


def test_referential_orphans_counts(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,), (9,)], "fk INT")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk INT")
    row = referential_orphans(fact, "fk", dim, "pk").collect()[0]
    assert row["check_name"] == "referential(fk)"
    assert row["metric"] == 0.5  # 2 of 4 fact rows orphaned
    assert row["passed"] is False


def test_snapshot_diff_classification_with_nulls(spark):
    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)],
        "k INT, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 31.0), (5, 50.0)],
        "k INT, v DOUBLE",
    )
    out = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, "k", ["v"]).collect()
    }
    # k=1 unchanged (dropped); k=2 NULL==NULL unchanged (dropped —
    # the presence-marker guard: a NULL value must not read as a
    # missing row); k=3 changed; k=4 removed; k=5 added.
    assert out == {3: "changed", 4: "removed", 5: "added"}


def test_constraint_report_single_scan_plan(spark):
    """All declared single-table metrics must ride ONE aggregate over
    one scan — the plan may contain exactly one parquet/LocalTableScan
    leaf and no join."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("bucket")
    )
    rep = constraint_report(
        df,
        completeness=["bucket"],
        unique=["id"],
        bounds={"id": (0.0, None)},
        in_set={},
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rep.explain(mode="formatted")
    p = buf.getvalue()
    assert "Join" not in p
    assert p.count("Scan") <= 1 or p.count("Range") <= 1


def test_referential_probe_broadcasts_dim(spark):
    """The FK probe must broadcast the dimension — the fact side never
    shuffles."""
    fact = spark.range(1000).select(F.col("id").alias("fk"))
    dim = spark.range(100).select(F.col("id").alias("pk"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        referential_orphans(fact, "fk", dim, "pk").explain(mode="formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_entity_pairs_blocked_pairs_and_blocks(spark):
    from trading212_etl_spark.operators.quality import entity_pairs_blocked

    ents = spark.createDataFrame(
        [
            (1, "Acme Corp", "US"),
            (2, "Acme Crop", "US"),   # 2 edits from Acme Corp (transposition)
            (3, "Acme Corp", "DE"),   # identical name, different block
            (4, "Zenith Ltd", "US"),  # same block, far name
            (5, "Acme Co", "US"),     # 2 edits from Acme Corp
        ],
        "id INT, name STRING, country STRING",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in entity_pairs_blocked(ents, "id", "name", ["country"]).collect()
    }
    # (1,2), (1,5) and (2,5) ("Crop"→"Co" = delete r, p) are all
    # within 2 edits; 3 is blocked apart despite the identical name;
    # 4 matches nothing.
    assert pairs == {(1, 2), (1, 5), (2, 5)}


def test_entity_resolution_clusters_are_transitive(spark):
    """A typo chain a-b-c where a-c exceeds the edit cap must still
    land in ONE cluster via connected components — the property the
    one-round closed form can't give on chain graphs."""
    from trading212_etl_spark.operators.dedup import connected_components
    from trading212_etl_spark.operators.quality import entity_pairs_blocked

    ents = spark.createDataFrame(
        [
            (10, "abcdef", "X"),
            (11, "abcdxx", "X"),  # 2 from abcdef
            (12, "abxxxx", "X"),  # 2 from abcdxx, 4 from abcdef
        ],
        "id INT, name STRING, country STRING",
    )
    pairs = entity_pairs_blocked(ents, "id", "name", ["country"])
    got = {
        (r["doc_id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(10, 10), (11, 10), (12, 10)}


def test_presence_bitmap_day_domain(spark):
    """Loud domain assertion for the presence-bitmap entries (ADVICE
    r3): the [0, 62] day-idx guard is applied IDENTICALLY by the Spark
    entry and its DuckDB oracle, so a corpus that outgrows the 63-day
    domain would be truncated invisibly on both sides — the parity
    gate cannot notice dropped rows. This test is the tripwire: it
    fails the suite the day the events corpus reaches day_idx 63
    (where shiftleft(1L, 63) wraps into the sign bit on Spark and
    1::BIGINT << 63 overflows on DuckDB), forcing a widening of the
    mask (two-long bitmap) instead of a silent drop."""
    import glob
    import os

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}"
        if not glob.glob(os.path.join(path, "events.parquet*")):
            continue
        checked += 1
        from trading212_etl_spark.sources import load_table

        ev = load_table(spark, path, "events")
        bounds = ev.select(
            F.min(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
            ).alias("lo"),
            F.max(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
            ).alias("hi"),
        ).first()
        assert bounds["lo"] >= 0 and bounds["hi"] <= 62, (
            f"{sf}: events day_idx spans [{bounds['lo']}, {bounds['hi']}] — "
            "outside the presence-bitmap single-BIGINT domain [0, 62]; "
            "widen the mask rather than letting the guard drop rows"
        )
    # a tripwire that checked zero corpora is a silent no-op (ADVICE
    # r4): fail loudly if the testdata location moved
    assert checked > 0, (
        "no /root/testdata/sf*/events.parquet found — the day-63 "
        "tripwire ran vacuously; update the testdata paths"
    )


def test_attribution_linear_credit_conservation(spark, sf_dir):
    """Every purchase distributes AT MOST 1e6 ppm (floor truncation
    loses < k ppm per purchase, never gains), and exactly 1e6 for
    purchases with 0 or 1 prior channels — so total credited ppm is
    bounded by n_purchases * 1e6 and within n_purchases * 16 of it
    (k <= 16 distinct channel types in the corpus)."""
    from pyspark.sql import functions as F

    from trading212_etl_spark.registry import QUERIES
    from trading212_etl_spark.sources import load_table

    out = QUERIES["events_attribution_linear"](spark, sf_dir).toPandas()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    total = int(out["credit_ppm_total"].sum())
    assert total <= n_purchases * 1_000_000
    assert total >= n_purchases * (1_000_000 - 16)


def test_bm25_degenerate_uniform_corpus(spark):
    """All-identical corpus: every doc has identical tf/dl, so every
    matching doc scores identically and the top-k tie-break is pure
    doc_id order — the rank column must be 1..k over doc_id ascending
    (determinism under total ties, the bm25 boundary case)."""
    from trading212_etl_spark.operators.textual import bm25_topk

    docs = spark.range(50).selectExpr(
        "id AS doc_id", "'spark join window hash' AS text"
    )
    out = (
        bm25_topk(docs, [("q", ["spark", "join"])])
        .orderBy("rnk")
        .toPandas()
    )
    assert list(out["doc_id"]) == list(range(10))
    assert out["score_ppm"].nunique() == 1


def test_pq_adc_duplicate_vectors_tie_deterministically(spark, monkeypatch):
    """Duplicate embeddings produce identical codes and identical ADC
    distances; the top-k must break those ties by corpus_id — run
    twice and require byte-identical output (the determinism contract
    every registry entry carries)."""
    from pyspark.sql import functions as F

    from trading212_etl_spark.operators import similarity
    from trading212_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_data,
    )

    monkeypatch.setattr(similarity, "PQ_TOPK", 5)
    base = spark.range(40).selectExpr(
        "id AS vec_id",
        # only 4 distinct vectors, each repeated 10x
        "transform(sequence(1, 64), j -> CAST((id % 4) * j AS FLOAT))"
        " AS embedding",
    )
    cbs = pq_codebooks_from_data(base)
    a = (
        pq_adc_topk(base, base.filter(F.col("vec_id") < 2), cbs)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    b = (
        pq_adc_topk(base, base.filter(F.col("vec_id") < 2), cbs)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert a.equals(b)
    # within each query, equal distances must be ordered by corpus_id
    for _, g in a.groupby("query_id"):
        same = g[g["adc_dist"] == g["adc_dist"].min()]
        assert list(same["corpus_id"]) == sorted(same["corpus_id"])


def test_entity_pairs_blocked_hot_block_guard(spark, monkeypatch):
    """A block of n near-identical records emits C(n,2) edges on the
    exact path — the 125x probe OOM'd connected-components on exactly
    that clique mass (VERDICT-r10 finding). Over ``max_block`` the op
    must emit the hub star instead: the block's min-id record paired
    with every member within ``max_edit`` of IT (and only those), in
    O(block) edges; under the cap the exact all-pairs output is
    unchanged. Null block keys never pair on either path (equality
    join semantics)."""
    from pyspark.sql import functions as F

    from trading212_etl_spark.operators import dedup
    from trading212_etl_spark.operators.dedup import connected_components
    from trading212_etl_spark.operators.quality import entity_pairs_blocked

    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 40)
    n = 60
    ents = spark.range(n).selectExpr(
        "id",
        # ids 0..n-1 share one block and a near-identical name; id 13
        # gets a far name (edit distance > 2 from the hub)
        "CASE WHEN id = 13 THEN 'Zebra#999' ELSE concat('Acme#00', CAST(id % 2 AS STRING)) END AS name",
        "CAST(1 AS INT) AS country",
    ).unionByName(
        spark.range(100, 103).selectExpr(
            "id", "'Null#Key' AS name", "CAST(NULL AS INT) AS country"
        )
    )
    got = entity_pairs_blocked(ents, "id", "name", ["country"]).collect()
    pairs = {(r.doc_a, r.doc_b) for r in got}
    # star: hub (id 0) to every member within edit 2 - everyone except
    # the far name; null-key rows never pair
    assert pairs == {(0, i) for i in range(1, n) if i != 13}, sorted(pairs)[:5]
    # downstream clustering still sees one cluster around the hub
    comp = connected_components(
        spark.createDataFrame(sorted(pairs), "doc_a long, doc_b long")
    )
    assert comp.select("component").distinct().count() == 1
    # under the cap: exact all-pairs path unchanged (C(5,2) minus the
    # cross-parity pairs that exceed edit distance... here all names
    # within edit 2 of each other except none - 5 identical-parity
    # names pair fully)
    few = spark.range(5).selectExpr(
        "id", "concat('Acme#00', CAST(id AS STRING)) AS name",
        "CAST(1 AS INT) AS country",
    )
    exact = entity_pairs_blocked(few, "id", "name", ["country"])
    assert exact.count() == 10  # C(5,2)


def test_entity_pairs_blocked_null_name_hub(spark, monkeypatch):
    """ADVICE r10: if the over-cap block's min-id record has a NULL
    name, levenshtein(NULL, x) is NULL and the star filter drops
    EVERY row — the whole block silently emits zero edges. The hub
    must be the min-id row among NON-null-name rows, so the block
    still yields its star; a block whose names are all null emits
    nothing (matching exact-path semantics, where null names never
    satisfy the edit filter)."""
    from trading212_etl_spark.operators import dedup
    from trading212_etl_spark.operators.quality import entity_pairs_blocked

    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 40)
    n = 50
    ents = spark.range(n).selectExpr(
        "id",
        # id 0 (the min id) has a NULL name; the rest are near-identical
        "CASE WHEN id = 0 THEN NULL ELSE concat('Acme#00', CAST(id % 2 AS STRING)) END AS name",
        "CAST(1 AS INT) AS country",
    )
    got = entity_pairs_blocked(ents, "id", "name", ["country"]).collect()
    pairs = {(r.doc_a, r.doc_b) for r in got}
    # hub must skip the null-name id 0 and be id 1; the null-name row
    # itself never pairs (levenshtein NULL), everything else stars to 1
    assert pairs == {(1, i) for i in range(2, n)}, sorted(pairs)[:5]

    # all-null-name over-cap block: zero edges, not an error
    all_null = spark.range(n).selectExpr(
        "id", "CAST(NULL AS STRING) AS name", "CAST(1 AS INT) AS country"
    )
    assert (
        entity_pairs_blocked(all_null, "id", "name", ["country"]).count()
        == 0
    )
