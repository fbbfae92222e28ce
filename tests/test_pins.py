"""Pin lifecycle: the lazy persists freeze_partitions takes inside a
registry build must be released by the next build — a long-lived
session must not accumulate CacheManager entries (every cached entry
taxes every later query's canonicalized-plan lookup, ~1.3-1.5x at ~100
pins) — and a release must never free a pin its owner still uses."""

from __future__ import annotations

from pyspark.sql import functions as F

from trading212_etl_spark import partitioning, registry
from trading212_etl_spark.partitioning import (
    freeze_partitions,
    freeze_when_heavy,
    is_heavy,
    materialize,
    ordered_prefix,
)

from .test_plans import _confs
from .test_properties import ordered_prefix_reference

SF = "/root/testdata/sf0.001"


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


def _record_pins(monkeypatch) -> list:
    """Every frame freeze_partitions pins from here on, in order —
    handles for reading each pin's CacheManager state."""
    taken = []
    real = partitioning.freeze_partitions

    def freeze(df):
        taken.append(real(df))
        return taken[-1]

    monkeypatch.setattr(partitioning, "freeze_partitions", freeze)
    return taken


def test_registry_invocation_releases_prior_pins(spark, monkeypatch):
    """Invoking any registry entry releases the pins of the previous
    one: after a build->action->build cycle the CacheManager is empty
    again."""
    spark.catalog.clearCache()
    taken = _record_pins(monkeypatch)
    # documents_source_overlap pins its (source, fingerprint) frame
    df = registry.QUERIES["documents_source_overlap"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    assert taken, "entry under test no longer pins"
    assert all(p.storageLevel.useMemory for p in taken)
    assert not _cache_empty(spark)
    # building the NEXT entry releases the previous entry's pins;
    # projection_reorder takes none of its own
    registry.QUERIES["projection_reorder"](spark, SF)
    assert _cache_empty(spark)


def test_registry_releases_corrupt_record_pin(spark):
    """The corrupt-record audit entries pin their parse through
    freeze_partitions, so the next registry build frees it like any
    other entry's pin."""
    spark.catalog.clearCache()
    for name in ("source_csv_malformed", "source_json_malformed"):
        (row,) = registry.QUERIES[name](spark, SF).collect()
        assert row["n_corrupt"] == 4, (name, row)
        assert not _cache_empty(spark), name
        registry.QUERIES["projection_reorder"](spark, SF)
        assert _cache_empty(spark), name


def test_registry_build_keeps_caller_pins(spark, monkeypatch):
    """A registry build releases only the pins earlier registry builds
    took. A caller's own live freeze_partitions pin stays cached across
    it and keeps serving the caller's frame."""
    spark.catalog.clearCache()
    taken = _record_pins(monkeypatch)
    agg = spark.range(3000).selectExpr("id % 101 AS k").groupBy("k").count()
    mine = partitioning.freeze_partitions(agg)
    first = sorted(mine.collect())
    # a registry build that pins, then one whose build frees those
    registry.QUERIES["documents_source_overlap"](spark, SF).write.format(
        "noop"
    ).mode("overwrite").save()
    assert len(taken) > 1
    assert all(p.storageLevel.useMemory for p in taken)
    registry.QUERIES["projection_reorder"](spark, SF)
    live = [p for p in taken if p.storageLevel.useMemory]
    assert len(live) == 1 and live[0] is mine, "caller's pin was unpersisted"
    assert sorted(mine.collect()) == first
    mine.unpersist(blocking=True)
    assert _cache_empty(spark)


def test_ordered_prefix_takes_no_pin(spark):
    """ordered_prefix ranks by data, not by partition id, so it needs
    no cache: with exchange reuse off (each branch runs its own
    shuffle) and AQE coalescing to a small advisory size over a
    shuffled upstream, it leaves the CacheManager empty, and its ranks
    and running sums equal a pure-Python scan."""
    spark.catalog.clearCache()
    upstream = (
        spark.range(6000)
        .selectExpr(
            "id % 3000 AS id",
            "((id % 3000) * 7919) % 101 - 50 AS k",
            "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 17 END AS v",
        )
        .groupBy("id")
        .agg(F.max("k").alias("k"), F.sum("v").alias("v"))
    )
    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    }
    with _confs(spark, confs):
        rows = [tuple(r) for r in upstream.select("id", "k", "v").collect()]
        ranked = ordered_prefix(
            upstream, [F.col("k").desc(), F.col("id")], rn_name="rn",
            sum_cols=["v"],
        )
        got = {
            r["id"]: (r["rn"], r["run_v"], r["total_n"], r["total_v"])
            for r in ranked.collect()
        }
        assert _cache_empty(spark)
    assert got == ordered_prefix_reference(
        rows, descending=True, nulls_first=False, exclusive=False
    )


def test_checkpoint_dir_makes_pins_reliable(spark, tmp_path):
    """With a checkpoint directory set, materialize and
    freeze_partitions write reliable checkpoints there: lineage is
    cut and no lazy pin is tracked. The shared session's (unset)
    directory is restored afterwards."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    spark.catalog.clearCache()
    sc.setCheckpointDir(str(tmp_path))
    try:
        agg = spark.range(64).selectExpr("id % 7 AS k").groupBy("k").count()
        for pin in (materialize, freeze_partitions):
            p = pin(agg)._jdf.queryExecution().optimizedPlan().toString()
            assert "Aggregate" not in p and "Range" not in p, (pin, p)
        assert _cache_empty(spark)
        assert any(tmp_path.rglob("rdd-*"))
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_freeze_when_heavy_is_scale_adaptive(spark, monkeypatch):
    """The r14 adaptive pin: below the Catalyst-size threshold the
    frame passes through UNPINNED (idle cores hide multi-consumer
    duplication at bench SF; the pin would only add cache overhead),
    above it — forced here by lowering the threshold — it pins
    exactly like freeze_partitions."""
    spark.catalog.clearCache()
    tiny = spark.range(10).repartition(2)
    assert not is_heavy(tiny)
    out = freeze_when_heavy(tiny)
    assert not out.storageLevel.useMemory and _cache_empty(spark)
    monkeypatch.setattr(partitioning, "_FREEZE_AUTO_BYTES", 0)
    assert is_heavy(tiny)
    pinned = freeze_when_heavy(tiny)
    assert pinned.storageLevel.useMemory
    pinned.count()
    assert not _cache_empty(spark)
    pinned.unpersist(blocking=True)
    assert _cache_empty(spark)
