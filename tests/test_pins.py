"""Pin lifecycle: the lazy persists taken by freeze_partitions must
be releasable — a long-lived session composing many operators must not
accumulate CacheManager entries (VERDICT r5 item 5: every cached entry
taxes every later query's canonicalized-plan lookup, ~1.3-1.5x at ~100
pins) — and a release must never free a pin its owner still uses."""

from __future__ import annotations

from pyspark.sql import functions as F

from trading212_etl_spark import partitioning, registry
from trading212_etl_spark.partitioning import (
    _LIVE_PINS,
    freeze_partitions,
    freeze_when_heavy,
    is_heavy,
    materialize,
    ordered_prefix,
    pinned_scope,
    release_pins,
)

SF = "/root/testdata/sf0.001"


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


def test_registry_invocation_releases_prior_pins(spark):
    """Invoking any registry entry releases the pins of the previous
    one: after a build->action->build cycle the CacheManager holds
    only the in-flight query's pins, and an explicit release_pins()
    empties it entirely."""
    spark.catalog.clearCache()
    release_pins()
    # orders_rfm_segments pins via ordered_prefix -> freeze_partitions
    df = registry.QUERIES["orders_rfm_segments"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    assert len(_LIVE_PINS) > 0, "entry under test no longer pins"
    assert not _cache_empty(spark)
    # building the NEXT entry releases the previous entry's pins;
    # flagship_pipeline takes none of its own
    registry.QUERIES["projection_reorder"](spark, SF)
    assert _cache_empty(spark)
    assert len(_LIVE_PINS) == 0


def test_pinned_scope_releases_only_inner_pins(spark):
    spark.catalog.clearCache()
    release_pins()
    outer = freeze_partitions(spark.range(10).repartition(2))
    outer.count()
    with pinned_scope():
        inner = freeze_partitions(spark.range(5).repartition(2))
        inner.count()
        assert len(_LIVE_PINS) == 2
    assert len(_LIVE_PINS) == 1 and _LIVE_PINS[0] is outer
    assert release_pins(blocking=True) == 1
    assert _cache_empty(spark)


def test_registry_build_keeps_caller_pins(spark):
    """A registry build releases only the pins earlier registry builds
    took. A caller's own live ordered_prefix pin stays cached across
    it, so actioning the caller's frame again reads the same
    partition assignment and returns the same rows (an unpersisted pin
    would let the offsets branch resample the range exchange and
    mis-join)."""
    spark.catalog.clearCache()
    release_pins()
    df = spark.range(3000).selectExpr("id", "(id * 7919) % 101 AS k")
    ranked = ordered_prefix(
        df, [F.col("k"), F.col("id")], rn_name="rn", sum_cols=["k"]
    )
    first = sorted(ranked.collect())
    (mine,) = _LIVE_PINS
    # a registry build that pins, then one whose build frees those
    registry.QUERIES["orders_rfm_segments"](spark, SF).write.format(
        "noop"
    ).mode("overwrite").save()
    assert len(_LIVE_PINS) > 1
    registry.QUERIES["projection_reorder"](spark, SF)
    assert len(_LIVE_PINS) == 1 and _LIVE_PINS[0] is mine
    assert mine.storageLevel.useMemory, "caller's pin was unpersisted"
    assert sorted(ranked.collect()) == first
    assert release_pins(blocking=True) == 1
    assert _cache_empty(spark)


def test_checkpoint_dir_makes_pins_reliable(spark, tmp_path):
    """With a checkpoint directory set, materialize and
    freeze_partitions write reliable checkpoints there: lineage is
    cut and no lazy pin is tracked. The shared session's (unset)
    directory is restored afterwards."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    release_pins()
    sc.setCheckpointDir(str(tmp_path))
    try:
        agg = spark.range(64).selectExpr("id % 7 AS k").groupBy("k").count()
        for pin in (materialize, freeze_partitions):
            p = pin(agg)._jdf.queryExecution().optimizedPlan().toString()
            assert "Aggregate" not in p and "Range" not in p, (pin, p)
        assert len(_LIVE_PINS) == 0
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
    release_pins()
    tiny = spark.range(10).repartition(2)
    try:
        assert not is_heavy(tiny)
        out = freeze_when_heavy(tiny)
        assert not out.storageLevel.useMemory and len(_LIVE_PINS) == 0
        monkeypatch.setattr(partitioning, "_FREEZE_AUTO_BYTES", 0)
        assert is_heavy(tiny)
        pinned = freeze_when_heavy(tiny)
        assert pinned.storageLevel.useMemory and len(_LIVE_PINS) == 1
        pinned.count()
        assert not _cache_empty(spark)
    finally:
        release_pins(blocking=True)
        assert _cache_empty(spark)
