"""The engine's one sizing policy (session.shuffle_partitions_for):
a pure function of (cores, input bytes), applied both by get_session
and by every registry call; the core count it starts from; and the
generated-class cache that lets a long-lived session repeat a round
without compiling again."""

from __future__ import annotations

import os

import pytest

from trading212_etl_spark.registry import QUERIES
from trading212_etl_spark.session import (
    SHUFFLE_CAP,
    SHUFFLE_TARGET_BYTES,
    host_cores,
    input_bytes,
    shuffle_partitions_for,
)

# perfbench's llm_curate workload: one round of these is larger than
# Spark's default 100-class codegen cache
LLM_CURATE = (
    "pipeline_curate_corpus",
    "dedup_exact",
    "similarity_topk_lsh",
    "text_quality_score",
    "multimodal_image_meta",
)


def test_policy_floor_growth_and_cap(tmp_path):
    # floor: the core count, whatever the (small) input
    for cores in (1, 4, 32):
        assert shuffle_partitions_for(cores) == cores
        assert shuffle_partitions_for(cores, SHUFFLE_TARGET_BYTES) == cores
    # grows with bytes once past the floor, one partition per 8 MiB
    assert shuffle_partitions_for(4, 10 * SHUFFLE_TARGET_BYTES) == 10
    assert shuffle_partitions_for(4, 10 * SHUFFLE_TARGET_BYTES + 1) == 11
    widths = [shuffle_partitions_for(4, b << 20) for b in range(0, 40_000, 997)]
    assert widths == sorted(widths) and widths[-1] > 4
    # cap
    assert SHUFFLE_CAP == 4096
    assert shuffle_partitions_for(4, 10**15) == 4096
    assert shuffle_partitions_for(8192, 10**15) == 4096
    # an unreadable path counts as no bytes: the floor
    assert input_bytes(str(tmp_path / "missing")) == 0
    assert shuffle_partitions_for(4, input_bytes(str(tmp_path / "missing"))) == 4


def test_input_bytes_counts_parquet_only(tmp_path):
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "part-0.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"y" * 50)
    assert input_bytes(str(tmp_path)) == 1000


def test_registry_call_keeps_policy_width(spark, sf_dir):
    """A get_session session, then a registry call: the conf ends at
    the policy value for the session's cores and the corpus, and
    another call does not move it."""
    want = shuffle_partitions_for(
        spark.sparkContext.defaultParallelism, input_bytes(sf_dir)
    )
    QUERIES["dedup_exact"](spark, sf_dir)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want
    QUERIES["dedup_exact"](spark, sf_dir).count()
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want


def test_host_cores_rejects_bad_values(monkeypatch):
    """SPARK_GRAFT_CPUS sizes local[n] and the shuffle floor: anything
    but an integer >= 1 raises, naming the variable; unset or empty
    falls back to the CPUs this process may run on."""
    for bad in ("0", "-2", "abc", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            host_cores()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert host_cores() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert host_cores() == len(os.sched_getaffinity(0))


def _compiled_classes(spark) -> int:
    """Janino compiles so far in this JVM: every generated class the
    codegen cache did not hold."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_round_compiles_nothing(spark, sf_dir):
    """A second llm_curate round in the same session finds every
    generated class in the cache. With Spark's default 100 entries the
    round's working set does not fit, the LRU evicts classes before
    they come round again, and the second round recompiles them."""

    def one_round():
        for name in LLM_CURATE:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_round()
    before = _compiled_classes(spark)
    one_round()
    assert _compiled_classes(spark) - before == 0
