"""The engine's one sizing policy (session.shuffle_partitions_for):
a pure function of (cores, input bytes), applied both by get_session
and by every registry call; the core count it starts from; the
generated-class cache that lets a long-lived session repeat a round
without compiling again; PySpark's call-site capture, off in every
session a registry call sees; and the driver JVM's collector."""

from __future__ import annotations

import os
import threading

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


# Py4J round trips of one registry build, pinned when get_session
# turned off PySpark's call-site capture; with it on they were 1289
# and 618. Upper bounds: never raise them to pass.
BUILD_ROUND_TRIPS = {"text_quality_score": 569, "similarity_topk_lsh": 308}


@pytest.fixture
def build_round_trips(spark, sf_dir, monkeypatch):
    """Py4J round trips of each of three builds of a registry entry,
    none of which may run a job. Only the building thread's commands
    count: the deletes that free the JVM proxies of earlier builds go
    out from another thread, whenever Python's collector gets to them."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    builder = threading.get_ident()
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += threading.get_ident() == builder
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def builds(name: str) -> list[int]:
        trips = []
        for _ in range(3):
            jobs = dag.numTotalJobs()
            sent[0] = 0
            QUERIES[name](spark, sf_dir)
            trips.append(sent[0])
            assert dag.numTotalJobs() == jobs, f"{name} ran a job while built"
        return trips

    return builds


def test_plan_construction_skips_call_site_capture(spark, build_round_trips):
    """get_session turns off PySpark 4's DataFrame debugging, which
    walks the Python stack and makes about six extra Py4J round trips
    for every Column and function call, and the two zero-job builds
    stay within their measured round trips."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    for name, most in BUILD_ROUND_TRIPS.items():
        trips = build_round_trips(name)
        assert min(trips) <= most, (name, trips)


def test_registry_call_turns_off_call_site_capture(build_round_trips, monkeypatch):
    """A session the caller built (the driver's) has PySpark's default,
    capture on, and the conf is static. The registry wrapper turns off
    the flag PySpark caches from it, so the builds stay within the same
    round trips as in a get_session session."""
    import pyspark.errors.utils as origin

    # what PySpark caches from a session with the default conf
    monkeypatch.setattr(origin, "_enable_debugging_cache", True)
    for name, most in BUILD_ROUND_TRIPS.items():
        trips = build_round_trips(name)
        assert min(trips) <= most, (name, trips)
    assert origin.is_debugging_enabled() is False


def test_session_jvm_runs_the_throughput_collector(spark):
    """get_session starts the driver JVM with -XX:+UseParallelGC, whose
    young and old collectors are PS Scavenge and PS MarkSweep (G1's
    are G1 Young Generation and G1 Old Generation)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    names = sorted(bean.getName() for bean in beans)
    assert names == ["PS MarkSweep", "PS Scavenge"], names


def test_analysis_errors_name_what_they_cannot_resolve(spark, monkeypatch):
    """With call-site capture off, an analysis error still names the
    column it cannot resolve and shows the plan that holds it; what it
    no longer carries is the Python file and line of the call that
    built the expression."""
    import pyspark.errors.utils as origin
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    monkeypatch.setattr(origin, "_enable_debugging_cache", None)
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select((F.col("id") + F.col("no_such_col")).alias("x")).schema
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    message = str(err.value)
    assert "`no_such_col`" in message and "'no_such_col" in message, message
    # with capture on, the DataFrame context names this file and line
    sites = [c.callSite() for c in err.value.getQueryContext()]
    assert not any("test_session.py" in site for site in sites), sites
