"""SparkSession construction and the engine's one sizing policy.

The reference (trading212.py) has no session concept — it is an eager
single-threaded pandas script. Here every query runs through one
lazily-built SparkSession configured for:

- **AQE** (adaptive query execution): runtime shuffle-partition
  coalescing, skew-join splitting, and join-strategy demotion — the
  levers that keep plans healthy when the same code moves from a
  4-core laptop at sf0.1 to a 1000-executor cluster at 100 TB.
- **UTC session timezone**: required for value-parity with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- **Arrow**: vectorized pandas<->Spark transfer for the few
  Pandas-UDF-backed operators (multimodal decode).

Sizing comes from the machine, not from constants: ``local[cores]``
with ``cores`` = the CPUs this process may run on, a driver heap of
half the host's RAM, and ``spark.sql.shuffle.partitions`` from
:func:`shuffle_partitions_for` — the single rule that both this builder
and the registry wrapper (``registry.pin_oracle_confs``) apply, so a
registry call never changes a session's shuffle width behind its back.

The session also keeps :data:`CODEGEN_CACHE_ENTRIES` generated classes
(``spark.sql.codegen.cache.maxEntries``) instead of Spark's 100. The
engine runs the same plans again and again in one session (perfbench
rounds, the ``bench.py`` loop, the CLI, notebooks), and the cache is
least-recently-used: when one round needs more classes than it holds,
every class is evicted before it comes round again, and Janino
compiles it anew. Measured on 4 cores, a first round compiles 121
classes for perfbench ``llm_curate``, 240 for ``analytics_interactive``,
41 for ``etl_parquet`` and 1925 for one ``bench.py`` HEADLINE pass. At
100 entries every later perfbench round recompiles 53, 213 and 0 of
them, and at 1000 a later HEADLINE pass still recompiles 1798. The
conf is static: a session the caller built itself (a caller of
``__spark_entry__.py`` brings its own) keeps its own cache size, which
changes its timings but never its results.

The driver JVM runs on the throughput collector (``-XX:+UseParallelGC``
in ``spark.driver.extraJavaOptions``, a fixed value) instead of the
JDK's default G1. In local mode every executor thread runs inside this
one JVM, and a batch round needs throughput, not G1's pause-time goal,
for which every reference store pays a card-marking and refinement
barrier and concurrent threads take CPU of their own. Measured on 4
cores over 10 interleaved perfbench pairs per workload,
``cpu_s_per_krow`` fell 8.6 % on ``etl_parquet`` and 4.8 % on
``llm_curate``, and ``rows_per_s`` rose 7.1 % and 4.1 %, with the
same jobs, tasks and shuffle bytes; the cost is 11-21 % more peak RSS,
as this collector keeps the heap it grows. The option takes
effect only when ``get_session`` launches the JVM: a session that is
already running (or one the caller built) keeps its collector, and on a
cluster the executors keep whatever ``spark.executor.extraJavaOptions``
names. The value replaces a ``spark.driver.extraJavaOptions`` set in
``spark-defaults.conf``. Another collector named in
``JAVA_TOOL_OPTIONS`` (``-XX:+UseG1GC``, say) makes the JVM refuse to
start ("Multiple garbage collectors selected", as ``java -version``
with both flags shows).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 8 MiB of COMPRESSED parquet input per shuffle partition: zstd decode
# plus the token/shingle explosions the heavy entries run put the
# in-flight bytes at roughly 10x the on-disk bytes, i.e. ~100 MB per
# task — the classic healthy-shuffle size. Calibration: the 125x corpus
# (1.99 GB) maps to ~240 partitions, matching the measured bm25 optimum
# (83.5 s at 32 partitions vs 51.3 s at 256; AQE can coalesce small
# partitions but cannot SPLIT non-skewed oversize ones).
SHUFFLE_TARGET_BYTES = 8 << 20
SHUFFLE_CAP = 4096

# Generated classes the session keeps (spark.sql.codegen.cache.maxEntries;
# Spark's default is 100). The cache is least-recently-used, so it must
# hold a whole round of the plans a session repeats. Working sets on
# 4 cores, classes compiled in a first round (recompiled in every later
# round at 100): perfbench llm_curate 121 (53), analytics_interactive
# 240 (213), etl_parquet 41 (0), and one bench.py HEADLINE pass 1925
# (1798 at 1000). At 2048 a repeated round recompiles only the classes
# whose generated source differs from run to run: 16-35 per HEADLINE
# pass, as many as with no bound at all. The cache is keyed on the
# generated source, so get_session also drops the whole-stage codegen
# stage id from class names (spark.sql.codegen.useIdInClassName): a
# re-planned query can number its stages differently, and with the id
# in the name those otherwise identical classes compile again (4 per
# repeated llm_curate round in about two of three sessions, 0 without).
CODEGEN_CACHE_ENTRIES = 2048


def shuffle_partitions_for(cores: int, input_bytes: int = 0) -> int:
    """The shuffle-partition policy: ``ceil(input_bytes / 8 MiB)``
    clamped to ``[cores, 4096]``.

    The floor is the core count: fewer partitions leave cores idle,
    and more than one wave of tasks on an input that fits in one is
    pure scheduling cost — AQE coalesces small partitions of batch
    plans, but every task still pays its launch, and streaming plans
    run with AQE off. The bytes term takes over once a corpus
    outruns what ``cores`` partitions hold in executor memory (sf0.1,
    17.5 MB, stays at the floor on any host with 3 or more cores);
    the cap bounds task count at 100 TB."""
    scaled = -(-max(input_bytes, 0) // SHUFFLE_TARGET_BYTES)
    return min(SHUFFLE_CAP, max(cores, scaled))


_INPUT_BYTES: dict[str, int] = {}


def input_bytes(path: str) -> int:
    """Total on-disk parquet bytes under ``path`` — the ``input_bytes``
    argument of :func:`shuffle_partitions_for`. Cached: corpora are
    immutable for a session's lifetime. Non-local or unreadable paths
    count as 0 bytes, i.e. the policy's floor."""
    if path not in _INPUT_BYTES:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        _INPUT_BYTES[path] = total
    return _INPUT_BYTES[path]


def positive_int_env(name: str, raw: str) -> int:
    """``raw``, the value of the variable ``name``, as an integer ≥ 1.
    Anything else raises a ``ValueError`` that names the variable."""
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name} must be an integer >= 1, got {raw!r}")
    return value


def host_cores() -> int:
    """CPUs for ``local[n]``: ``$SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may be scheduled on (``sched_getaffinity``
    honours taskset and cgroup cpusets, which ``os.cpu_count`` does
    not). A set value must be an integer ≥ 1: 0 or a negative count
    would reach ``local[n]`` and the shuffle-partition floor."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if not raw:
        return len(os.sched_getaffinity(0))
    return positive_int_env("SPARK_GRAFT_CPUS", raw)


def driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else half the
    host's physical RAM (at least 1 GiB, at most 16 GiB) — local mode
    runs every executor thread in this one JVM, and the other half is
    left to Python workers and the OS page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, ram // 2**31))}g"


def get_session(
    app_name: str = "trading212_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession on ``local[cores]``
    (:func:`host_cores`).

    ``shuffle_partitions`` defaults to the policy's floor,
    ``shuffle_partitions_for(cores)``. Every registry call re-applies
    the rule with the session's ``defaultParallelism`` and its corpus
    bytes, so on a cluster (where ``defaultParallelism`` is the
    executor core total) the width follows the cluster, and AQE
    coalesces down from there (``advisoryPartitionSizeInBytes``).
    """
    cores = host_cores()
    master = master or f"local[{cores}]"
    n_shuffle = shuffle_partitions or shuffle_partitions_for(cores)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- adaptive execution: the 100 TB safety net ---------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing ------------------------------------------
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # 128 MB input splits: a 100 TB table fans out to ~800k tasks,
        # which a 1000-executor cluster digests; bigger splits risk
        # executor OOM on wide rows.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd for parquet writes: ~25-30% smaller files than snappy
        # at comparable scan speed — at 100 TB that is tens of TB of
        # storage and proportional scan I/O; decode cost is amortized
        # by columnar batch reads. (Snappy remains the Spark default
        # only for historical compatibility.)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # -- oracle determinism --------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- python interop ------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 otherwise captures the Python call site of every
        # Column and function call for error messages: a stack walk
        # plus about six Py4J round trips per call, which doubled the
        # round trips of building a registry plan (text_quality_score
        # 1289 -> 569). An analysis error still names the column or
        # function it cannot resolve and shows the plan holding it; no
        # error carries the Python file and line that built the
        # failing expression (tests/test_session.py).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        # -- status-store retention ----------------------------------
        # The app/SQL status listeners run even with the UI off, and
        # their defaults retain 1000 executions' full plan graphs plus
        # 1000 jobs / 1000 stages / 100k tasks. A long-lived engine
        # session (the bench loop, a notebook, a driver daemon) runs
        # hundreds of large-plan queries, so listener bookkeeping grows
        # into a per-job tax on LATER queries (measured ~15-20% on the
        # checkpoint-heavy curation pipeline by query #30). These jobs
        # are not a monitoring UI's audience; retain a small window.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        # -- generated-class cache -----------------------------------
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", driver_memory())
        # -- the JVM's collector (module docstring) ------------------
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _zip_importer_dropper():
    """Returns ``drop_zip_importers()``, the first call of every Python
    kernel the engine ships to workers (``mapInPandas``,
    ``applyInPandas``, ``applyInPandasWithState``, ``pandas_udf``).

    A reused Python worker starts each task with
    ``pyspark.worker_util.setup_spark_files``, which ends in
    ``importlib.invalidate_caches()``. Spark puts ``pyspark.zip``, the
    py4j zip and the spark-core jar at the head of the worker's
    ``PYTHONPATH``, so ``sys.path_importer_cache`` holds 16
    zipimporters over them (one per package prefix), and on CPython
    3.11 ``zipimporter.invalidate_caches`` re-reads its archive's whole
    directory in Python: 1 328 entries for ``pyspark.zip``, 5 359 for
    the jar. Measured on 4 cores, that is 160-480 ms per task.

    Deleting the zipimporters from ``sys.path_importer_cache`` leaves
    the next task's ``invalidate_caches()`` no archive to re-read.
    Modules already imported keep their loaders, and a later import
    re-creates its importer from ``zipimport._zip_directory_cache``
    without reading the archive again; where ``invalidate_caches`` is
    already lazy the call costs one dict scan.

    A factory, like ``multimodal._bmp_codec``: the returned closure is
    not reachable by name, so cloudpickle ships it by value inside each
    kernel (workers cannot import this package)."""

    def drop_zip_importers() -> None:
        import sys
        import zipimport

        cache = sys.path_importer_cache
        for path in [
            p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
        ]:
            del cache[path]

    return drop_zip_importers


drop_zip_importers = _zip_importer_dropper()
