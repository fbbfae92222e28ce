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


def host_cores() -> int:
    """CPUs for ``local[n]``: ``$SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may be scheduled on (``sched_getaffinity``
    honours taskset and cgroup cpusets, which ``os.cpu_count`` does
    not)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


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
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
