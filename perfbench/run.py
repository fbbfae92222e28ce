"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytics_interactive --seed 1 --seconds 10 --trace 0

Generates the seeded inputs (cached under ``.perfbench/data``), starts
the engine's session, runs one warm-up round of every job (its results
are the ones checked against the DuckDB oracle), then runs whole rounds
of jobs, each round in an order drawn from the seed, until ``--seconds``
have passed. Prints a report and, as the last line, one JSON object.
With ``--trace 1`` the run is made twice in one process, first with
spans, job groups and Spark's event log on, then with them off, and the
JSON holds the per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the engine first: a checkout without it fails here, before any work
from trading212_etl_spark.session import get_session  # noqa: E402

import check  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from jobs import WORKLOADS, Ctx, dir_bytes, round_order  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "3g"
DATA_CACHE_SEEDS = 12

# the end-to-end metrics of the JSON result (BENCHMARK.json); the
# report also prints job_s.p50, job_s.tail, failed_frac,
# write_bytes_per_in_byte and peak_rss_mb
END_TO_END = {
    "rows_per_s": "1/s",
    "cpu_s_per_krow": "s",
    "setup_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "plans.self_s": "s",
    "sources.readers.self_s": "s",
    "sources.readers.files": "count",
    "sources.readers.bytes": "bytes",
    "sources.readers.rows": "count",
    "sources.readers.scan_s": "s",
    "sources.readers.rows_read_frac": "ratio",
    "sources.writers.self_s": "s",
    "sources.writers.files": "count",
    "sources.writers.bytes": "bytes",
    "sources.writers.rows": "count",
    "sources.writers.write_s": "s",
    "sources.writers.bytes_per_file": "bytes",
    "operators.self_s": "s",
    "operators.python.rows_sent": "count",
    "operators.python.bytes_sent": "bytes",
    "operators.python.bytes_received": "bytes",
    "operators.python.stage_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.partitions": "count",
    "spill.bytes": "bytes",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "sched.delay_s": "s",
    "tasks.count": "count",
    "tasks.failed": "count",
    "tasks.skew": "ratio",
    "stages.count": "count",
    "jobs.count": "count",
    "trace.rows_per_s": "1/s",
    "trace.untraced_rows_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}
# span layer -> the self-time metric it feeds
SELF_TIME = {
    "registry": "registry.build_s",
    "plans": "plans.self_s",
    "sources.readers": "sources.readers.self_s",
    "sources.writers": "sources.writers.self_s",
    "operators": "operators.self_s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env() -> None:
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM of the run (the launcher and the session's) keeps its
    # temporary files in the checkout; -UsePerfData skips the per-user
    # hsperfdata directory under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )


def ensure_data(seed: int, version: str) -> str:
    """The generated inputs for ``seed``; the most recent few seeds stay
    cached, keyed by the generator's ``version`` so that a changed
    generator or corpus never reuses old files."""
    root = os.path.join(WORK, "data")
    path = os.path.join(root, f"{version}-seed{seed}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(root, exist_ok=True)
    cached = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
    )
    for old in cached[: max(0, len(cached) - DATA_CACHE_SEEDS + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    datagen.generate(tmp, seed)
    os.rename(tmp, path)
    return path


def oracle_key(sql: str) -> str:
    """Hash of an oracle's SQL text and of the code that digests it."""
    with open(check.__file__, "rb") as f:
        return hashlib.sha256(f.read() + sql.encode()).hexdigest()[:16]


def oracle_digests(jobs: list, version: str) -> dict:
    """Digest of each job's oracle, by job name. Every seed's inputs are
    a row permutation of the corpus and a digest ignores row order, so
    each oracle runs once, over the corpus. The digests are cached under
    the generator's ``version`` and ``oracle_key``, so a changed corpus,
    oracle or digest is run again."""
    path = os.path.join(WORK, "oracle", f"{version}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    missing = [j for j in jobs if oracle_key(j.oracle_sql()) not in cache]
    if missing:
        con = check.connect(datagen.CORPUS)
        try:
            for job in missing:
                cache[oracle_key(job.oracle_sql())] = check.digest(con, job.oracle_sql())
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return {j.name: cache[oracle_key(j.oracle_sql())] for j in jobs}


def check_outputs(jobs, ctx: Ctx, oracle: dict, broken: dict[str, str]) -> None:
    """Compare each job's output with its oracle's digest; a job that
    raised or mismatched is recorded in ``broken`` with the reason."""
    con = check.connect(ctx.data_dir)
    try:
        for job in jobs:
            if job.name in broken:
                continue
            try:
                got = check.digest(con, job.output_relation(ctx))
            except Exception:
                broken[job.name] = traceback.format_exc()
                continue
            if got != oracle[job.name]:
                broken[job.name] = f"output {got} != oracle {oracle[job.name]}"
    finally:
        con.close()


def settle(samples: list[dict], broken: dict[str, str]) -> tuple[int, int]:
    """Mark every timed job of a broken job kind as failed; returns
    ``(attempted, failed)``."""
    for rec in samples:
        rec["ok"] = rec["ok"] and rec["job"].name not in broken
    return len(samples), sum(not r["ok"] for r in samples)


def run_phase(jobs, ctx: Ctx, seed: int, seconds: float, conf: dict, oracle: dict) -> dict:
    """Session start, warm-up round, timed rounds, output check."""
    tracer = ctx.tracer
    t0 = time.perf_counter()
    with tracer.span("session.start", "session"):
        spark = get_session(app_name="perfbench", shuffle_partitions=CPUS, extra_conf=conf)
    log(f"session start {time.perf_counter() - t0:.2f} s")
    tracer.spark_context = spark.sparkContext
    ctx.spark = spark
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss = stats.PeakRss(jvm_pid)
    rng = random.Random(seed)
    broken: dict[str, str] = {}
    with tracer.span("session.warm", "session"):
        for job in round_order(jobs, rng):
            a = time.perf_counter()
            try:
                job.run(ctx, check=True)
            except Exception:
                broken[job.name] = traceback.format_exc()
            log(f"warm {job.name} {time.perf_counter() - a:.2f} s")
            rss.sample()
    setup_s = time.perf_counter() - t0

    samples = []
    cpu0 = stats.tree_cpu_s(jvm_pid)
    host0 = stats.host_cpu_ticks()
    with tracer.span("bench.window", "bench") as window_span:
        start = time.perf_counter()
        while True:
            for job in round_order(jobs, rng):
                with tracer.span(f"job:{job.name}", "bench"):
                    a = time.perf_counter()
                    try:
                        job.run(ctx)
                        ok = True
                    except Exception:
                        broken.setdefault(job.name, traceback.format_exc())
                        ok = False
                    s = time.perf_counter() - a
                rec = {"job": job, "s": s, "ok": ok, "rows": job.input_rows(ctx)}
                if job.writes:
                    rec["in_bytes"] = job.input_bytes(ctx)
                    rec["out_bytes"] = dir_bytes(ctx.out(job.name))
                samples.append(rec)
                log(f"timed {job.name} {s:.2f} s")
                rss.sample()
            if time.perf_counter() - start >= seconds:
                break
    cpu_s = stats.tree_cpu_s(jvm_pid) - cpu0
    steal = stats.steal_frac(host0, stats.host_cpu_ticks())
    spark.stop()
    tracer.spark_context = None

    check_outputs(jobs, ctx, oracle, broken)
    for name, why in broken.items():
        log(f"FAILED {name}: {why}")
    settle(samples, broken)
    return {
        "setup_s": setup_s,
        "cpu_s": cpu_s,
        "steal_frac": steal,
        "samples": samples,
        "rss_mb": rss.mb(),
        "window_span": window_span,
        "rss_pids": rss.pids(),
    }


def end_to_end(phase: dict) -> tuple[dict, list[str]]:
    samples = phase["samples"]
    secs = [r["s"] for r in samples]
    metrics = {
        "rows_per_s": sum(r["rows"] for r in samples) / sum(secs),
        "cpu_s_per_krow": 1000 * phase["cpu_s"] / sum(r["rows"] for r in samples),
        "setup_s": phase["setup_s"],
    }
    lines = [f"{name} = {metrics[name]:.6g} {unit}" for name, unit in END_TO_END.items()]
    lines.append(f"job_s.p50 = {statistics.median(secs):.6g} s")
    t = stats.tail(secs)
    lines.append(
        f"job_s.tail = {t[1]:.6g} s (p{t[0]}, {t[2]} samples beyond, n={len(secs)})"
        if t
        else f"job_s.tail = n/a (n={len(secs)} <= 10 samples)"
    )
    failed = sum(not r["ok"] for r in samples)
    lines.append(f"failed_frac = {stats.failed_frac(len(samples), failed):.6g} ({failed}/{len(samples)})")
    writes = [r for r in samples if "out_bytes" in r]
    if writes:
        ratio = sum(r["out_bytes"] for r in writes) / sum(r["in_bytes"] for r in writes)
        lines.append(f"write_bytes_per_in_byte = {ratio:.6g} bytes/byte")
    lines.append(f"peak_rss_mb = {phase['rss_mb']:.6g} MB (JVM and Python workers, VmHWM)")
    lines.append(f"host steal during the window = {phase['steal_frac']:.3f} of the host's CPU time")
    return metrics, lines


def per_layer(phase: dict, tracer, events: list[dict], table_rows: dict, untraced_rps: float) -> dict:
    spans = tracer.spans
    window = phase["window_span"]
    metrics = tracing.aggregate(events, spans, window, table_rows)
    by_name = {s["name"]: s for s in spans}
    for name in ("session.start", "session.warm"):
        s = by_name[name]
        metrics[f"{name}_s"] = s["end"] - s["start"]
    own = tracing.layer_self_times(spans, window)
    for layer, name in SELF_TIME.items():
        metrics[name] = own.get(layer, 0.0)
    traced = end_to_end(phase)[0]["rows_per_s"]
    metrics["trace.rows_per_s"] = traced
    metrics["trace.untraced_rows_per_s"] = untraced_rps
    metrics["trace.overhead_frac"] = untraced_rps / traced - 1
    return metrics


def untraced_run(args) -> dict:
    """Result of an untraced run of the same workload, seed and length
    in a fresh process, for the tracing overhead."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def shutdown_jvm() -> None:
    """Stop the JVM the session ran in and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    prepare_env()
    jobs = WORKLOADS[args.workload]
    version = datagen.version()
    data_dir = ensure_data(args.seed, version)
    oracle = oracle_digests(jobs, version)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    table_rows, table_bytes = {}, {}
    for t in datagen.TABLES:
        f = os.path.join(data_dir, f"{t}.parquet")
        table_rows[t] = datagen.parquet_rows(f)
        table_bytes[t] = os.path.getsize(f)

    def ctx(tracer):
        return Ctx(None, data_dir, os.path.join(run_dir, "out"), tracer, table_rows, table_bytes)

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # options set for one session carry over to the next session
        # of the same process
        "spark.eventLog.enabled": "false",
    }
    pids: list[int] = []
    try:
        if not args.trace:
            phase = run_phase(jobs, ctx(tracing.Tracer()), args.seed, args.seconds, conf, oracle)
            pids += phase["rss_pids"]
            metrics, lines = end_to_end(phase)
            units = END_TO_END
            attempted = len(phase["samples"])
            failed = sum(not r["ok"] for r in phase["samples"])
        else:
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir)
            traced_conf = {
                **conf,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
            tracer = tracing.Tracer(enabled=True)
            traced = run_phase(jobs, ctx(tracer), args.seed, args.seconds, traced_conf, oracle)
            pids += traced["rss_pids"]
            events = tracing.read_event_log(log_dir)
            trace_dir = os.path.join(WORK, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
            shutil.copy(glob.glob(os.path.join(log_dir, "*"))[0], stem + ".eventlog")
            shutdown_jvm()
            wait_gone(pids)
            untraced = untraced_run(args)
            rps = untraced["metrics"]["rows_per_s"]["value"]
            metrics = per_layer(traced, tracer, events, table_rows, rps)
            units = LAYER_UNITS
            lines = [f"{k} = {metrics[k]:.6g} {u}" for k, u in units.items()]
            attempted = len(traced["samples"]) + untraced["attempted"]
            failed = sum(not r["ok"] for r in traced["samples"]) + untraced["failed"]
            with open(stem + ".json", "w") as f:
                json.dump({"spans": tracer.spans, "metrics": metrics}, f, indent=1)
            lines.append(f"spans, metrics and event log written to {os.path.relpath(stem, ROOT)}.*")
    finally:
        shutdown_jvm()
        wait_gone(pids)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed}")
    for line in lines:
        print("  " + line)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
