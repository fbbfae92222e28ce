"""Spans around the engine's layer calls, and per-layer metrics from
Spark's event log.

A ``Tracer`` records one span (name, layer, start, end, parent) per
call into a layer and tags every Spark job fired inside it with the
span's job group, so ``aggregate`` can attribute the event log's task
metrics and per-plan-node SQL metrics to the spans that caused them.
With ``enabled=False`` a span only runs its body.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

GROUP_PREFIX = "pb-span-"

_SQL = "org.apache.spark.sql.execution.ui."
_EXEC_START = _SQL + "SparkListenerSQLExecutionStart"
_PLAN_UPDATE = _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = _SQL + "SparkListenerDriverAccumUpdates"


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        # set once the session exists; spans before that tag no jobs
        self.spark_context = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span around the body and yield its id (``None``
        when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark_context
        if sc is not None:
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children of one span never overlap: calls are sequential)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def _under(by_id: dict[int, dict], sid: int | None, root: int) -> bool:
    """Whether span ``sid`` is ``root`` or one of its descendants."""
    while sid is not None:
        if sid == root:
            return True
        sid = by_id[sid]["parent"]
    return False


def layer_self_times(spans: list[dict], root: int) -> dict[str, float]:
    """Self time summed per layer over ``root`` and its descendants."""
    by_id = {s["id"]: s for s in spans}
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if _under(by_id, s["id"], root):
            out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _metric(node: dict, name: str) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _rows_in(node: dict, acc: dict[int, float]) -> float:
    """Rows flowing into ``node``: the output rows of the nearest
    descendant on each input branch that counts them."""
    total = 0.0
    for child in node.get("children", []):
        rid = _metric(child, "number of output rows")
        total += acc.get(rid, 0.0) if rid is not None else _rows_in(child, acc)
    return total


def _scanned_table(node: dict, table_rows: dict[str, int]) -> str | None:
    loc = node.get("metadata", {}).get("Location", "")
    for name in table_rows:
        if f"/{name}.parquet" in loc:
            return name
    return None


def aggregate(
    events: list[dict], spans: list[dict], phase_span: int, table_rows: dict[str, int]
) -> dict[str, float]:
    """Per-layer metrics over the Spark jobs fired inside ``phase_span``
    (the timed window) and its descendants.

    ``table_rows`` maps each input table to its row count, for the share
    of table rows the scans actually read."""
    by_id = {s["id"]: s for s in spans}

    def in_phase(group: str | None) -> dict | None:
        """The span that fired a job of job group ``group``, if that
        span lies in the phase."""
        if not group or not group.startswith(GROUP_PREFIX):
            return None
        sid = int(group[len(GROUP_PREFIX):])
        return by_id[sid] if _under(by_id, sid, phase_span) else None

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_ids: set[int] = set()
    plans: dict[int, list[dict]] = {}
    acc: dict[int, float] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = in_phase(props.get("spark.jobGroup.id"))
            if span is None:
                continue
            jid = ev["Job ID"]
            jobs[jid] = {"span": span, "start": ev["Submission Time"], "end": None}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
            if "spark.sql.execution.id" in props:
                exec_ids.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages.append(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind in (_EXEC_START, _PLAN_UPDATE):
            plans.setdefault(ev["executionId"], []).append(ev["sparkPlanInfo"])
        elif kind == _DRIVER_ACCUMS:
            for aid, value in ev["accumUpdates"]:
                acc[aid] = acc.get(aid, 0.0) + value

    stages = [s for s in stages if s["Stage ID"] in stage_job]
    tasks = [t for t in tasks if t["Stage ID"] in stage_job]
    acc_stages: dict[int, set[int]] = {}
    for t in tasks:
        for a in t["Task Info"].get("Accumulables", []):
            # SQL metrics are logged as strings, task metrics as numbers
            try:
                update = float(a.get("Update"))
            except (TypeError, ValueError):
                continue
            acc[a["ID"]] = acc.get(a["ID"], 0.0) + update
            acc_stages.setdefault(a["ID"], set()).add(t["Stage ID"])

    out: dict[str, float] = {}
    # ---- jobs fired inside the registry (plan construction) calls
    out["registry.build_jobs"] = sum(j["span"]["layer"] == "registry" for j in jobs.values())

    # ---- SQL plan nodes of the window's executions, deduplicated by
    # accumulator id across adaptive re-plans
    seen: set[int] = set()
    scans, writes, pythons = [], [], []
    for eid in exec_ids:
        for info in plans.get(eid, []):
            for node in _plan_nodes(info):
                ids = [m["accumulatorId"] for m in node.get("metrics", [])]
                if not ids or ids[0] in seen:
                    continue
                seen.update(ids)
                names = {m["name"] for m in node["metrics"]}
                if "number of files read" in names:
                    scans.append(node)
                elif "number of written files" in names:
                    writes.append(node)
                elif "data sent to Python workers" in names:
                    pythons.append(node)

    def total(nodes, name, scale=1.0):
        return sum(acc.get(_metric(n, name), 0.0) for n in nodes) * scale

    out["sources.readers.files"] = total(scans, "number of files read")
    out["sources.readers.bytes"] = total(scans, "size of files read")
    out["sources.readers.rows"] = total(scans, "number of output rows")
    out["sources.readers.scan_s"] = total(scans, "scan time", 1e-3)
    # each stage that runs a scan of an input table passes over the
    # whole table once unless pruning skips some of it
    input_scans = [n for n in scans if _scanned_table(n, table_rows)]
    table_total = sum(
        table_rows[_scanned_table(n, table_rows)]
        * len(acc_stages.get(_metric(n, "number of output rows"), ()))
        for n in input_scans
    )
    out["sources.readers.rows_read_frac"] = (
        total(input_scans, "number of output rows") / table_total if table_total else 0.0
    )

    out["sources.writers.files"] = total(writes, "number of written files")
    out["sources.writers.bytes"] = total(writes, "written output")
    out["sources.writers.rows"] = total(writes, "number of output rows")
    writer_jobs = [j for j in jobs.values() if j["span"]["layer"] == "sources.writers" and j["end"]]
    out["sources.writers.write_s"] = (
        sum(j["end"] - j["start"] for j in writer_jobs) / 1e3
        + total(writes, "job commit time", 1e-3)
    )
    out["sources.writers.bytes_per_file"] = (
        out["sources.writers.bytes"] / out["sources.writers.files"]
        if out["sources.writers.files"]
        else 0.0
    )

    python_acc_ids = {m["accumulatorId"] for n in pythons for m in n["metrics"]}
    out["operators.python.rows_sent"] = sum(_rows_in(n, acc) for n in pythons)
    out["operators.python.bytes_sent"] = total(pythons, "data sent to Python workers")
    out["operators.python.bytes_received"] = total(pythons, "data returned from Python workers")
    python_stages = {
        t["Stage ID"]
        for t in tasks
        if any(a["ID"] in python_acc_ids for a in t["Task Info"].get("Accumulables", []))
    }

    # ---- task metrics
    def tm(t, *path):
        v = t.get("Task Metrics") or {}
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        return v or 0

    out["shuffle.write_bytes"] = sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks)
    out["shuffle.read_bytes"] = sum(
        tm(t, "Shuffle Read Metrics", "Remote Bytes Read")
        + tm(t, "Shuffle Read Metrics", "Local Bytes Read")
        for t in tasks
    )
    out["shuffle.fetch_wait_s"] = sum(tm(t, "Shuffle Read Metrics", "Fetch Wait Time") for t in tasks) / 1e3
    out["shuffle.partitions"] = sum(s["Number of Tasks"] for s in stages if s.get("Parent IDs"))
    out["spill.bytes"] = sum(tm(t, "Disk Bytes Spilled") for t in tasks)
    out["operators.python.stage_s"] = (
        sum(tm(t, "Executor Run Time") for t in tasks if t["Stage ID"] in python_stages) / 1e3
    )

    out["exec.cpu_s"] = sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9
    out["exec.run_s"] = sum(tm(t, "Executor Run Time") for t in tasks) / 1e3
    out["exec.gc_s"] = sum(tm(t, "JVM GC Time") for t in tasks) / 1e3
    delay = 0
    durations: dict[int, list[int]] = {}
    for t in tasks:
        info = t["Task Info"]
        dur = info["Finish Time"] - info["Launch Time"]
        getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
        delay += max(
            0,
            dur
            - tm(t, "Executor Run Time")
            - tm(t, "Executor Deserialize Time")
            - tm(t, "Result Serialization Time")
            - getting,
        )
        if not info.get("Failed"):
            durations.setdefault(t["Stage ID"], []).append(dur)
    out["sched.delay_s"] = delay / 1e3
    out["tasks.count"] = len(tasks)
    out["tasks.failed"] = sum(1 for t in tasks if t["Task Info"].get("Failed"))
    skews = [
        max(d) / statistics.median(d)
        for d in durations.values()
        if len(d) > 1 and statistics.median(d) > 0
    ]
    out["tasks.skew"] = max(skews, default=1.0)
    out["stages.count"] = len(stages)
    out["jobs.count"] = len(jobs)
    return out
