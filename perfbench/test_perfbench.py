"""Tests of the benchmark's own logic (no Spark session is started).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import random

import pytest

import check
import datagen
import run
import stats
import tracing
from jobs import Ctx, parquet_relation, round_order


# ---- tail percentile ---------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    random.Random(0).shuffle(xs)
    assert stats.tail(xs) == (90, 90.0, 10)
    assert stats.tail([float(i) for i in range(11)]) == (9, 0.0, 10)
    pct, value, beyond = stats.tail([float(i) for i in range(37)])
    assert beyond >= 10 and sum(x > value for x in range(37)) == beyond
    # one more percentile would leave fewer than ten beyond
    assert 37 - math.ceil((pct + 1) * 37 / 100) < 10


# ---- failed_frac -------------------------------------------------------

class _Job:
    writes = False

    def __init__(self, name, relation, oracle_sql):
        self.name = name
        self._relation = relation
        self._oracle = oracle_sql

    def output_relation(self, ctx):
        return self._relation

    def oracle_sql(self):
        return self._oracle


@pytest.fixture(scope="module")
def seed5(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("data") / "seed5")
    datagen.generate(out, 5)
    return out


def test_failed_frac_counts_raised_and_mismatched_jobs(seed5):
    good = _Job("good", "SELECT o_orderkey, o_totalprice FROM orders ORDER BY 1 DESC",
                "SELECT o_orderkey, o_totalprice FROM orders")
    wrong = _Job("wrong", "SELECT o_orderkey, o_totalprice + 0.01 AS o_totalprice FROM orders",
                 "SELECT o_orderkey, o_totalprice FROM orders")
    short = _Job("short", "SELECT * FROM orders LIMIT 3", "SELECT * FROM orders")
    raised = _Job("raised", "SELECT * FROM orders", "SELECT * FROM orders")
    jobs = [good, wrong, short, raised]
    con = check.connect(seed5)
    oracle = {j.name: check.digest(con, j.oracle_sql()) for j in jobs}
    con.close()
    broken = {"raised": "Traceback ..."}
    ctx = Ctx(None, seed5, "", None)
    run.check_outputs(jobs, ctx, oracle, broken)
    assert set(broken) == {"wrong", "short", "raised"}
    samples = [{"job": j, "ok": True} for j in jobs for _ in range(2)]
    samples[-1]["ok"] = False  # the raise itself, seen in the timed loop
    attempted, failed = run.settle(samples, broken)
    assert (attempted, failed) == (8, 6)
    assert stats.failed_frac(attempted, failed) == 0.75
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)


def test_digest_is_order_insensitive_and_type_neutral(seed5, tmp_path):
    con = check.connect(seed5)
    path = tmp_path / "out"
    path.mkdir()
    # same rows, other order, int32 key and float noise in the 15th digit
    con.execute(
        f"COPY (SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey, o_totalprice + 1e-9 AS o_totalprice "
        f"FROM orders ORDER BY o_totalprice) TO '{path}/part-0.parquet' (FORMAT PARQUET)"
    )
    a = check.digest(con, parquet_relation(str(path)))
    b = check.digest(con, "SELECT o_totalprice, o_orderkey FROM orders")
    assert a == b and a["rows"] == datagen.parquet_rows(f"{seed5}/orders.parquet")
    con.close()


# ---- CPU accounting ------------------------------------------------------

def test_steal_frac_is_the_steal_share_of_all_cpu_time():
    before = [100, 0, 50, 800, 10, 0, 5, 20, 0, 0]
    after = [160, 0, 70, 900, 10, 0, 5, 40, 0, 0]
    assert stats.steal_frac(before, after) == pytest.approx(20 / 200)
    assert len(stats.host_cpu_ticks()) >= 8


def test_tree_cpu_counts_this_process():
    a = stats.tree_cpu_s(os.getpid())
    sum(i * i for i in range(2_000_000))
    assert stats.tree_cpu_s(os.getpid()) > a


# ---- per-layer aggregation ---------------------------------------------

def _task(stage, launch, finish, run_ms, cpu_ns, accums, shuffle_read=0, spill=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Getting Result Time": 0,
            "Failed": failed,
            "Accumulables": [{"ID": i, "Update": str(v)} for i, v in accums],
        },
        "Task Metrics": {
            "Executor Deserialize Time": 1,
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Result Serialization Time": 0,
            "JVM GC Time": 2,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": shuffle_read,
                "Fetch Wait Time": 3,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        },
    }


def _node(name, metrics, children=(), location=None):
    return {
        "nodeName": name,
        "metadata": {"Location": location} if location else {},
        "metrics": [{"name": m, "accumulatorId": i, "metricType": "sum"} for m, i in metrics],
        "children": list(children),
    }


SQL = "org.apache.spark.sql.execution.ui."


def _recorded_log():
    scan = _node(
        "Scan parquet",
        [("number of files read", 1), ("size of files read", 2),
         ("number of output rows", 3), ("scan time", 4)],
        location="InMemoryFileIndex[file:/d/seed1/orders.parquet]",
    )
    python = _node(
        "ArrowEvalPython",
        [("data sent to Python workers", 5), ("data returned from Python workers", 6),
         ("number of output rows", 7)],
        [_node("Project", [], [scan])],
    )
    write = _node(
        "Execute InsertIntoHadoopFsRelationCommand",
        [("number of written files", 8), ("written output", 9),
         ("number of output rows", 10), ("job commit time", 11)],
        [python],
    )
    group = tracing.GROUP_PREFIX
    return [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "sparkPlanInfo": write},
        # a job of the warm-up round: outside the window, ignored
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": f"{group}1", "spark.sql.execution.id": "9"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 1, "Parent IDs": []}},
        _task(0, 0, 50, 40, 10**9, [(3, 999)]),
        # the window: one registry-build job, one write job of two stages
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": f"{group}4"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1100},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000, "Stage IDs": [2, 3],
         "Properties": {"spark.jobGroup.id": f"{group}5", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Number of Tasks": 2, "Parent IDs": []}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3, "Number of Tasks": 3, "Parent IDs": [2]}},
        _task(2, 2000, 2100, 90, 5 * 10**8, [(3, 40), (4, 7), (5, 1000), (6, 500), (7, 40)]),
        _task(2, 2000, 2300, 290, 5 * 10**8, [(3, 60), (4, 9), (5, 1500), (6, 700), (7, 60)]),
        _task(3, 2300, 2400, 90, 10**8, [(10, 30)], shuffle_read=64, spill=8),
        _task(3, 2300, 2410, 100, 10**8, [(10, 30)], shuffle_read=64),
        _task(3, 2300, 2500, 180, 10**8, [(10, 40)], shuffle_read=64, failed=True),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[1, 2], [2, 4096], [8, 3], [9, 3000], [11, 25]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2600},
    ]


def _spans():
    def span(sid, name, layer, parent, start, end):
        return {"id": sid, "name": name, "layer": layer, "parent": parent, "start": start, "end": end}

    return [
        span(0, "session.start", "session", None, 0.0, 1.0),
        span(1, "session.warm", "session", None, 1.0, 2.0),
        span(2, "bench.window", "bench", None, 2.0, 6.0),
        span(3, "job:x", "bench", 2, 2.0, 6.0),
        span(4, "registry.build:x", "registry", 3, 2.0, 3.0),
        span(5, "sources.writers.write_parquet:x", "sources.writers", 3, 3.0, 5.5),
    ]


def test_aggregate_recorded_event_log(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    with open(log_dir / "local-1", "w") as f:
        for ev in _recorded_log():
            f.write(json.dumps(ev) + "\n")
    events = tracing.read_event_log(str(log_dir))
    m = tracing.aggregate(events, _spans(), 2, {"orders": 200})
    assert m["jobs.count"] == 2 and m["stages.count"] == 2
    assert m["registry.build_jobs"] == 1
    assert m["sources.readers.files"] == 2
    assert m["sources.readers.bytes"] == 4096
    assert m["sources.readers.rows"] == 100  # the warm-up job's 999 rows are out
    assert m["sources.readers.scan_s"] == pytest.approx(0.016)
    assert m["sources.readers.rows_read_frac"] == pytest.approx(0.5)
    assert m["sources.writers.files"] == 3
    assert m["sources.writers.bytes"] == 3000
    assert m["sources.writers.rows"] == 100
    assert m["sources.writers.write_s"] == pytest.approx(0.6 + 0.025)
    assert m["sources.writers.bytes_per_file"] == 1000
    assert m["operators.python.rows_sent"] == 100
    assert m["operators.python.bytes_sent"] == 2500
    assert m["operators.python.bytes_received"] == 1200
    assert m["operators.python.stage_s"] == pytest.approx(0.38)
    assert m["shuffle.write_bytes"] == 500
    assert m["shuffle.read_bytes"] == 192
    assert m["shuffle.fetch_wait_s"] == pytest.approx(0.015)
    assert m["shuffle.partitions"] == 3
    assert m["spill.bytes"] == 8
    assert m["exec.cpu_s"] == pytest.approx(1.3)
    assert m["exec.run_s"] == pytest.approx(0.75)
    assert m["exec.gc_s"] == pytest.approx(0.01)
    # duration - run - deserialize per task: 9 + 9 + 9 + 9 + 19
    assert m["sched.delay_s"] == pytest.approx(0.055)
    assert m["tasks.count"] == 5 and m["tasks.failed"] == 1
    # stage 2: max 300 / median 200
    assert m["tasks.skew"] == pytest.approx(1.5)


def test_self_time_subtracts_children():
    own = tracing.self_times(_spans())
    assert own[2] == pytest.approx(0.0)
    assert own[3] == pytest.approx(0.5)
    assert own[5] == pytest.approx(2.5)


def test_layer_self_times_cover_the_phase_only():
    own = tracing.layer_self_times(_spans(), 2)
    assert own == pytest.approx({"bench": 0.5, "registry": 1.0, "sources.writers": 2.5})


def test_tracer_off_records_nothing():
    tracer = tracing.Tracer()
    with tracer.span("x", "registry") as sid:
        pass
    assert sid is None and tracer.spans == []


def test_tracer_nests_spans():
    tracer = tracing.Tracer(enabled=True)
    with tracer.span("outer", "bench") as a:
        with tracer.span("inner", "registry") as b:
            pass
    assert [s["parent"] for s in tracer.spans] == [None, a]
    assert b == 1 and all(s["end"] >= s["start"] for s in tracer.spans)


# ---- generator and job order -------------------------------------------

def _files(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows_a = datagen.generate(a, 11)
    datagen.generate(b, 11)
    datagen.generate(c, 12)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert sorted(fa) == [f"{t}.parquet" for t in sorted(datagen.TABLES)]
    assert fa == fb
    changed = [n for n in fa if fa[n] != fc[n]]
    assert set(changed) >= {f"{t}.parquet" for t in datagen.TABLES if t not in ("region", "nation")}
    assert rows_a["orders"] == 150_000 and rows_a["nation"] == 25


def test_generated_tables_are_row_shuffles_of_the_corpus(seed5):
    corpus, shuffled = check.connect(datagen.CORPUS), check.connect(seed5)
    for t in datagen.TABLES:
        if t == "embeddings":  # list column: compared on the other columns
            rel = "SELECT vec_id, label, list_sum(embedding) AS s FROM embeddings"
        else:
            rel = f"SELECT * FROM {t}"
        assert check.digest(corpus, rel) == check.digest(shuffled, rel), t
    corpus.close()
    shuffled.close()


class _SqlJob:
    def __init__(self, name, sql):
        self.name, self._sql = name, sql

    def oracle_sql(self):
        return self._sql


def test_oracle_cache_is_keyed_by_the_sql(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    calls = []
    digest = check.digest
    monkeypatch.setattr(check, "digest", lambda con, sql: calls.append(sql) or digest(con, sql))
    a = run.oracle_digests([_SqlJob("j", "SELECT 1 AS x")], "v1")
    assert run.oracle_digests([_SqlJob("j", "SELECT 1 AS x")], "v1") == a
    assert len(calls) == 1
    b = run.oracle_digests([_SqlJob("j", "SELECT 2 AS x")], "v1")
    assert len(calls) == 2 and a != b
    run.oracle_digests([_SqlJob("j", "SELECT 1 AS x")], "v2")
    assert len(calls) == 3


def test_round_order_keeps_a_job_after_its_source():
    class J:
        def __init__(self, name, source=None):
            self.name, self.source = name, source

    jobs = [J("compact", "flagship"), J("a"), J("flagship"), J("b")]
    for seed in range(30):
        order = [j.name for j in round_order(jobs, random.Random(seed))]
        assert sorted(order) == sorted(j.name for j in jobs)
        assert order.index("flagship") < order.index("compact")
