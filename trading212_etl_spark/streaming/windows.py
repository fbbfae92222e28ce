"""Structured Streaming forms of the event operators.

The reference's ingestion is a poll-until-ready loop with fixed
sleeps (T2/T3, trading212.py:95, 100-111 — which never re-fetches the
status response, so it can spin forever). The streaming engine
replaces polling with a file-source stream + event-time windows +
watermark-bounded state: late data is handled by the watermark instead
of the reference's crude full-table dedup (trading212.py:121).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_importers
from ..sources.readers import SCHEMAS, events_nanos_schema, events_ts_is_nanos

# Streams carry ts as TimestampType; _events_stream handles the legacy
# nanos-parquet fallback at the source (see sources/readers.py).
EVENTS_STREAM_SCHEMA = SCHEMAS["events"]


def streaming_tumbling_agg(
    stream: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling — or, with ``slide``, sliding/hopping —
    window aggregate over an event stream.

    Expects ``ts`` already as TimestampType (the source's concern —
    :func:`_events_stream`). The watermark bounds state: at 100 TB/day
    of events the store only holds windows newer than (max event time -
    watermark); older state is evicted instead of accumulating forever.
    A sliding window multiplies state by duration/slide overlapping
    windows per key — the watermark bound matters proportionally more.
    """
    win = (
        F.window("ts", duration, slide) if slide else F.window("ts", duration)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over the corpus events parquet, exposing
    ``ts TIMESTAMP`` exactly as the batch reader does: the parquet
    footer is probed (sources/readers.py:events_ts_is_nanos) and the
    nanosAsLong + ``DIV 1000`` conversion applied only for legacy
    TIMESTAMP(NANOS) files; modern MICROS files read natively."""
    nanos = events_ts_is_nanos(f"{events_dir}/events.parquet")
    schema = events_nanos_schema() if nanos else EVENTS_STREAM_SCHEMA
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(events_dir)
    )
    if nanos:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    return stream


# The late-drop audit in :func:`_drive` reads q.recentProgress, which
# retains only the last numRecentProgressUpdates entries (default 100):
# a drive splitting into more micro-batches would silently under-count
# drops and let the zero-late assertion pass wrongly. The drive raises
# the per-query buffer to this cap and asserts the batch count stayed
# under it, so a truncated audit fails loudly instead of lying.
_PROGRESS_CAP = 10_000


def _drive(
    stream: DataFrame, out_dir: str, mode: str, write_batch=None
) -> DataFrame:
    """Drive ``stream`` to completion into parquet under ``out_dir`` and
    return the re-read — the package's one streaming drive (a
    production job swaps the file source for Kafka and keeps the
    transformation graph and this sink).

    Each micro-batch lands through ``foreachBatch``: complete mode
    overwrites ``table/`` (the last batch is the converged result);
    append and update modes write idempotent per-batch-id
    ``batch_id=N/`` directories, and the re-read drops ``batch_id``.
    Rows never accumulate on the driver, so the result may grow with
    the stream at any scale. ``write_batch(batch_df, batch_id)``
    replaces the per-batch write for drives that reduce or merge each
    batch first; it must keep the same layout.

    Protocol: ``availableNow`` trigger + ``awaitTermination`` — the
    QUERY decides when the bounded drive is drained (data batches plus
    any trailing watermark-advance batch); stopping the query from
    outside once the source looks drained could interrupt that
    trailing batch mid-flight under host contention. The checkpoint
    lives in ``out_dir/_checkpoint`` and is wiped with ``out_dir``, so
    every drive starts fresh. After termination the drive ASSERTS no
    input row was dropped as late by the watermark (a finite drive of
    the corpus has no legitimately-late data; a nonzero drop is a
    silent wrong answer) and writes a per-batch diagnostic
    (``_drive_diag.json``) so any parity flake is attributable
    post-hoc instead of vanishing on rerun. The underscore prefixes
    keep the parquet re-read off both."""
    import json
    import os
    import shutil

    spark = stream.sparkSession
    shutil.rmtree(out_dir, ignore_errors=True)
    table_dir = f"{out_dir}/table" if mode == "complete" else out_dir

    def overwrite_batch(batch_df: DataFrame, batch_id: int) -> None:
        target = (
            table_dir if mode == "complete" else f"{out_dir}/batch_id={batch_id}"
        )
        batch_df.write.mode("overwrite").parquet(target)

    prev_cap = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", None
    )
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(_PROGRESS_CAP)
    )
    try:
        q = (
            stream.writeStream.foreachBatch(write_batch or overwrite_batch)
            .outputMode(mode)
            .option("checkpointLocation", f"{out_dir}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        if prev_cap is None:
            spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
        else:
            spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates", prev_cap
            )
    progress = list(q.recentProgress)
    if len(progress) >= _PROGRESS_CAP:
        raise RuntimeError(
            f"streaming drive produced >= {_PROGRESS_CAP} progress "
            "entries — the late-drop audit buffer truncated and the "
            "zero-late assertion below would under-count; raise the cap"
        )
    diag = {"batches": [], "late_rows_dropped": 0}
    for p in progress:
        prog = p if isinstance(p, dict) else json.loads(p.json)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for op in prog.get("stateOperators", [])
        )
        diag["late_rows_dropped"] += dropped
        diag["batches"].append(
            {
                "batch_id": prog.get("batchId"),
                "input_rows": prog.get("numInputRows"),
                "dropped_by_watermark": dropped,
            }
        )
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_drive_diag.json"), "w") as fh:
        json.dump(diag, fh, indent=1)
    if diag["late_rows_dropped"]:
        raise RuntimeError(
            "streaming drive dropped "
            f"{diag['late_rows_dropped']} rows as late — a finite "
            f"drive must drop none; diag={diag}"
        )
    out = spark.read.parquet(table_dir)
    return out if mode == "complete" else out.drop("batch_id")


def streaming_dedup(stream: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """Watermark-bounded exactly-once dedup on the event id — the
    principled replacement for the reference's poll-loop ingestion +
    full-table drop_duplicates (T2, trading212.py:100-111, 121).

    ``dropDuplicatesWithinWatermark`` keys state by event_id and
    evicts an id once the watermark passes (its event time +
    ``horizon``), so state is bounded by the dedup horizon instead of
    growing with the stream. The guarantee is therefore HORIZON-
    BOUNDED, in three regimes (pinned by the hostile test in
    tests/test_events.py::test_streaming_dedup_horizon_semantics):
    duplicates within the horizon are dropped via state; a late
    duplicate carrying its ORIGINAL (now sub-watermark) timestamp is
    dropped by the late-record filter even after state eviction; but a
    re-send with a FRESH timestamp after eviction is emitted again —
    at-least-once beyond the horizon, the price of bounded state (size
    the horizon to the upstream's max redelivery delay)."""
    return stream.withWatermark("ts", horizon).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_streaming_dedup(spark: SparkSession, events_dir: str) -> DataFrame:
    """Drive :func:`streaming_dedup` over the corpus events and return
    per-type counts of the deduplicated stream (equals batch distinct
    counts — asserted in tests/test_events.py)."""
    from trading212_etl_spark.registry._core import _scratch

    dedup = streaming_dedup(_events_stream(spark, events_dir))
    out = _drive(dedup, _scratch(events_dir, "stream_dedup"), "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


def run_streaming_user_stats(spark: SparkSession, events_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, max value) — the arbitrary-state
    API for semantics watermark+window aggregation cannot express
    (the engine's extension point for e.g. CEP or online features).

    State is one (count, max) pair per user — O(|users|), not
    O(|events|). The update function is closure-local so it pickles by
    value (workers cannot import this package). Batch equivalence
    (groupBy user agg count/max) is asserted in tests/test_events.py.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        drop_zip_importers()
        import pandas as pd

        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    stats = (
        _events_stream(spark, events_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    # one batch (availableNow full read) -> one row per user; a
    # multi-batch run would emit one row per (user, batch) with the
    # running totals, so keep the last per user for generality
    from pyspark.sql import Window

    from trading212_etl_spark.registry._core import _scratch

    t = _drive(stats, _scratch(events_dir, "stream_user_stats"), "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        t.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_foreachbatch_ingest(
    spark: SparkSession, events_dir: str, out_dir: str
) -> DataFrame:
    """Micro-batch ingestion via ``foreachBatch``: each batch lands as
    parquet under ``out_dir`` — the engine form of the reference's
    poll-for-CSV-then-append ingest loop (T2, trading212.py:100-111),
    with the checkpoint/batch-id giving the exactly-once bookkeeping
    the reference's full-table dedup crudely approximated.

    Returns the re-read of the ingested parquet, so downstream logic
    (and the DuckDB oracle) can verify the ingest was lossless. Each
    batch-id directory is overwritten on a re-run of its batch, never
    appended to, so a retried batch cannot duplicate rows.
    """
    return _drive(_events_stream(spark, events_dir), out_dir, "append")


def run_stream_static_join(spark: SparkSession, events_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (orders aggregated to per-customer order counts), then
    aggregated — the standard streaming-enrichment shape. The static
    side is re-planned per micro-batch, so a dim refresh is picked up
    without restarting the query; at scale the static side should be
    broadcast-sized or pre-bucketed.

    Returns per-(event_type, has_orders) counts; batch equivalence is
    asserted in tests/test_events.py.
    """
    from ..sources import load_table

    static_dim = (
        load_table(spark, events_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    stream = _events_stream(spark, events_dir)
    joined = stream.join(static_dim, "user_id", "left").select(
        "event_type", F.col("n_orders").isNotNull().alias("has_orders")
    )
    agg = joined.groupBy("event_type", "has_orders").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    from trading212_etl_spark.registry._core import _scratch

    return _drive(agg, _scratch(events_dir, "stream_static_join"), "complete")


def stream_stream_attribution_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each purchase to
    the click(s) by the same user within the preceding ``horizon`` —
    the canonical event-attribution shape.

    Both sides carry a watermark and the join condition bounds event
    time on BOTH ends (purchase.ts in [click.ts, click.ts + horizon]),
    so the state store can evict: a buffered click older than
    (watermark + horizon) can never match a future purchase and is
    dropped. Without the time bound the state grows with the stream —
    the stream-stream equivalent of the reference's unbounded
    accumulator table (gf, trading212.py:7).

    The equi-key is (user_id, horizon bucket), NOT user_id alone.
    Spark partitions symmetric-hash-join state on the equi-key only;
    the time bounds are eviction hints and post-filters, so a hot user
    makes every arriving row scan that user's ENTIRE buffered state —
    O(clicks x purchases) on one task (measured: the 30%-hot-key skew
    corpus ground a single straggler task for 25+ minutes while the
    uniform twin finished in seconds). Since a match must satisfy
    purchase_ts in [click_ts, click_ts + horizon], the purchase's
    bucket is either the click's bucket or the one after — so each
    click is buffered under BOTH buckets (a stateless explode) and a
    purchase probes exactly one (user, bucket) cell. Each real pair
    matches exactly once (the purchase's own bucket equals exactly one
    of the click's two copies), state per key cell is bounded by one
    key's events per horizon, and the hot user's scan cost drops from
    O(history^2) to O(events-per-2h x arrivals).
    """
    # horizon length in seconds, TZ-invariant (the two literals parse
    # in the session zone and the offset cancels in the difference)
    bucket = F.expr(
        f"unix_timestamp(ts) div timestampdiff(SECOND,"
        f" TIMESTAMP'1970-01-01 00:00:00',"
        f" TIMESTAMP'1970-01-01 00:00:00' + INTERVAL {horizon})"
    )
    c = (
        clicks.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.explode(F.array(bucket, bucket + F.lit(1))).alias("hbucket"),
        )
    )
    p = (
        purchases.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
            bucket.alias("p_hbucket"),
        )
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("hbucket") == F.col("p_hbucket"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value")


def run_stream_stream_join(spark: SparkSession, events_dir: str) -> DataFrame:
    """Drive the attribution join over the corpus events (clicks ⋈
    purchases within 1 hour per user) and return per-user attributed
    purchase counts. Batch equivalence asserted in tests/test_events.py.

    The raw pair stream is never materialized: each micro-batch
    reduces to per-user PARTIAL aggregates (count + unrounded value
    sum) written as its per-batch-id parquet, and the return value
    merges the partials. The pair fan-out is quadratic in a hot user's
    hourly rate BY SEMANTICS (every click pairs with every purchase in
    its following hour): on the 30%-hot-key skew corpus the pairs
    exceeded 1 GiB serialized. Append-mode join output emits each
    match exactly once, so the per-batch partials are disjoint and
    their merge is exact.
    """
    from trading212_etl_spark.registry._core import _scratch

    out_dir = _scratch(events_dir, "stream_stream_pairs")
    ev = _events_stream(spark, events_dir)
    joined = stream_stream_attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_part"),
                F.sum("purchase_value").alias("v_part"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return (
        _drive(joined, out_dir, "append", write_partials)
        .groupBy("user_id")
        .agg(
            F.sum("n_part").cast("bigint").alias("n_attributed"),
            F.round(F.sum("v_part"), 2).alias("attributed_value"),
        )
    )


def run_streaming_tumbling_agg(
    spark: SparkSession, events_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """Drive the streaming aggregate to completion over a static
    directory of event parquet (:func:`_drive`) and return the
    converged result.

    This is the local-smoke harness; a production deployment swaps the
    file source for Kafka — the transformation graph and the sink are
    identical.
    """
    from trading212_etl_spark.registry._core import _scratch

    # the file source requires a directory; the corpus keeps one
    # parquet per table in the sf dir, so _events_stream glob-filters
    # to events only and normalizes ts to TimestampType
    agg = streaming_tumbling_agg(_events_stream(spark, events_dir), duration)
    return _drive(agg, _scratch(events_dir, "stream_tumbling"), "complete")


def run_streaming_sliding_agg(
    spark: SparkSession,
    events_dir: str,
    duration: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding-window twin of :func:`run_streaming_tumbling_agg`:
    each event lands in duration/slide overlapping windows; the
    converged complete-mode output equals the batch sliding aggregate
    (``events_sliding_2h_1h``)."""
    from trading212_etl_spark.registry._core import _scratch

    agg = streaming_tumbling_agg(
        _events_stream(spark, events_dir), duration, slide=slide
    )
    return _drive(agg, _scratch(events_dir, "stream_sliding"), "complete")


def run_streaming_session_window(
    spark: SparkSession, events_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Native session-window sessionization as a streaming stateful
    aggregate — the operator session windows exist for: state holds
    OPEN sessions per user (merged as events arrive, emitted once the
    watermark passes the gap), so memory is bounded by concurrent
    sessions, not by history.

    Complete output mode (session-window streaming aggregation
    supports complete and append; update is rejected): every batch
    re-emits the full converged session table, so over an
    availableNow-style pass of a static directory the result equals
    the batch session_window aggregate (events_session_window's
    oracle) with no keep-latest post-pass. Append mode would be the
    production choice (emit each session once, when the watermark
    passes its gap) but holds back the final sessions of a finite
    local run — the wrong smoke-harness semantics.
    """
    from trading212_etl_spark.registry._core import _scratch

    stream = _events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    return _drive(agg, _scratch(events_dir, "stream_session"), "complete")


def run_streaming_cdc_apply(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """CDC apply via ``foreachBatch``: a stream of keyed change rows
    is MERGEd into a base table — each micro-batch upserts by key,
    keeping the highest (version, then event_id) per key. The pattern
    every warehouse ingestion runs; on a lakehouse table the batch
    body becomes ``MERGE INTO`` (Delta/Iceberg), here it is
    read-union-keep-latest on plain parquet, which is the same logical
    plan without the transactional commit.

    Batch N writes the merged table as its own ``batch_id=N``
    directory and only then deletes the older versions, so the drive's
    re-read is the latest table, and a batch that fails mid-write
    leaves the previous version intact for its re-run (keep-latest is
    idempotent, and the checkpoint applies each batch once, in order).
    State lives in the TABLE, not the stream — memory is O(batch),
    unlike stateful operators.

    Returns the final applied table (one row per key, latest change
    wins) for the oracle diff.
    """
    import glob
    import shutil

    from pyspark.sql import Window

    changes = (
        _events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("key"),
            F.col("ts").alias("version"),
            F.col("event_id"),
            F.col("value"),
        )
    )
    w = Window.partitionBy("key").orderBy(
        F.col("version").desc(), F.col("event_id").desc()
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        target = f"{out_dir}/batch_id={batch_id}"
        older = [d for d in glob.glob(f"{out_dir}/batch_id=*") if d != target]
        merged = batch_df
        if older:
            merged = batch_df.sparkSession.read.parquet(*older).unionByName(
                batch_df
            )
        (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .write.mode("overwrite")
            .parquet(target)
        )
        # write-then-swap, atomically enough for a local demo (a
        # lakehouse MERGE gives the real transactional swap)
        for d in older:
            shutil.rmtree(d)

    return _drive(changes, out_dir, "append", merge_batch)


def streaming_vwap_agg(stream: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Streaming VWAP/TWAP: the market-data rollup
    (registry:events_vwap_hourly) as a watermarked windowed aggregate.

    State per (window, instrument) is three numbers (decimal
    price*qty sum, decimal price sum, counts) — the same algebraic
    states batch IVM uses (operators/aggregates.py:agg_partial_states),
    which is exactly why the streaming and batch results are
    bit-identical: the integer micro-price projection runs on the
    merged state, never on per-batch floats.
    """
    priced = (
        stream.where(
            F.get_json_object("props", "$.k").cast("long") > 0
        )
        .select(
            "ts",
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("px"),
            F.get_json_object("props", "$.k").cast("long").alias("qty"),
        )
        .withWatermark("ts", "2 hours")
    )
    agged = priced.groupBy(
        F.window("ts", duration).alias("w"), "event_type"
    ).agg(
        (F.sum(F.col("px") * F.col("qty")) * 1000000)
        .cast("long")
        .alias("_pv_micro"),
        (F.sum("px") * 1000000).cast("long").alias("_p_micro"),
        F.sum("qty").cast("long").alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    )
    return agged.select(
        F.col("w.start").alias("hour"),
        "event_type",
        F.expr("_pv_micro DIV volume").alias("vwap_micro"),
        F.expr("_p_micro DIV n_trades").alias("twap_micro"),
        "volume",
        "n_trades",
    )


def run_streaming_vwap(
    spark: SparkSession, events_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """Drive :func:`streaming_vwap_agg` to completion over the static
    events parquet; the converged complete-mode output must equal the
    batch VWAP rollup exactly (integer micro-prices on both paths)."""
    from trading212_etl_spark.registry._core import _scratch

    agg = streaming_vwap_agg(_events_stream(spark, events_dir), duration)
    return _drive(agg, _scratch(events_dir, "stream_vwap"), "complete")


def streaming_presence_bitmap(stream: DataFrame) -> DataFrame:
    """Streaming per-user day-presence bitmap
    (registry:events_user_presence_bitmap as an unwindowed streaming
    aggregate): bit_or, bit-counting, and day-index min/max are all
    COMMUTATIVE + IDEMPOTENT merges, so the state per user is one
    (mask, min, max) triple that any micro-batch order converges to
    the identical value — the same reason the VWAP stream equals its
    batch rollup bit-for-bit. No window: the aggregate is keyed by
    user alone, state is O(|users|)·16 bytes, and complete-mode
    output over a finite source IS the batch result. The [0, 62]
    day-domain guard matches the batch entry (shiftleft wraps mod 64
    in the JVM; day 63 would set the sign bit, where the DuckDB
    oracle instead raises an overflow — so 62 is the last shared
    day). The domain is asserted loudly in
    tests/test_quality.py::test_presence_bitmap_day_domain."""
    days = (
        stream.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("day_idx"),
        )
        .where(F.col("day_idx").between(0, 62))
    )
    mask = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), day_idx)"))
    return days.groupBy("user_id").agg(
        mask.alias("presence_mask"),
        F.bit_count(mask).cast("int").alias("days_active"),
        (F.max("day_idx") - F.min("day_idx") + 1)
        .cast("bigint")
        .alias("span_days"),
    )


def run_streaming_presence_bitmap(
    spark: SparkSession, events_dir: str
) -> DataFrame:
    """Drive :func:`streaming_presence_bitmap` to completion over the
    static events parquet; converged complete-mode output must equal
    the batch bitmap exactly."""
    from trading212_etl_spark.registry._core import _scratch

    agg = streaming_presence_bitmap(_events_stream(spark, events_dir))
    return _drive(agg, _scratch(events_dir, "stream_presence"), "complete")


def streaming_error_sli_agg(stream: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Streaming twin of events_error_rate_sli: the hourly error-rate
    SLI as a watermarked event-time window aggregate. State per
    (window) is the algebraic (n_total, n_error) pair — commutative
    merges, so the converged complete-mode output equals the batch
    rollup exactly, integer ppm and the cross-multiplied burn flag
    included (no rate float exists on either path)."""
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(is_err).cast("bigint").alias("n_error"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "n_total",
            "n_error",
            F.expr("CAST(n_error * 1000000 DIV n_total AS BIGINT)").alias(
                "err_ppm"
            ),
            (F.col("n_error") * 1000 > F.col("n_total")).alias("budget_burn"),
        )
    )


def run_streaming_error_sli(
    spark: SparkSession, events_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """Drive :func:`streaming_error_sli_agg` to completion over the
    static events parquet; converged output must equal the batch SLI
    bit-for-bit."""
    from trading212_etl_spark.registry._core import _scratch

    agg = streaming_error_sli_agg(_events_stream(spark, events_dir), duration)
    return _drive(agg, _scratch(events_dir, "stream_sli"), "complete")
