"""Registry entries: time-series + text-scrubbing extensions.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ..operators.aggregates import SKEW_TOP_K
from ..operators.dedup import JACCARD_THRESHOLD
from ..operators.events import SESSION_GAP_MIN
from ..operators.sampling import HASH_CHARS, _rate_threshold
from ..operators.similarity import NEAR_DUP_COS, ROUND_DP
from ..operators.textual import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    QUALITY_THRESHOLD_MILLI,
    TOP_NGRAM_K,
    TOP_NGRAM_N,
)
from ._core import (
    ORACLES,
    _SHINGLES,
    _TOKS,
    _basket_pairs,
    _build_once,
    _dsum,
    _dsum_sql,
    _lsh_oracle_banded,
    _scratch,
    _t,
    pairs_top_k,
    register,
)

# ---------------------------------------------------------------------------
# Time-series + text-scrubbing extensions: gap-filled resampling and
# OHLC downsampling over the events stream table, pattern redaction
# over documents — common shapes in analytics/training-data pipelines.
# ---------------------------------------------------------------------------

@register(
    "events_gapfill_hourly",
    oracle=f"""
    WITH agged AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n_events,
             {_dsum_sql("value")} AS total_value
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    TIMESTAMP '2024-01-30 23:00:00',
                                    INTERVAL 1 HOUR)) AS hour
    )
    SELECT t.event_type, h.hour,
           coalesce(a.n_events, 0) AS n_events,
           coalesce(a.total_value, 0.0) AS total_value
    FROM types t
    CROSS JOIN hours h
    LEFT JOIN agged a ON a.event_type = t.event_type AND a.hour = h.hour
    """,
)
def q_events_gapfill(spark, sf_dir):
    """Gap-filled hourly resample: every (event_type, hour) slot in the
    reporting window exists in the output, zero-filled where no events
    landed — the downstream-join-safe form of a time-series rollup
    (dashboards and window regressions break on missing buckets).

    Scale shape: the dense grid is generated per type via
    sequence+explode (no cross join in the Spark plan — each type row
    explodes its own hour array), and the AGGREGATE side is broadcast
    into the grid's left join: an hourly rollup is small by
    construction (|types| x |hours|) no matter how many raw events fed
    it, so the 100 TB side is reduced before any join. The reporting
    window is an explicit parameter — bounds are config, not a
    data-dependent scan."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    agged = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.expr(
                    "sequence(timestamp'2024-01-01 00:00:00',"
                    " timestamp'2024-01-30 23:00:00', interval 1 hour)"
                )
            ).alias("hour"),
        )
    )
    return grid.join(F.broadcast(agged), ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@register(
    "events_ohlc_daily",
    oracle="""
    WITH ranked AS (
      -- CAST: DuckDB date_trunc('day') yields DATE; Spark yields
      -- TIMESTAMP — pin the oracle to Spark's type
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn_asc,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_desc
      FROM events
    )
    SELECT event_type, day,
           max(CASE WHEN rn_asc = 1 THEN value END) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           max(CASE WHEN rn_desc = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM ranked GROUP BY event_type, day
    """,
)
def q_events_ohlc(spark, sf_dir):
    """OHLC daily downsample — the financial resample the reference's
    trading domain implies: per (event_type, day), the first value by
    event time (open), last (close), and extremes (high/low).
    First/last are made DETERMINISTIC by tie-breaking on event_id via
    two row_number windows over the same partitioning — one shuffle on
    (type, day) feeds both window passes and the final aggregate
    (same keys, no re-exchange). min/max are raw column values (both
    engines read identical doubles; round is display-stability only;
    open/close are single row values, exact)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    w_asc = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn_asc", F.row_number().over(w_asc))
        .withColumn("rn_desc", F.row_number().over(w_desc))
        .groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("rn_asc") == 1, F.col("value"))).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.max(F.when(F.col("rn_desc") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "text_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\d{3}[- ]?\\d{3,4}[- ]?\\d{4}', '<PHONE>', 'g'),
             '\\b(customer|user)\\b', '<ENTITY>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '\\b(customer|user)\\b')) AS BIGINT)
             AS n_entity_hits
    FROM documents
    """,
)
def q_text_redact(spark, sf_dir):
    """Pattern redaction over the document corpus — the
    training-data-pipeline scrub step: email and phone shapes (the
    classic PII regexes; absent from this synthetic corpus but the
    patterns are exercised) plus a domain entity denylist that DOES
    hit, with a per-doc hit count for audit sampling. Pure projection
    — chained JVM regexp_replace, no UDF, no shuffle; at 100 TB this
    is a single codegen'd scan pass. Spark's \\\\d and DuckDB's \\\\d
    agree on ASCII digits; the entity alternation is anchored with
    word boundaries on both engines."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}[- ]?\d{3,4}[- ]?\d{4}"
    entity = r"\b(customer|user)\b"
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), email, "<EMAIL>"),
                phone,
                "<PHONE>",
            ),
            entity,
            "<ENTITY>",
        ).alias("redacted"),
        F.regexp_count("text", F.lit(entity)).alias("n_entity_hits"),
    )


@register(
    "source_binary_files",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           hex(encode(text)) AS content_hex
    FROM documents WHERE doc_id < 4
    """,
)
def q_source_binary_files(spark, sf_dir):
    """Opaque-binary ingestion via Spark's ``binaryFile`` source — the
    scan path a multimodal corpus (images/audio/video as bytes on
    object storage) enters the engine through, feeding the
    operators/multimodal.py decode kernels. Four deterministic .bin
    payloads (document texts as UTF-8 bytes) are laid down driver-side,
    then read back distributed; the oracle rebuilds name/size/hex from
    the source rows. At 100 TB the reader parallelizes per file and
    never materializes payloads on the driver; pathGlobFilter prunes
    non-matching files at listing time."""
    import os

    from pyspark.sql import functions as F

    path = _scratch(sf_dir, "binfiles")
    os.makedirs(path, exist_ok=True)
    seed_rows = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 4)
        .select("doc_id", "text")
        .collect()
    )
    for r in seed_rows:
        with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.regexp_extract("path", "[^/]+$", 0).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.hex("content").alias("content_hex"),
        )
    )


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    starts AS (
      SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_STRIDE})) AS start FROM toks
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(t[start + 1 : start + {CHUNK_SIZE}]) AS INTEGER) AS n_chunk_tokens,
           array_to_string(t[start + 1 : start + {CHUNK_SIZE}], ' ') AS chunk_text
    FROM starts
    """,
)
def q_text_chunk_windows(spark, sf_dir):
    """Fixed-size token-window chunking with overlap (size 64, stride
    48) — the LLM context-window prep step between curation and
    tokenization. Projection + generate only: zero shuffles, zero
    Python; chunks inherit the scan's partitioning. See
    operators/textual.chunk_windows for the coverage contract."""
    from ..operators.textual import chunk_windows

    return chunk_windows(_t(spark, sf_dir, "documents"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    m AS (
      SELECT vec_id, label, emb,
             list_max(list_transform(emb, x -> abs(x))) AS mx
      FROM v
    )
    SELECT vec_id, label,
           round(mx / 127, 6) AS scale,
           array_to_string(
             CASE WHEN mx > 0
                  THEN list_transform(emb, x -> CAST(round(x * 127 / mx) AS INTEGER))
                  ELSE list_transform(emb, x -> 0) END, ',') AS qvec
    FROM m
    """,
)
def q_embedding_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding store
    (scale = max|x|/127) — 4x storage/bandwidth reduction for a 100 TB
    vector corpus. Pure projection, no shuffle; int codes are exact on
    both engines, only the float scale is rounded for parity. The code
    array is emitted comma-joined: the driver canonicalizes results
    through pandas sort_values, which cannot hash raw list cells (the
    one red CORRECTNESS row of r4). See operators/similarity.quantize_int8."""
    from pyspark.sql import functions as F

    from ..operators.similarity import quantize_int8

    q = quantize_int8(_t(spark, sf_dir, "embeddings"))
    return q.withColumn(
        "qvec", F.array_join(F.col("qvec").cast("array<string>"), ",")
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH zs AS (
      SELECT event_id, event_type, ts, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sd,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, ts, value,
           round((value - mu) / sd, 4) AS zscore
    FROM zs
    WHERE n >= 20 AND sd > 0
      AND abs(round((value - mu) / sd, 4)) >= 3
    """,
)
def q_events_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection: each event scored against
    the trailing 20-event window of its event_type (ROWS frame ordered
    by (ts, event_id) for determinism); emit events ≥3 sigma from the
    rolling mean. Short warm-up windows (n < 20) and zero-variance
    windows are excluded — both engines would otherwise divide by
    null/0. One keyed window, one exchange; the anomaly filter is
    applied to the ROUNDED score so the float boundary is identical on
    both engines. At 100 TB the partition key is event_type — add a
    time-bucket to the key if one type dominates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    z = F.round((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w), 4)
    return (
        ev.select(
            "event_id",
            "event_type",
            "ts",
            "value",
            # count(1), not count(value): the oracle's count(*) counts
            # rows, and a NULL value inside the frame must not let the
            # two engines disagree on the n >= 20 warm-up gate
            F.count(F.lit(1)).over(w).alias("__n"),
            F.stddev_samp("value").over(w).alias("__sd"),
            z.alias("zscore"),
        )
        .filter((F.col("__n") >= 20) & (F.col("__sd") > 0) & (F.abs("zscore") >= 3))
        .drop("__n", "__sd")
    )


@register(
    "orders_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, frequency,
           CAST(monetary AS DOUBLE) AS monetary,
           ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
           ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
           ntile(4) OVER (ORDER BY monetary, o_custkey) AS m_score
    FROM rfm
    """,
)
def q_orders_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation:
    one aggregate over orders, then quartile scores per metric via
    ntile — the classic marketing-analytics segmentation. Every ntile
    ordering carries the o_custkey tie-break, and monetary is an EXACT
    DECIMAL sum (order-independent, engine-identical) — a rounded
    double sum would make the ntile SORT KEY vulnerable to a 1-ulp
    cross-engine difference at a .005 rounding boundary, silently
    swapping two customers' quartiles. Scale shape (the r3 verdict's
    named fix, applied; restructured r5 for local cost): each quartile
    score is the EXACT distributed ntile — partitioning.ordered_prefix
    computes the global rank via key buckets + per-bucket
    row_number + broadcast offsets, and ntile_from_rank projects rank
    → bucket with SQL ntile's integer bucket-size rule. The three rank
    scans run over NARROW (key, custkey) projections of ONE base
    aggregate — not chained full-width (r4's shape: 6 wide shuffles +
    3 eager checkpoints; 1.9x slower locally) — and join back on
    o_custkey (aggregate-sized: AQE broadcasts locally, stays
    hash-co-partitioned after the first join at scale). The base is
    not pinned: its four readers share the orders exchange, and a pin
    measured no faster (4 vCPUs, 3 interleaved runs per arm: 1.58 vs
    1.70 s at sf0.1, 4.71 vs 4.04 s at 10x). No global ntile window,
    no single-partition sort, and still bit-identical to the oracle's
    ntile(4) (approx-quantile cuts would NOT be — equal-frequency
    buckets are a rank property, not a value property)."""
    from pyspark.sql import functions as F

    from ..partitioning import ntile_from_rank, ordered_prefix

    orders = _t(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    # ntile sorts on the EXACT decimal; the emitted monetary column is
    # its double image (deterministic — the decimal is already 2dp)
    scored = rfm
    for key, out in (
        ("last_order", "r_score"),
        ("frequency", "f_score"),
        ("monetary", "m_score"),
    ):
        ranks = ordered_prefix(
            rfm.select(key, "o_custkey"),
            [F.col(key), F.col("o_custkey")],
            rn_name="__rank",
        ).select(
            "o_custkey",
            ntile_from_rank(F.col("__rank"), F.col("total_n"), 4).alias(out),
        )
        scored = scored.join(ranks, "o_custkey")
    return scored.select(
        "o_custkey",
        "last_order",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
    )


@register(
    "text_unigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, term),
    vocab AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
    tot AS (SELECT sum(ctf) AS total_tokens FROM vocab),
    s AS (
      SELECT doc_id, tf,
             CAST(floor(ctf * 1000000000.0 / total_tokens) AS BIGINT) AS p_ppb
      FROM tf JOIN vocab USING (term) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * p_ppb) // sum(tf) AS BIGINT) AS avg_tok_freq_ppb
    FROM s GROUP BY doc_id
    """,
)
def q_text_unigram_lm(spark, sf_dir):
    """CCNet-style unigram-LM quality score in exact integer ppb —
    rare-token-heavy (gibberish/OCR-noise) documents score low. See
    operators/textual.py:unigram_lm_score for the libm-free surrogate
    and the four-shuffle scale shape (corpus text never shuffles)."""
    from ..operators.textual import unigram_lm_score

    return unigram_lm_score(_t(spark, sf_dir, "documents"))


@register(
    "text_top_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest([array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+{TOP_NGRAM_N - 1}], ' ')
                     for i in range(1, greatest(len(toks)-{TOP_NGRAM_N - 1}, 1)+1)]) AS gram
      FROM t
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g
    WHERE len(string_split(gram, ' ')) >= {TOP_NGRAM_N}
    GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT {TOP_NGRAM_K}
    """,
)
def q_text_top_ngrams(spark, sf_dir):
    """Corpus-level heavy-hitter word-3-grams (top 20 with doc
    frequency) — the boilerplate-dictionary mining pass. Partial
    aggregation absorbs hot-gram skew before the exchange; final
    top-k is TakeOrderedAndProject, not a global sort
    (operators/textual.py:top_ngrams)."""
    from ..operators.textual import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"))


@register(
    "graph_pagerank",
    oracle="""
    WITH e AS (
      SELECT o_custkey AS src, -l_suppkey AS dst,
             CAST(count(*) AS BIGINT) AS weight
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, CAST(sum(weight) AS BIGINT) AS out_weight
           FROM e GROUP BY src),
    se AS (SELECT e.src, e.dst, e.weight, ow.out_weight
           FROM e JOIN ow USING (src)),
    n AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM n),
    c1 AS (SELECT dst AS node,
                  CAST(sum(rank_micro * weight // out_weight) AS BIGINT) AS inflow
           FROM se JOIN r0 ON se.src = r0.node GROUP BY dst),
    r1 AS (SELECT n.node,
                  CAST(150000 + 8500 * coalesce(inflow, 0) // 10000 AS BIGINT)
                    AS rank_micro
           FROM n LEFT JOIN c1 USING (node)),
    c2 AS (SELECT dst AS node,
                  CAST(sum(rank_micro * weight // out_weight) AS BIGINT) AS inflow
           FROM se JOIN r1 ON se.src = r1.node GROUP BY dst),
    r2 AS (SELECT n.node,
                  CAST(150000 + 8500 * coalesce(inflow, 0) // 10000 AS BIGINT)
                    AS rank_micro
           FROM n LEFT JOIN c2 USING (node)),
    c3 AS (SELECT dst AS node,
                  CAST(sum(rank_micro * weight // out_weight) AS BIGINT) AS inflow
           FROM se JOIN r2 ON se.src = r2.node GROUP BY dst),
    r3 AS (SELECT n.node,
                  CAST(150000 + 8500 * coalesce(inflow, 0) // 10000 AS BIGINT)
                    AS rank_micro
           FROM n LEFT JOIN c3 USING (node))
    SELECT node, rank_micro FROM r3
    """,
)
def q_graph_pagerank(spark, sf_dir):
    """3-iteration weighted PageRank (damping 0.85) over the bipartite
    customer -> supplier trade graph (edge weight = lineitems shipped),
    in exact integer micro-units so the unrolled SQL oracle matches
    bit-for-bit (operators/graph.py:pagerank_micro — per-round single
    shuffle, |V|-sized rank frame, conf-driven lineage cuts). Node ids
    stay BIGINT (customers positive, suppliers negated) — integer keys
    shuffle and join at a fraction of the cost of string-concatenated
    ids, the kind of key-encoding choice that compounds at 100 TB.

    Overflow headroom: per-edge product rank_micro * weight stays under
    2^63 while total_rank_mass * max_edge_weight < 9.2e18 — for graphs
    beyond ~1e9 nodes with mega-hub edges, rescale init_micro down or
    switch the rank column to DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    from ..operators.graph import pagerank_micro

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count("*").alias("weight"))
    )
    return pagerank_micro(edges)


@register(
    "profile_key_skew",
    oracle=f"""
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
                      CAST(count(*) AS BIGINT) AS n_rows
               FROM events GROUP BY user_id),
    t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(n_rows) AS BIGINT) AS max_count
          FROM c)
    SELECT key, n_rows,
           CAST(n_rows * 10000 // total_rows AS BIGINT) AS share_bp,
           total_rows, n_keys,
           CAST(max_count * n_keys * 10000 // total_rows AS BIGINT)
             AS skew_ratio_bp
    FROM c CROSS JOIN t
    ORDER BY n_rows DESC, key
    LIMIT {SKEW_TOP_K}
    """,
)
def q_profile_key_skew(spark, sf_dir):
    """Shuffle-key skew diagnostics on events.user_id: hottest keys +
    the skew ratio that sizes the salting factor
    (operators/aggregates.py:key_skew_profile — one fact-table pass,
    1-row broadcast of the global stats, top-k heap)."""
    from ..operators.aggregates import key_skew_profile

    return key_skew_profile(_t(spark, sf_dir, "events"), "user_id")


@register(
    "events_markov_transitions",
    oracle="""
    WITH p AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
          FROM p WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, n_transitions,
           CAST(n_transitions * 10000
                // sum(n_transitions) OVER (PARTITION BY src) AS BIGINT)
             AS prob_bp
    FROM c
    """,
)
def q_events_markov(spark, sf_dir):
    """Per-user next-event transition matrix with exact integer
    basis-point probabilities (operators/events.py:markov_transitions
    — one user_id window shuffle over the facts, then aggregates on
    the |event_types|^2-sized matrix only)."""
    from ..operators.events import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"))


def _zvalue_sql() -> str:
    from ..sources.writers import zvalue16_expr

    return zvalue16_expr("l_partkey", "l_suppkey")


@register(
    "sink_zorder_layout",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(min({_zvalue_sql()}) AS BIGINT) AS min_z,
           CAST(max({_zvalue_sql()}) AS BIGINT) AS max_z,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_qty
    FROM lineitem
    """,
)
def q_sink_zorder(spark, sf_dir):
    """Z-order-clustered Parquet sink: Morton-interleave
    (l_partkey, l_suppkey), range-partition + sort on the z-value,
    write, read back (sources/writers.py:zorder_write). The aggregate
    proves the layout pass is lossless; the multi-dimensional
    data-skipping effect (tight per-file min-max on BOTH keys) is
    proven quantitatively against a row-order write in
    tests/test_plans.py:test_zorder_write_tightens_file_spans."""
    from pyspark.sql import functions as F

    from ..sources.writers import zorder_write

    path = _scratch(sf_dir, "zorder_lineitem")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    zorder_write(li, "l_partkey", "l_suppkey", path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min(F.expr(_zvalue_sql())).alias("min_z"),
        F.max(F.expr(_zvalue_sql())).alias("max_z"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "events_rollup_hierarchy",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_rollup_hierarchy(spark, sf_dir):
    """Hour -> day -> month continuous-aggregate hierarchy, each level
    rolled from the level below with exactly re-aggregatable DECIMAL
    measures; the oracle is the FLAT monthly aggregate, so the row
    proves hierarchical == direct (operators/events.py:
    rollup_hierarchy — three geometrically shrinking shuffles)."""
    from ..operators.events import rollup_hierarchy

    return rollup_hierarchy(_t(spark, sf_dir, "events"))


@register(
    "streaming_session_window",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events),
    g AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {SESSION_GAP_MIN * 60_000_000}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_streaming_session_window(spark, sf_dir):
    """§2.9 streaming — session_window as a stateful streaming
    aggregate (state = open sessions, emitted past the watermark);
    converged output equals the batch events_session_window oracle
    (streaming/windows.py:run_streaming_session_window)."""
    from ..streaming.windows import run_streaming_session_window

    return run_streaming_session_window(spark, sf_dir)


@register(
    "sample_temperature_mixture",
    oracle="""
    WITH c AS (SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    w AS (SELECT domain, n_docs,
                 CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS w_micro
          FROM c)
    SELECT domain, n_docs, w_micro,
           CAST(w_micro * 10000 // sum(w_micro) OVER () AS BIGINT) AS share_bp
    FROM w
    """,
)
def q_sample_temperature(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) domain sampling weights — the
    XLM-R-style small-domain up-sampling rule, exact across engines
    because sqrt is IEEE correctly-rounded and everything after it is
    integer arithmetic (operators/sampling.py:
    temperature_mixture_weights — one corpus pass, then |domains|-row
    math)."""
    from ..operators.sampling import temperature_mixture_weights

    return temperature_mixture_weights(_t(spark, sf_dir, "documents"))


@register(
    "join_asof_forward",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                 ORDER BY o_orderkey ASC) = 1
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS next_orderkey,
           o.o_totalprice AS next_totalprice,
           o.o_orderdate AS next_orderdate
    FROM e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    """,
)
def q_join_asof_forward(spark, sf_dir):
    """§2.3 extension — forward as-of join: each event gains the
    EARLIEST order of that user at or after the event time (the
    fill-to-next-quote direction). Same tagged-union single-shuffle
    plan as backward, with the frame flipped to unbounded-FOLLOWING
    (operators/asof.py:asof_join direction="forward"). DuckDB ASOF
    leaves (key, ts) ties unspecified, so the oracle pre-dedupes to
    the MIN orderkey — the row Spark's forward tiebreak selects."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    return asof_join(
        e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        ["o_orderkey", "o_totalprice", "o_orderdate"],
        right_order="o_orderkey",
        direction="forward",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("next_orderkey"),
        F.col("o_totalprice").alias("next_totalprice"),
        F.col("o_orderdate").alias("next_orderdate"),
    )


@register(
    "embedding_pca_power_iter",
    oracle="""
    WITH q AS (
      SELECT [CAST(floor(x * 1000000) AS BIGINT)
              for x in CAST(embedding AS DOUBLE[])] AS xq
      FROM embeddings
    ),
    d AS (
      SELECT xq,
             list_sum([CASE WHEN (i - 1) % 2 = 0 THEN xq[CAST(i AS INTEGER)]
                            ELSE -xq[CAST(i AS INTEGER)] END
                       for i in range(1, len(xq) + 1)]) AS dot_q
      FROM q
    ),
    e AS (
      SELECT unnest([{'dim': i - 1, 'c': xq[CAST(i AS INTEGER)] * dot_q}
                     for i in range(1, len(xq) + 1)]) AS u
      FROM d
    )
    SELECT CAST(u.dim AS INTEGER) AS dim,
           CAST(sum(u.c) AS VARCHAR) AS component
    FROM e GROUP BY u.dim
    """,
)
def q_embedding_pca(spark, sf_dir):
    """One exact-integer power-iteration step v1 = X^T (X v0) toward
    the top principal component (operators/similarity.py:
    pca_power_iteration — single corpus pass, one dim-cardinality
    shuffle, DECIMAL(38,0) accumulation emitted as string)."""
    from ..operators.similarity import pca_power_iteration

    return pca_power_iteration(_t(spark, sf_dir, "embeddings"))


@register("events_hll_rollup")  # no SQL oracle: Datasketches HLL is
# engine-specific; tests/test_llm_ops.py asserts the union-rollup
# estimate within 5% of the exact daily distinct count
def q_events_hll_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: per-hour HLL sketches of active users,
    UNIONED up to per-day estimates — the pattern that makes distinct
    counting re-aggregatable at 100 TB (exact countDistinct cannot
    roll up: |daily distinct| != sum of hourly; a sketch union CAN,
    so the hourly layer is computed once and every coarser grain is
    sketch-merge over tiny state, same hierarchy economics as
    events_rollup_hierarchy). One fact shuffle for the hourly layer;
    the daily union aggregates |hours| 1-KB sketches per day."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.hll_sketch_agg("user_id", 12).alias("sketch")
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "n_users_est"
            ),
        )
    )


def _corrupt_record_audit(raw):
    """(n_good, n_corrupt, total_good) over a PERMISSIVE parse with a
    ``_corrupt_record`` column, as one lazy aggregate. The parse is
    pinned over its full schema: without the pin, CSV column pruning
    parses only the columns the aggregate reads, and which rows count
    as corrupt depends on the columns parsed."""
    from pyspark.sql import functions as F

    from ..partitioning import freeze_partitions

    ok = F.col("_corrupt_record").isNull()
    return freeze_partitions(raw).agg(
        F.count_if(ok).alias("n_good"),
        F.count_if(~ok).alias("n_corrupt"),
        F.round(F.sum(F.when(ok, F.col("total"))), 2).alias("total_good"),
    )


def _corrupt_fixture(spark, sf_dir, name, key_mod, fmt, bad_lines):
    """The corrupt-record fixture ``name`` for ``sf_dir``, built once
    (registry/_core._build_once): the orders with
    ``o_orderkey % 10 == key_mod`` as one ``fmt`` (csv/json) file plus
    ``bad_lines`` appended to it, so a later build runs no Spark job
    for it."""
    import glob
    import os

    from pyspark.sql import functions as F

    def write(tmp):
        writer = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == key_mod)
            .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
            .coalesce(1)
            .write.mode("overwrite")
        )
        if fmt == "csv":
            writer.option("header", True).csv(tmp)
        else:
            writer.json(tmp)
        (part,) = glob.glob(os.path.join(tmp, f"part-*.{fmt}"))
        with open(part, "a") as fh:
            fh.writelines(line + "\n" for line in bad_lines)
        # the local-FS writer leaves .crc sidecars; the append
        # invalidates them and Hadoop's ChecksumFileSystem would fail
        # the re-read
        for crc in glob.glob(os.path.join(tmp, ".*.crc")):
            os.remove(crc)

    return _build_once(sf_dir, name, write)


@register(
    "source_csv_malformed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(4 AS BIGINT) AS n_corrupt,
           round(sum(round(o_totalprice, 2)), 2) AS total_good
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def q_source_csv_malformed(spark, sf_dir):
    """S6 hardening — malformed-row handling on the CSV ingest path:
    PERMISSIVE mode with a ``_corrupt_record`` column quarantines bad
    lines instead of failing the 100 TB job (one poison row must not
    kill a scan) or silently dropping them (DROPMALFORMED loses audit
    evidence). The reference's pd.read_csv (trading212.py:108) would
    raise mid-pipeline on the same input.

    The fixture CSV is a known orders slice plus 4 injected bad lines
    (wrong arity / non-numeric key); the result row is the audit
    summary (good count, corrupt count, good-value checksum), so the
    oracle is the clean slice + the injection constant."""
    from pyspark.sql import types as T

    path = _corrupt_fixture(
        spark,
        sf_dir,
        "csv_malformed",
        0,
        "csv",
        ["not_a_number,99.5", "12345", "7,8,9,10", "xyz,abc"],
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return _corrupt_record_audit(raw)


@register(
    "sink_compaction",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM lineitem
    """,
)
def q_sink_compaction(spark, sf_dir):
    """Small-file compaction roundtrip: fragment lineitem into 64 tiny
    files, compact to ~4 MB targets sized from the source bytes
    (sources/writers.py:compact_parquet), read back and prove the
    rewrite lossless. tests/test_plans.py asserts the file count
    actually drops."""
    from pyspark.sql import functions as F

    from ..sources.writers import compact_parquet

    frag = _scratch(sf_dir, "compact_frag")
    out = _scratch(sf_dir, "compact_out")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compact_parquet(spark, frag, out, target_file_bytes=4 * 1024 * 1024)
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


@register(
    "events_funnel_windowed",
    oracle="""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    a AS (SELECT user_id,
            list_sort(list(ts) FILTER (WHERE event_type = 'signup')) AS l0,
            list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS l1,
            list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS l2
          FROM e GROUP BY user_id),
    r0 AS (SELECT user_id, l1, l2, l0[1] AS t0 FROM a),
    r1 AS (SELECT user_id, l2, t0,
             list_filter(l1, x -> x >= t0
                                  AND x <= t0 + INTERVAL 120 MINUTE)[1] AS t1
           FROM r0),
    r2 AS (SELECT user_id, t0, t1,
             list_filter(l2, x -> x >= t1
                                  AND x <= t1 + INTERVAL 120 MINUTE)[1] AS t2
           FROM r1)
    SELECT user_id,
           CAST((CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS steps_reached
    FROM r2
    WHERE t0 IS NOT NULL
    """,
)
def q_events_funnel_windowed(spark, sf_dir):
    """Conversion-window funnel (signup → view → purchase, each step
    within 2h of the prior): the gap constraint is one extra lambda
    conjunct in the same single-shuffle list-algebra plan as
    events_funnel — no per-step self-joins at any scale."""
    from ..operators.events import funnel

    return funnel(
        _t(spark, sf_dir, "events"),
        ["signup", "view", "purchase"],
        max_gap_minutes=120,
    )


@register(
    "join_dpp_partitioned",
    oracle="""
    WITH dim AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN 'N' ELSE 'R' END AS flag,
             p_partkey
      FROM part WHERE p_partkey < 5
    )
    SELECT f.l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(f.l_extendedprice), 2) AS total_price
    FROM lineitem f JOIN dim ON f.l_returnflag = dim.flag
    GROUP BY f.l_returnflag
    """,
)
def q_join_dpp(spark, sf_dir):
    """Dynamic partition pruning: the fact table is laid out
    hive-partitioned by l_returnflag; joining it against a dim with a
    selective predicate makes Catalyst inject
    ``dynamicpruningexpression(l_returnflag IN <dim subquery>)`` into
    the scan's PartitionFilters — at 100 TB the runtime subquery
    eliminates whole partition directories the static planner cannot
    (the dim's surviving keys are unknown until execution). The dim
    keeps only the N and R flags, so exactly one of the fact's three
    returnflag partitions (A) is pruned and the surviving two produce
    a NON-EMPTY exact result (a dim that matches no partition would
    make this row a vacuous 0 == 0 — the round-3 lesson from the
    fiscal-calendar anchor). The plan property is asserted in
    tests/test_plans.py: test_dynamic_partition_pruning_fires; this
    row proves the pruned result stays exact."""
    from pyspark.sql import functions as F

    from ..sources.writers import write_parquet

    path = _scratch(sf_dir, "dpp_lineitem")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    write_parquet(li, path, partition_by=["l_returnflag"])
    fact = spark.read.parquet(path)
    dim = (
        _t(spark, sf_dir, "part")
        .select(
            F.when(F.col("p_partkey") % 2 == 0, "N")
            .otherwise("R")
            .alias("flag"),
            "p_partkey",
        )
        .filter(F.col("p_partkey") < 5)
    )
    return (
        fact.join(dim, fact.l_returnflag == dim.flag)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "delete_propagation",
    oracle="""
    WITH del AS (SELECT o_custkey AS custkey FROM orders
                 WHERE o_custkey % 100 = 7),
    kept_orders AS (
      SELECT * FROM orders WHERE o_custkey NOT IN (SELECT custkey FROM del)
    )
    SELECT CAST((SELECT count(*) FROM kept_orders) AS BIGINT) AS n_orders_kept,
           CAST((SELECT count(*) FROM lineitem l
                 JOIN kept_orders o ON l.l_orderkey = o.o_orderkey) AS BIGINT)
             AS n_lineitems_kept,
           CAST((SELECT count(DISTINCT custkey) FROM del) AS BIGINT)
             AS n_subjects_deleted
    """,
)
def q_delete_propagation(spark, sf_dir):
    """Right-to-erasure propagation: a delete-list of data subjects
    (customers) is applied consistently across the fact hierarchy —
    orders by left-anti join on the key, lineitems transitively via
    left-semi against the surviving orders. Both joins broadcast the
    small side (the delete list, then the survivor keys at dim scale);
    the fact tables never shuffle. The audit row returns surviving
    counts + subjects deleted — the numbers a compliance log records.
    At 100 TB the same two-join shape runs as a MERGE DELETE against
    each partition the delete keys touch."""
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    del_list = (
        orders.filter(F.col("o_custkey") % 100 == 7)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    kept_orders = orders.join(
        F.broadcast(del_list),
        orders.o_custkey == del_list.custkey,
        "left_anti",
    )
    kept_li = li.join(
        kept_orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    return (
        kept_orders.agg(F.count(F.lit(1)).alias("n_orders_kept"))
        .crossJoin(kept_li.agg(F.count(F.lit(1)).alias("n_lineitems_kept")))
        .crossJoin(
            del_list.agg(F.count(F.lit(1)).alias("n_subjects_deleted"))
        )
    )


def _curate_lsh_oracle() -> str:
    """Full-pipeline DuckDB twin of the LSH curate path (VERDICT r12
    item 2): the shared canonical prefix (scoring → filters → digest
    keep-first), the md5-mode MinHash signature/banding candidate
    stages (hash-exact vs the engine's ``hash_fn="md5"``), exact-
    Jaccard verification of the candidates, and the shared recursive-
    closure survivor rule. Composed from the same SQL fragments the
    ``pipeline_curate_corpus`` and ``dedup_minhash_lsh`` oracles run,
    so the three entries cannot drift apart."""
    from .llm import (
        _CURATE_CANONICAL_CTES,
        _CURATE_SURVIVOR_SQL,
        _minhash_md5_cand_ctes,
    )

    return f"""
    WITH RECURSIVE {_CURATE_CANONICAL_CTES},
    {_minhash_md5_cand_ctes("sh")},
    v AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(ta.shingles, tb.shingles)) AS n_common,
             len(ta.shingles) AS size_a, len(tb.shingles) AS size_b
      FROM cand c
      JOIN sh ta ON ta.id = c.doc_a
      JOIN sh tb ON tb.id = c.doc_b
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM v
      WHERE round(CAST(n_common AS DOUBLE)
                  / (size_a + size_b - n_common), 4) >= {JACCARD_THRESHOLD}
    ),
    {_CURATE_SURVIVOR_SQL}"""


@register("pipeline_curate_corpus_lsh", oracle=_curate_lsh_oracle())
def q_curate_corpus_lsh(spark, sf_dir):
    """The curation pipeline on its 100 TB pair generator: MinHash+LSH
    banding with exact-Jaccard candidate verification replaces the
    exact shingle-join (plans/curate.py use_lsh=True). Identical
    stages otherwise; LSH can only MISS pairs, so relative to the
    exact path it keeps a (near-identical) superset of documents —
    the recall invariant tests/test_llm_ops.py pins.

    Registered in ``hash_fn="md5"`` mode so the ENTIRE pipeline —
    scoring, filters, exact dedup, signatures, banding, candidate
    verification, survivor closure — is replicated in the DuckDB
    oracle (hash-green since r13; formerly rows-only). The xxhash64
    production default stays exercised by the superset-recall test
    and the 125× sweeps."""
    from ..plans.curate import curate_corpus

    return curate_corpus(
        _t(spark, sf_dir, "documents"), use_lsh=True, lsh_hash_fn="md5"
    )


@register(
    "streaming_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id AS key, CAST(ts AS TIMESTAMP) AS version,
             event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT key, version, event_id, value FROM ranked WHERE rn = 1
    """,
)
def q_streaming_cdc_apply(spark, sf_dir):
    """§2.9 streaming — CDC apply: the event stream merged into a
    keyed base table via foreachBatch (latest change per key wins;
    MERGE INTO on a lakehouse, read-union-keep-latest here). The
    converged table must equal the batch keep-latest over the full
    change history — the oracle (streaming/windows.py:
    run_streaming_cdc_apply)."""
    from ..streaming.windows import run_streaming_cdc_apply

    return run_streaming_cdc_apply(
        spark, sf_dir, _scratch(sf_dir, "cdc_apply")
    )


@register(
    "orders_basket_affinity",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_f
             FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS pair_count
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, pair_count,
           CAST(pair_count * n_orders * 10000
                // (fa.n_f * fb.n_f) AS BIGINT) AS lift_bp
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN n
    ORDER BY pair_count DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_orders_basket_affinity(spark, sf_dir):
    """Market-basket affinity: co-occurrence counts + lift (in exact
    integer basis points) for part pairs bought in the same order.

    Scale shape (r15, guide §2.4): the pair generator is the BASKET
    pattern shared with graph_triangle_count — ONE l_orderkey shuffle
    builds each order's sorted part set via collect_set (subsuming the
    old items distinct), and the ordered pairs explode from a
    slice/transform expression in pure codegen. The quadratic blowup
    stays bounded by basket size (≤ C(17,2) pairs per order at
    sf0.1; a basket above MAX_BASKET_PARTS fails loudly — see
    _core._basket_pairs), and the old co-partitioned self-join — plus
    its distinct
    exchange and both SMJ sorts — disappears: per-item frequencies
    explode off the same basket frame (identical rows to the items
    groupBy) and the order count is a plain count of baskets (one row
    per order by construction). Measured at 125× (interleaved
    min-of-2, rows proven equal): 53.4 → 43.4 s = 0.81×; sf0.1
    2.56 → 2.45 s. Item
    frequencies broadcast back onto the pair frame; the order count
    rides a 1-row broadcast; top-k is a heap. lift > 10000 bp means
    the pair co-occurs more than independence predicts — the affinity
    signal recommendation and bundling pipelines rank by.

    NOTE (r14, kept for the record): pinning the old items frame
    measured SLOWER (1.37 -> 1.78s at sf0.1) because ReuseExchange
    already dedup'd the self-join sides; the basket form removes the
    join instead of caching its input. The three basket consumers
    each re-run the cheap scan + basket aggregate (the plan has no
    shared exchange), which
    the interleaved A/B shows still beats the join shape; a pin here
    would repeat the r14 items-pin mistake."""
    from pyspark.sql import functions as F

    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    freq = baskets.select(F.explode("parts").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("n_f"))
    pairs = _basket_pairs(baskets)
    fa = freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n_f").alias("n_fa")
    )
    fb = freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n_f").alias("n_fb")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_count",
            F.expr(
                "pair_count * n_orders * 10000 DIV (n_fa * n_fb)"
            ).alias("lift_bp"),
        )
        .orderBy(F.col("pair_count").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "sample_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    e AS (SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle FROM t),
    c AS (SELECT a.id AS doc_a, b.id AS doc_b,
                 any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
                 count(*) AS n_common
          FROM e a JOIN e b USING (shingle)
          WHERE a.id < b.id GROUP BY a.id, b.id),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM c
      WHERE round(CAST(n_common AS DOUBLE) / (size_a + size_b - n_common), 4) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
    ),
    comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
             FROM reach GROUP BY src)
    SELECT d.doc_id,
           coalesce(cp.component, d.doc_id) AS group_key,
           CASE WHEN substr(md5(CAST(coalesce(cp.component, d.doc_id)
                                     AS VARCHAR)), 1, {HASH_CHARS}) < '{_rate_threshold(0.8)}'
                THEN 'train'
                WHEN substr(md5(CAST(coalesce(cp.component, d.doc_id)
                                     AS VARCHAR)), 1, {HASH_CHARS}) < '{_rate_threshold(0.9)}'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp cp USING (doc_id)
    """,
)
def q_sample_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: documents are split by their
    NEAR-DUP CLUSTER, not individually — a plain per-doc hash split
    puts two 0.9-Jaccard near-duplicates of the same page on opposite
    sides of the train/test fence, silently contaminating every eval.
    Group key = connected-component label of the J >= 0.5 pair graph
    (isolated docs key by themselves), then the same md5 80/10/10
    assignment as sample_hash_split on the group key, so every member
    of a cluster lands in the same split by construction.

    Scale shape: the CC closure runs on the PAIR GRAPH (|pairs| <<
    corpus); the labels join back onto the corpus broadcast (near-dup
    clusters are a small fraction of any curated corpus), and the
    split itself stays a pure projection."""
    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components, jaccard_pairs
    from ..operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    # SPARK_GRAFT_PAIRS_TOP_K (r11; candidate-bounded since r12,
    # unset by default): kNN-subgraph edge bound — split labels are
    # CC-derived, and equal-J clique connectivity survives the
    # truncation, so replicated-corpus clusters keep landing on one
    # side of the fence; the r12 hub-candidate route means the
    # quadratic pair mass is never even enumerated
    comp = connected_components(
        jaccard_pairs(docs, top_k_per_doc=pairs_top_k())
    )
    grouped = (
        docs.select("doc_id")
        .join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("group_key"),
        )
    )
    return hash_split(
        grouped, "group_key", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


@register(
    "text_model_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             CASE WHEN toks IS NULL THEN NULL
                  ELSE CAST(coalesce(list_sum(list_transform(toks, t ->
                    (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
                    + strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1
                    - 128)), 0) AS BIGINT) END AS total_weight
      FROM t
    )
    SELECT doc_id, n_tokens, total_weight,
           n_tokens > 0 AND total_weight * 1000 >= n_tokens * {QUALITY_THRESHOLD_MILLI} AS keep
    FROM w
    """,
)
def q_text_model_quality_filter(spark, sf_dir):
    """Model-based quality gate: linear classifier over hashing-trick
    token features, applied as a pure projection (operators/textual.py:
    model_quality_filter). The md5-derived bucket weights stand in for
    a trained fastText/LR weight vector — a real model broadcasts its
    weight array into the identical lambda. Integer-only scoring (the
    keep test cross-multiplies instead of dividing) keeps it oracle-
    exact; zero shuffles, zero Python at any corpus size."""
    from ..operators.textual import model_quality_filter

    return model_quality_filter(_t(spark, sf_dir, "documents"))


@register(
    "join_asof_tolerance",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                 ORDER BY o_orderkey DESC) = 1
    ),
    m AS (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey, o.o_totalprice, o.o_orderdate
      FROM e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN o_orderdate >= ts - INTERVAL 7 DAY
                THEN o_orderkey END AS last_orderkey_7d,
           CASE WHEN o_orderdate >= ts - INTERVAL 7 DAY
                THEN o_totalprice END AS last_totalprice_7d,
           CASE WHEN o_orderdate >= ts - INTERVAL 7 DAY
                THEN o_orderdate END AS last_orderdate_7d
    FROM m
    """,
)
def q_join_asof_tolerance(spark, sf_dir):
    """Backward as-of join with a tolerance (pandas ``merge_asof(...,
    tolerance=7d)``): the latest order at or before each event, but
    only when it is at most 7 days stale — the staleness guard every
    price-as-of query needs (a quote from last month must not price
    today's fill). Same single-shuffle tagged-union window as
    join_asof_backward; the tolerance is a post-window projection that
    nulls out stale matches, so the plan cost is identical
    (operators/asof.py:asof_join)."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    joined = asof_join(
        e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        ["o_orderkey", "o_totalprice", "o_orderdate"],
        right_order="o_orderkey",
    )
    fresh = F.col("o_orderdate") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("o_orderkey")).alias("last_orderkey_7d"),
        F.when(fresh, F.col("o_totalprice")).alias("last_totalprice_7d"),
        F.when(fresh, F.col("o_orderdate")).alias("last_orderdate_7d"),
    )


@register(
    "join_point_in_time",
    oracle="""
    WITH obs AS (
      SELECT o_custkey, o_orderdate, o_orderstatus, o_orderpriority,
             lag(o_orderstatus) OVER w AS ps,
             lag(o_orderpriority) OVER w AS pp,
             row_number() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderstatus, o_orderpriority)
    ),
    chg AS (
      SELECT o_custkey, o_orderdate, o_orderstatus, o_orderpriority
      FROM obs
      WHERE rn = 1
         OR ps IS DISTINCT FROM o_orderstatus
         OR pp IS DISTINCT FROM o_orderpriority
    ),
    dim AS (
      SELECT o_custkey, o_orderstatus, o_orderpriority,
             o_orderdate AS effective_from,
             lead(o_orderdate) OVER w2 AS effective_to
      FROM chg
      WINDOW w2 AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderstatus, o_orderpriority)
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           d.o_orderstatus AS status_at_event,
           d.o_orderpriority AS priority_at_event
    FROM events e LEFT JOIN dim d
      ON e.user_id = d.o_custkey
     AND e.ts >= d.effective_from
     AND (d.effective_to IS NULL OR e.ts < d.effective_to)
    """,
)
def q_join_point_in_time(spark, sf_dir):
    """Point-in-time dimension lookup — the consumption half of the
    SCD2 pattern: each event resolves the customer's (status,
    priority) state VALID AT the event's timestamp against the
    validity intervals scd2_customer_history builds. The warehouse
    rule this enforces: never join a fact to a dimension's current
    row, join it to the row that was current then.

    Plan (r9 rewrite): SCD2 intervals TILE the time axis per key
    (effective_to = lead(effective_from)), so "the interval covering
    ts" is exactly "the latest effective_from <= ts" — a backward
    AS-OF join, executed as tagged-union + one keyed running window
    (operators/asof.py:asof_join). The former shape — equi-key hash
    join with the validity range as residual — evaluates the residual
    per (event x interval) PAIR within a key, which is quadratic on a
    hot customer: the Zipf(1.1) skew sweep pinned it at 213 s (vs
    ~3 s for the as-of form, which sorts instead of probing). Ties on
    (key, effective_from) carry a composite order so the as-of picks
    the row the interval semantics kept: the LAST in (status,
    priority) order — its predecessors' intervals are zero-length
    [d, d) and match nothing. Unmatched events (ts before the first
    interval) keep nulls, preserving event cardinality exactly like
    the left join did."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join
    from ..operators.relational import scd2_build

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    dim = scd2_build(
        _t(spark, sf_dir, "orders"),
        key="o_custkey",
        ts_col="o_orderdate",
        attrs=["o_orderstatus", "o_orderpriority"],
    ).drop("is_current", "effective_to").withColumn(
        "__pit_ord", F.struct("o_orderstatus", "o_orderpriority")
    )
    joined = asof_join(
        e,
        dim,
        left_ts="ts",
        right_ts="effective_from",
        left_by="user_id",
        right_by="o_custkey",
        value_cols=["o_orderstatus", "o_orderpriority"],
        right_order="__pit_ord",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderstatus").alias("status_at_event"),
        F.col("o_orderpriority").alias("priority_at_event"),
    )


@register(
    "profile_quantiles",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
           round(quantile_cont(o_totalprice, 0.90), 2) AS p90,
           round(max(o_totalprice), 2) AS p100
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_profile_quantiles(spark, sf_dir):
    """Exact continuous quantiles (linear interpolation) of order
    value per status — the distribution profile behind partition
    sizing and outlier fences, computed EXACTLY where
    agg_approx_sketches uses KLL/t-digest-style bounds. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the
    index = p*(n-1) interpolation definition, so the oracle matches to
    the cent. Exact quantiles need the group's values together — one
    shuffle on the 3-value status key; at 100 TB you run this on a
    stratified sample or switch to the sketch entry (the documented
    trade: this is the calibration oracle, the sketch is the scale
    path)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    pct = [
        F.round(
            F.expr(f"percentile(o_totalprice, {p})"), 2
        ).alias(f"p{int(p * 100)}")
        for p in (0.25, 0.50, 0.75, 0.90)
    ]
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        *pct,
        F.round(F.max("o_totalprice"), 2).alias("p100"),
    )


@register(
    "dedup_semantic_clusters",
    oracle=None,  # installed below — built from the seeded planes
)
def q_dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup-style semantic deduplication: cluster embeddings whose
    cosine similarity >= 0.4 (transitively) and keep one canonical
    representative per cluster — the embedding-space twin of the
    text near-dup chain, built from the same two verified pieces:
    LSH-bucketed candidate pairs (operators/similarity.py:
    embedding_near_dup_pairs_lsh — banded sign-bit buckets, exact
    cosine confirm, no all-pairs join) and the exact connected-
    components closure (operators/dedup.py:connected_components).
    Survivor rule: min vec_id of the cluster, the same canonical
    choice the text pipeline uses.

    Scale: the pair graph is a small fraction of the corpus, so the CC
    closure runs on |pairs| rows; cluster labels join back broadcast
    and the keep flag is a projection. Every vec not in any pair is
    its own cluster."""
    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components
    from ..operators.similarity import embedding_near_dup_pairs_lsh

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs_lsh(emb).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = connected_components(pairs).withColumnRenamed("doc_id", "vec_id")
    cluster = F.coalesce(F.col("component"), F.col("vec_id"))
    return (
        emb.select("vec_id", "label")
        .join(F.broadcast(comp), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            cluster.alias("cluster"),
            (cluster == F.col("vec_id")).alias("keep"),
        )
    )


ORACLES["dedup_semantic_clusters"] = f"""
    WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    banded AS ({_lsh_oracle_banded()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bkt = b.bkt
      WHERE a.vec_id < b.vec_id
    ),
    pairs AS MATERIALIZED (
      SELECT cand.vec_a, cand.vec_b
      FROM cand
      JOIN v va ON va.vec_id = cand.vec_a
      JOIN v vb ON vb.vec_id = cand.vec_b
      WHERE round(list_cosine_similarity(va.emb, vb.emb), {ROUND_DP}) >= {NEAR_DUP_COS}
    ),
    edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
              UNION SELECT vec_b, vec_a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
    ),
    comp AS (
      SELECT src AS vec_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    )
    SELECT e.vec_id, e.label,
           coalesce(c.component, e.vec_id) AS cluster,
           coalesce(c.component, e.vec_id) = e.vec_id AS keep
    FROM embeddings e LEFT JOIN comp c USING (vec_id)
    """




@register(
    "source_json_malformed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(4 AS BIGINT) AS n_corrupt,
           round(sum(round(o_totalprice, 2)), 2) AS total_good
    FROM orders WHERE o_orderkey % 10 = 3
    """,
)
def q_source_json_malformed(spark, sf_dir):
    """S2–S5 hardening — the JSON twin of source_csv_malformed:
    PERMISSIVE mode with ``_corrupt_record`` quarantines
    syntactically-broken JSONL lines instead of failing the scan (the
    reference's requests.json() at trading212.py:60 dies on the first
    malformed payload) or silently dropping them. Fixture is a known
    orders slice written by the engine's own JSON sink plus 4
    injected broken lines; the audit row (good count, corrupt count,
    value checksum) is oracled against the clean slice + the
    injection constant."""
    from pyspark.sql import types as T

    path = _corrupt_fixture(
        spark,
        sf_dir,
        "json_malformed",
        3,
        "json",
        ['{"o_orderkey": 1, "total":', "[1, 2", "not json at all",
         '{"o_orderkey": 2, "total": 3.5'],
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return _corrupt_record_audit(raw)
