"""Empty-input robustness: every core operator must return a
schema-stable, zero-row (or well-defined) result on an empty frame —
at 100 TB, empty partitions, empty date ranges, and freshly-truncated
tables hit every operator eventually, and an operator that throws on
empty input fails the whole job."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trading212_etl_spark.operators import dedup
from trading212_etl_spark.operators.dedup import minhash_lsh_pairs, simhash
from trading212_etl_spark.operators.multimodal import (
    _avi_encode,
    _avi_parse,
    _bmp_decode,
    _bmp_encode,
)
from trading212_etl_spark.operators.sampling import hash_split
from trading212_etl_spark.partitioning import ordered_prefix


def _empty_events(spark):
    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )


def _empty_docs(spark):
    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
            ]
        ),
    )


def test_event_operators_on_empty(spark):
    from trading212_etl_spark.operators.events import (
        funnel,
        markov_transitions,
        retention_cohorts,
        rollup_hierarchy,
        session_window_agg,
        sessionize,
        tumbling_agg,
    )

    ev = _empty_events(spark)
    assert tumbling_agg(ev, "1 hour").count() == 0
    assert sessionize(ev, 30).count() == 0
    assert session_window_agg(ev).count() == 0
    assert funnel(ev, ["a", "b"]).count() == 0
    assert funnel(ev, ["a", "b"], max_gap_minutes=10).count() == 0
    assert retention_cohorts(ev).count() == 0
    assert rollup_hierarchy(ev).count() == 0
    assert markov_transitions(ev).count() == 0


def test_text_operators_on_empty(spark):
    from trading212_etl_spark.operators.textual import (
        repetition_stats,
        tfidf_top_terms,
        token_stats,
        top_ngrams,
        unigram_lm_score,
    )

    docs = _empty_docs(spark)
    assert token_stats(docs).count() == 0
    assert repetition_stats(docs).count() == 0
    assert tfidf_top_terms(docs).count() == 0
    assert unigram_lm_score(docs).count() == 0
    assert top_ngrams(docs).count() == 0


def test_dedup_operators_on_empty(spark):
    from trading212_etl_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        jaccard_pairs,
        remove_near_dups,
    )

    docs = _empty_docs(spark)
    assert exact_dedup(docs).count() == 0
    pairs = jaccard_pairs(docs)
    assert pairs.count() == 0
    # empty pair graph: CC converges immediately, removal is identity
    assert connected_components(pairs).count() == 0
    assert remove_near_dups(docs, pairs).count() == 0


def test_asof_and_pagerank_on_empty(spark):
    from trading212_etl_spark.operators.asof import asof_join
    from trading212_etl_spark.operators.graph import pagerank_micro

    left = spark.createDataFrame([], "key long, ts long, x long")
    right = spark.createDataFrame([], "key long, ts long, v long")
    for direction in ("backward", "forward"):
        out = asof_join(
            left, right, "ts", "ts", "key", "key", ["v"], direction=direction
        )
        assert out.count() == 0
        assert set(out.columns) == {"key", "ts", "x", "v"}
    edges = spark.createDataFrame([], "src long, dst long, weight long")
    assert pagerank_micro(edges).count() == 0


def test_curate_on_empty(spark):
    from trading212_etl_spark.plans.curate import curate_corpus

    assert curate_corpus(_empty_docs(spark)).count() == 0


def test_null_and_empty_text_rows(spark):
    """NULL and empty text must flow through, not crash: stats rows
    propagate NULL (token counts null for a null document, 0 for an
    empty one), pair generators and the curation filter simply never
    select them."""
    from trading212_etl_spark.operators.dedup import exact_dedup, jaccard_pairs
    from trading212_etl_spark.operators.textual import token_stats
    from trading212_etl_spark.plans.curate import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "hello world hello", "en", "a"),
            (2, None, "en", "a"),
            (3, "", "en", "a"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    stats = {r["doc_id"]: r["n_tokens"] for r in token_stats(docs).collect()}
    assert stats[1] == 3 and stats[3] == 0 and stats[2] is None
    assert exact_dedup(docs).count() == 3  # null text is its own group
    assert jaccard_pairs(docs).count() == 0
    assert curate_corpus(docs).count() == 0  # filtered, not crashed


def test_registry_event_entries_on_empty_events_parquet(spark, tmp_path):
    """The inline registry entries (which scan {sf_dir}/events.parquet
    through the pinned-schema reader, not a passed DataFrame) must
    return schema-stable zero-row frames on an EMPTY events file —
    the freshly-truncated-table case. Covers the round-3 additions:
    TWAP, rolling volatility, EWMA, gap percentiles, burst detection,
    presence bitmap, session paths, heatmap, and the running
    distinct."""
    from trading212_etl_spark import registry
    from trading212_etl_spark.sources.readers import SCHEMAS

    sf_dir = str(tmp_path)
    spark.createDataFrame([], SCHEMAS["events"]).write.mode(
        "overwrite"
    ).parquet(f"{sf_dir}/events.parquet")
    for name in (
        "events_twap_hourly",
        "events_rolling_volatility",
        "events_ewma_smoothed",
        "events_gap_percentiles",
        "events_burst_detection",
        "events_user_presence_bitmap",
        "events_session_paths",
        "events_heatmap_dow_hour",
        "window_running_distinct",
    ):
        df = registry.QUERIES[name](spark, sf_dir)
        assert df.count() == 0, name
        assert len(df.schema.fields) >= 2, name


def test_oversized_basket_fails_loudly(spark):
    """orders_basket_affinity and graph_triangle_count build a
    basket's C(n, 2) pairs inside one row; a basket above the stated
    cap must fail the query with its order key, not exhaust an
    executor."""
    import pytest

    from trading212_etl_spark.registry._core import MAX_BASKET_PARTS, _basket_pairs

    small = [(7, list(range(6))), (8, [1, 2])]
    schema = "l_orderkey long, parts array<long>"
    rows = _basket_pairs(spark.createDataFrame(small, schema)).collect()
    assert len(rows) == 15  # C(6, 2); (1, 2) is counted twice
    assert sum(r.pair_count for r in rows) == 16
    big = small + [(9, list(range(MAX_BASKET_PARTS + 1)))]
    with pytest.raises(
        Exception, match=f"order 9 has more than {MAX_BASKET_PARTS} distinct parts"
    ):
        _basket_pairs(spark.createDataFrame(big, schema)).collect()


def test_pairs_top_k_rejects_bad_values(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_PAIRS_TOP_K bounds each document's partners by rank
    ≤ k, so k = 0 or a negative k would silently return no pairs: a
    pair entry must refuse to build, naming the variable, for anything
    but an integer ≥ 1."""
    import pytest

    from trading212_etl_spark import registry

    for bad in ("0", "-3", "abc", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_PAIRS_TOP_K", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_PAIRS_TOP_K"):
            registry.QUERIES["dedup_jaccard_pairs"](spark, sf_dir)


def _one_doc(spark):
    return spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")


def _bmp_with_bpp(bpp: int) -> bytes:
    payload = bytearray(_bmp_encode(np.zeros((2, 3), dtype=np.uint8)))
    payload[28:30] = bpp.to_bytes(2, "little")
    return bytes(payload)


def _avi_with_width(width: int) -> bytes:
    payload = bytearray(_avi_encode([np.zeros((2, 3), dtype=np.uint8)] * 2))
    avih = payload.index(b"avih") + 8
    payload[avih + 32 : avih + 36] = width.to_bytes(4, "little")
    return bytes(payload)


def _simhash_with_bits(spark, bits: int):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SIMHASH_BITS", bits)
        return simhash(_one_doc(spark))


# (call, message) per input check; each raises before any Spark job
_INPUT_CHECKS = {
    "ordered_prefix_rn_name": (
        lambda s: ordered_prefix(s.range(10), [F.col("id")], rn_name="__bucket"),
        "shadows",
    ),
    "ordered_prefix_clash": (
        lambda s: ordered_prefix(
            s.range(10).withColumn("total_n", F.lit(0)), [F.col("id")]
        ),
        "collide",
    ),
    "ordered_prefix_key_type": (
        lambda s: ordered_prefix(
            s.range(10).selectExpr("CAST(id AS STRING) AS s"), [F.col("s")]
        ),
        "numeric, date or timestamp",
    ),
    "hash_split_weights": (
        lambda s: hash_split(s.range(4), "id", {"a": 0.5, "b": 0.4}), "sum to 1"
    ),
    "minhash_hash_fn": (
        lambda s: minhash_lsh_pairs(_one_doc(s), hash_fn="sha1"), "hash_fn"
    ),
    "simhash_n_bits": (lambda s: _simhash_with_bits(s, 30), "4-lane"),
    "bmp_magic": (lambda s: _bmp_decode(b"PK" + bytes(60)), "not a BMP"),
    "bmp_depth": (lambda s: _bmp_decode(_bmp_with_bpp(8)), "24-bit"),
    "avi_magic": (lambda s: _avi_parse(b"RIFX" + bytes(4) + b"AVI "), "not an AVI"),
    "avi_frame_size": (lambda s: _avi_parse(_avi_with_width(7)), "frame chunk"),
}


@pytest.mark.parametrize("check", sorted(_INPUT_CHECKS))
def test_input_checks_raise_value_error(spark, check):
    """Input checks raise ValueError, so they still run under
    ``python -O`` (which strips asserts): the ordered_prefix checks
    stop a leading key it cannot bucket and outputs that would
    overwrite columns, and the codec checks read bytes that come from
    outside the program."""
    call, message = _INPUT_CHECKS[check]
    with pytest.raises(ValueError, match=message):
        call(spark)
