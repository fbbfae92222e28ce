"""Plan construction runs no Spark job unless the entry is listed here.

Building a registry entry should only build a plan; the jobs then run
when the caller acts on it. The entries below run jobs while they are
built, each for the reason given (ROADMAP item 1 is the work to move
them out of the build). A new entry that runs a job at build time,
or an old one that starts to, fails the guard until it is listed or
made lazy.

Jobs are counted with the DAG scheduler's total job counter around
each build; it also counts jobs that stream-query threads start, so
builds run one after another need no job-group mapping. At sf0.001
the list holds 38 entries; those in ``MAX_BUILD_JOBS`` also fail when
they run more jobs than their bound."""

from __future__ import annotations

CC = "pair-graph checkpoint and one bounded collect"
STREAM = "drives a stream to completion (streaming/windows._drive)"
WRITE = "writes its source or sink files and reads them back"
BUILD_ONCE_WRITE = "first build only: _build_once scratch write"
CENTROIDS = "collects centroids, codebooks or reference vectors"

ALLOWED_BUILD_JOBS: dict[str, str] = {
    # connected components over the pair graph
    "dedup_connected_components": CC,
    "sample_leakage_safe_split": CC,
    "dedup_semantic_clusters": CC,
    "entity_resolution_customers": CC,
    "pipeline_curate_corpus": CC,
    "pipeline_curate_corpus_lsh": CC,
    # stream drives
    "streaming_foreachbatch_ingest": STREAM,
    "streaming_stream_static_join": STREAM,
    "streaming_stream_stream_join": STREAM,
    "streaming_dedup_exactly_once": STREAM,
    "streaming_stateful_user_stats": STREAM,
    "streaming_tumbling_1h": STREAM,
    "streaming_sliding_2h_1h": STREAM,
    "streaming_session_window": STREAM,
    "streaming_cdc_apply": STREAM,
    "streaming_vwap_hourly": STREAM,
    "streaming_error_rate_sli": STREAM,
    "streaming_presence_bitmap": STREAM,
    # source/sink round trips through engine-written files
    "source_json_flatten": WRITE,
    "source_orc_roundtrip": WRITE,
    "source_csv_roundtrip": WRITE,
    "source_csv_gzip_roundtrip": WRITE,
    "source_schema_evolution": WRITE,
    "source_binary_files": WRITE,
    "sink_partitioned_parquet": WRITE,
    "sink_bucketed_colocated_join": WRITE,
    "sink_zorder_layout": WRITE,
    "sink_compaction": WRITE,
    "join_dpp_partitioned": WRITE,
    # build-once fixtures: a job on the first build of a corpus only
    "source_csv_malformed": BUILD_ONCE_WRITE,
    "source_json_malformed": BUILD_ONCE_WRITE,
    # centroid / codebook / reference collects
    "similarity_topk_ivf": CENTROIDS,
    "embedding_kmeans_step": CENTROIDS,
    "embedding_pq_assign": CENTROIDS,
    "similarity_topk_pq_adc": CENTROIDS,
    "embedding_knn_outlier": CENTROIDS,
    "sink_ivf_partitioned_ann": f"{CENTROIDS}; {BUILD_ONCE_WRITE} of the cells",
    "dedup_incremental_snapshot": (
        f"{BUILD_ONCE_WRITE} of the signature sink; materialize of the "
        "new batch's signatures on every build"
    ),
}

# Most build jobs a listed entry may run at sf0.001, for entries whose
# count was cut: each bound is the count measured at the cut, so the
# cut cannot silently regress. The six connected-components entries
# ran 15/15/22/15/18/23 jobs when every closure ran distributed
# rounds; their pair graphs now close on the driver.
MAX_BUILD_JOBS: dict[str, int] = {
    "dedup_connected_components": 5,
    "sample_leakage_safe_split": 5,
    "dedup_semantic_clusters": 5,
    "entity_resolution_customers": 5,
    "pipeline_curate_corpus": 8,
    "pipeline_curate_corpus_lsh": 13,
}


def test_registry_builds_run_no_unlisted_jobs(spark, sf_dir):
    from trading212_etl_spark.registry import QUERIES

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    ran = {}
    for name, build in QUERIES.items():
        before = dag.numTotalJobs()
        build(spark, sf_dir)
        ran[name] = dag.numTotalJobs() - before
    unlisted = {n: j for n, j in ran.items() if j and n not in ALLOWED_BUILD_JOBS}
    assert not unlisted, f"jobs at build time: {unlisted}"
    # an entry that no longer runs a job leaves the list (first-build
    # entries may find their scratch dir already built)
    stale = [
        n
        for n, why in ALLOWED_BUILD_JOBS.items()
        if not ran.get(n) and not why.startswith(BUILD_ONCE_WRITE)
    ]
    assert not stale, f"listed but ran no job: {stale}"
    over = {n: ran[n] for n, most in MAX_BUILD_JOBS.items() if ran[n] > most}
    assert not over, f"more build jobs than the bound: {over}"
