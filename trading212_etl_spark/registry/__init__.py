"""Query registry: the driver-facing inventory of implemented
operators (SURVEY.md §2), each as a (PySpark program, DuckDB oracle
SQL) pair — split into domain modules (VERDICT r4 item 6), with the
shared plumbing in ``_core`` and the driver-window ordering here.

Importing a domain module registers its entries into
``QUERIES``/``ORACLES``; the import block below runs in the original
monolithic-file order, so registration order — which the external
correctness driver consumes positionally — is byte-stable across the
split. Conventions for oracle parity live in ``_core``.
"""

from __future__ import annotations

from ._core import (  # noqa: F401
    ORACLES,
    QUERIES,
    pin_oracle_confs,
    register,
)
from . import (  # noqa: E402,F401  (import order IS registration order)
    sources_sinks,
    joins,
    aggregates,
    windows,
    events,
    llm,
    flagship_projections,
    scalars,
    setops,
    selection,
    tpch,
    timeseries,
    governance,
    analytics,
    stats,
)


# ---------------------------------------------------------------------------
# Driver-window ordering. The external correctness driver checks the
# FIRST 50 registered queries per round (CORRECTNESS_r01/r02 are each
# exactly the first 50 in registration order), so registration order is
# evidential, not cosmetic. This block pins a deliberate front window:
#   - the round-2 timestamp-regression family (must re-prove green),
#   - the never-driver-checked TPC-H shapes + flagship pipelines,
#   - merge/SCD2, correlated subqueries, scalar string/timestamp
#     batteries, and the similarity / sampling / curation suites.
# Entries already double-green in r01+r02 (sources, basic joins, agg
# battery) and rows-only streaming entries are demoted behind the
# window; remaining untested entries queue in original order for the
# next rotation. Reordering is a pure dict rebuild — no query changes.
#
# r15 window (exactly 50): continues the steady-state freshness
# rotation (VERDICT r14 item 10). After r14 the last-green histogram
# is {r9: 23, r10: 46, r11: 43, r12: 50, r13: 49, r14: 50}; this
# window takes the ENTIRE r9 band (group 1 — after r15 no surviving
# proof is older than r10), the entries whose query code changed in
# r15 plus the two r14 rewrites ADVICE r14 asked to land in the
# primary correctness artifact (group 2, the growth rule), and the
# stalest r10 rows in their r10-file registration order (group 3).
_DRIVER_WINDOW = [
    # --- r15 window (exactly 50) ---
    # (1) ALL 23 entries whose last hash-green driver row is r9, in
    #     r9-file registration order.
    "source_json_flatten",
    "source_orc_roundtrip",
    "streaming_foreachbatch_ingest",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "tpch_q3_shipping_priority",
    "unpivot_melt",
    "window_analytic_battery",
    "window_keep_first",
    "window_lag_lead_running",
    "window_topn_per_group",
    "flagship_pipeline_decimal",
    "merge_upsert_orders",
    "scd2_customer_history",
    "events_retention_cohorts",
    "events_session_window",
    "events_sessionize_30m",
    "subquery_correlated",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "embedding_kmeans_step",
    "sample_pack_sequences",
    "join_point_in_time",
    # (2) growth rule — query code changed in r15 (CC frontier +
    #     one-pass edges, hashed verify payloads, basket explode,
    #     curriculum input pin), plus the two r14 one-pass rewrites
    #     whose hash-identical claim ADVICE r14 wanted backed by the
    #     primary correctness artifact.
    "dedup_connected_components",
    "sample_leakage_safe_split",
    "dedup_semantic_clusters",
    "entity_resolution_customers",
    "pipeline_curate_corpus",
    "pipeline_curate_corpus_lsh",
    "dedup_minhash_lsh",
    "dedup_containment_pairs",
    "orders_basket_affinity",
    "sample_curriculum_order",
    "events_type_lift_matrix",
    "text_rake_keyphrases",
    # (3) the 15 stalest r10 rows in r10-file registration order
    #     (group 2 grew to 12 slots, displacing r10 re-samples first —
    #     the displaced rows stay r10-green, next in line for r16).
    "embedding_near_dup",
    "events_gapfill_hourly",
    "events_ohlc_daily",
    "events_sliding_2h_1h",
    "events_tumbling_1h",
    "join_asof_backward",
    "sample_domain_mixture",
    "sample_hash_split",
    "sample_stratified",
    "string_funcs",
    "string_funcs_extended",
    "text_quality_score",
    "text_redact",
    "text_tfidf_topk",
    "text_token_stats",
]


def _apply_driver_window() -> None:
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    assert not missing, f"driver window references unknown queries: {missing}"
    rest = [n for n in QUERIES if n not in set(_DRIVER_WINDOW)]
    order = _DRIVER_WINDOW + rest
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in order if n in snapshot})


_apply_driver_window()

