"""Corpus-curation pipeline — the LLM-training-data north star
(BASELINE.json) as one composed plan: quality filter → language filter
→ exact dedup → near-dup removal.

This is the documents-table analog of the reference's flagship
transactions pipeline (plans/pipeline.py, trading212.py:113-136):
canonicalize → filter → dedup → project, rebuilt over text.

Scale shape, stage by stage:
1. scoring is ONE pass — tokens and each per-document count
   projected once (operators/textual.score_docs), quality + language
   derived from the counts as sibling expressions;
2. exact dedup partitions by 64-byte sha256 digests, and the quality
   and language filters apply on the window's output (pushed any
   lower, they re-tokenize every row below the fan-out exchange);
3. near-dup pairs come from the shingle join (or swap in
   minhash_lsh_pairs at cluster scale — same pair contract). The
   exact generator prunes on two bounds the rounded cut implies, τ′
   sitting just below every J that rounds up to the threshold
   (operators/dedup.jaccard_pairs): the self-join carries the size
   bound least(|A|, |B|) ≥ τ′·greatest(|A|, |B|), and the counted
   pairs are cut on the unrounded J ≥ τ′ before ``round(J, 4)``;
4. removal is a left-anti join on the drop set (broadcast-able:
   |near-dup pairs| << |corpus|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import jaccard_pairs, minhash_lsh_pairs, remove_near_dups
from ..operators.textual import score_docs
from ..partitioning import freeze_partitions


def curate_corpus(
    docs: DataFrame,
    use_lsh: bool = False,
    pairs_top_k: int | None = None,
    lsh_hash_fn: str = "xxhash64",
) -> DataFrame:
    """Return the curated corpus: docs scoring ≥ 5200 quality basis
    points, predicted English, exact-deduped (min doc_id per content
    digest wins), with near-duplicates (Jaccard ≥ 0.5) removed
    keeping each connected component's minimum doc id (exact closure
    via connected_components — see operators/dedup.remove_near_dups).

    ``pairs_top_k`` (opt-in) bounds the exact pair stage to each
    document's k strongest partners (operators/dedup._top_k_per_doc,
    candidate generation included since r12 via the LSH hub subgraph
    — the quadratic pair mass of a replicated corpus is never
    enumerated, not just truncated after scoring): a replicated
    corpus' true pair listing is quadratic in the copy count, so the
    unbounded exact path DNFs by construction at the 125× probe.
    Equal-J clique connectivity survives the bound, so the removal's
    keep-minimum decision per clique is unchanged; components joined
    only through truncated weak edges may split — the documented
    trade. LSH mode ignores it (banding already bounds candidate
    mass).

    ``lsh_hash_fn`` selects the MinHash hash family in LSH mode:
    ``xxhash64`` (production default, JVM-native) or ``md5`` (the
    cross-engine-replicable mode the DuckDB oracle twin runs —
    registry/timeseries.py pipeline_curate_corpus_lsh)."""
    scored = score_docs(docs, "doc_id", "text", "lang").select(
        "doc_id", "text", "lang", "__toks", "n_tokens", "quality_bp", "lang_pred"
    )
    # exact dedup as keep-first-by-digest: ONE shuffle (partition by
    # sha256, min doc_id wins) instead of the groupBy-digest +
    # semi-join-back form, which costs a second exchange plus a
    # materialization of the filtered corpus for its two consumers.
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    canonical = (
        scored.withColumn("__rn", F.row_number().over(w))
        # the quality/language filter goes AFTER the digest window on
        # purpose. Above the projections, Catalyst pushes it through
        # them and through fan_out's round-robin exchange to the scan,
        # inlining the tokenizer into a one-task Filter (21
        # regexp_extract_all per row) that runs again after the
        # exchange; a filter on non-partition columns cannot cross a
        # Window. Same survivors either way: quality_bp and lang_pred
        # depend only on text, so one digest's docs pass or fail
        # together, and the min doc_id of a passing digest is the min
        # over its passing docs.
        .filter(
            (F.col("__rn") == 1)
            & (F.col("quality_bp") >= 5200)
            & F.col("lang_pred").isin("en")
        )
        # text is only needed up to the digest — shingling reads the
        # token arrays; dropping it shrinks the materialized survivors
        .drop("__rn", "text")
        # materialized once: the near-dup stage consumes canonical
        # three times (both shingle-join sides + the final anti-join);
        # without this each consumer re-runs tokenize+score+dedup
        # (measured 2x wall). A lazy pin (partitioning.freeze_partitions),
        # or a reliable checkpoint when the session sets a checkpoint dir.
    )
    canonical = freeze_partitions(canonical)
    # the scoring pass already materialized the token arrays — reuse
    # them for shingling instead of re-running the regex tokenizer
    # use_lsh selects the 100 TB pair generator: MinHash banding with
    # exact-Jaccard candidate verification — same (doc_a, doc_b,
    # jaccard) contract, work bounded by band-bucket collisions
    # instead of shingle co-occurrence. The exact generator remains
    # the test-scale ground truth (LSH can only MISS pairs, so its
    # survivor set is a superset — asserted in tests/test_llm_ops.py).
    if use_lsh:
        pairs = minhash_lsh_pairs(
            canonical, tokens_col="__toks", hash_fn=lsh_hash_fn
        )
    else:
        pairs = jaccard_pairs(
            canonical, tokens_col="__toks", top_k_per_doc=pairs_top_k
        )
    return remove_near_dups(canonical, pairs).select(
        "doc_id", "lang", "lang_pred", "quality_bp", "n_tokens"
    )
