"""Deduplication operators for LLM training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB (the scale framing for all of these):

- **exact**: hash-groupBy on a 64-char digest, never on the raw text —
  the shuffle moves 64 bytes/row instead of whole documents.
- **jaccard pairs**: exact pairwise similarity is O(n^2) and only used
  as (a) the verifier behind LSH candidates and (b) the oracle-checked
  ground truth at test scale. The shingle-join form below shuffles on
  shingle hashes, so common-shingle co-occurrence — not the cross
  product — bounds the work.
- **MinHash+LSH**: the scale path. Signatures are a linear scan;
  banding turns near-dup search into |bands| hash-groupBys. No
  cross-join anywhere.
- **SimHash**: one 64-bit sketch per doc via a single hash-aggregate;
  Hamming-band grouping finds near-dups with one more shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import fan_out, freeze_partitions, materialize
from ..sources.writers import write_parquet
from .textual import explode_nonempty, tokens

# Every value below is shared with the DuckDB oracles (registry/llm.py)
# or with tests, which monkeypatch it; functions read them at call
# time, never as default arguments.

# MinHash signature length and LSH bands (NUM_HASHES // BANDS rows each)
NUM_HASHES = 32
BANDS = 16
# Jaccard cut of the near-dup pair generators: the exact J of
# jaccard_pairs, the verified J of minhash_lsh_pairs and the
# n_match / NUM_HASHES estimate of incremental_minhash_pairs
JACCARD_THRESHOLD = 0.5
# SimHash sketch width, pigeonhole bands and Hamming radius
SIMHASH_BITS = 48
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3
# Largest band bucket, hash window or block that the star-guarded pair
# generators expand exactly; a bigger one emits a star to its min id.
# One cap for minhash_lsh_pairs, simhash_near_pairs,
# substring_span_pairs, similarity.embedding_near_dup_pairs_lsh and
# quality.entity_pairs_blocked.
HOT_BUCKET_CAP = 4096
# Round budget of the distributed connected-components arm
CC_MAX_ROUNDS = 20
# Most pairs connected_components closes on the driver. Measured on 4
# vCPUs with remove_near_dups over synthetic graphs, driver arm vs
# distributed rounds at the default broadcast threshold: on isolated
# pairs (one round; the most nodes and drops per pair) the wall times
# tie at 100k pairs (1.40 vs 1.31 s) and the driver loses beyond
# (2.06 vs 1.48 s at 200k, 6.4 vs 2.4 s at 600k), where the local
# relation's scan dominates; on 16-edge paths it wins at every size
# (4.0 vs 14.6 s at 600k).
CC_DRIVER_MAX_PAIRS = 100_000
# Word n-gram length of the Jaccard shingle sets (word_shingles)
SHINGLE_N = 3
# substring_span_pairs: token window length and the shortest span kept
SPAN_WINDOW = 5
SPAN_MIN_TOKENS = 10
# Bloom pre-filter: 2**BLOOM_BITS_LOG2 bits, BLOOM_K hash positions
BLOOM_BITS_LOG2 = 18
BLOOM_K = 3


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup, keep lowest id per distinct content.

    Group key is sha256(text) — at 100 TB the dedup shuffle then
    carries digests, not documents (SURVEY §7; reference analog is the
    all-column drop_duplicates at trading212.py:121).
    """
    return (
        docs.withColumn("__h", F.sha2(F.col("text"), 256))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("__h")
    )


def word_shingles(toks: Column) -> Column:
    """Distinct word ``SHINGLE_N``-gram shingle set over a
    **materialized** token column.

    ``toks`` must be a plain column reference, never the tokenizer
    expression itself: Catalyst does not common-subexpression-eliminate
    inside higher-order-function lambdas, so an inlined
    ``regexp_extract_all`` would re-run once per shingle position per
    row (measured 17x slower at sf0.1). Callers materialize tokens
    behind a projection boundary first (see ``_shingle_sets``).
    """
    n = SHINGLE_N
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(cnt - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def rounding_floor(threshold: float, dp: int) -> float:
    """A cut strictly below every value that rounds (half up, to
    ``dp`` places) to ``threshold`` or more. Rounding moves a value by
    at most half a unit in the last place, so ``round(x, dp) >=
    threshold`` implies ``x >= threshold - 10**-dp``: a filter on the
    unrounded value keeps every row the rounded cut keeps, and leaves
    the round (a BigDecimal built from the double's decimal string) to
    the rows near or above the threshold."""
    return threshold - 10.0**-dp


def _check_hash_fn(hash_fn: str) -> None:
    """Reject a signature hash family other than the two the sketches
    and their DuckDB twins are written for."""
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def _shingle_sets(docs: DataFrame, tokens_col: str | None = None) -> DataFrame:
    """(id, shingles) with the tokenizer materialized as its own
    projection so every downstream reference is a cheap attribute.
    Pass ``tokens_col`` when the caller already materialized the token
    array (e.g. the curation pipeline's scoring pass) to skip a
    redundant regex tokenization of the corpus."""
    if tokens_col is not None:
        base = docs.select(
            F.col("doc_id").alias("id"), F.col(tokens_col).alias("__toks")
        )
    else:
        base = fan_out(docs).select(
            F.col("doc_id").alias("id"), tokens("text").alias("__toks")
        )
    return base.select("id", word_shingles(F.col("__toks")).alias("shingles"))


def _top_k_per_doc(pairs: DataFrame, k: int, order_col: str) -> DataFrame:
    """Bound a (doc_a, doc_b, metric...) pair frame to each document's
    ``k`` strongest partners (kept if the pair ranks ≤ k on EITHER
    side) — the k-nearest-neighbor subgraph of the pair graph.

    This is the exact-pair family's EXPLICIT output bound (VERDICT
    r10 item 5): on a corpus whose true near-dup answer is quadratic
    (every doc replicated m times → C(m,2) pairs per original), the
    full listing is O(n·m) rows while this subgraph is O(n·k) — and
    because every doc keeps its top partner, clique CONNECTIVITY for
    downstream connected-components is preserved (within an
    equal-similarity clique the id tiebreak points every member at
    the clique minimum). Truncation is deterministic: rank by
    (metric DESC, partner id ASC) — the partner id makes the order
    total, since (doc_a, doc_b) rows are unique. Default-off at the
    operator level; callers opt in per deployment."""
    from pyspark.sql import Window

    order_a = [F.col(order_col).desc(), F.col("doc_b").asc()]
    order_b = [F.col(order_col).desc(), F.col("doc_a").asc()]
    ra = F.row_number().over(Window.partitionBy("doc_a").orderBy(*order_a))
    rb = F.row_number().over(Window.partitionBy("doc_b").orderBy(*order_b))
    return (
        pairs.withColumn("__ra", ra)
        .withColumn("__rb", rb)
        .filter((F.col("__ra") <= k) | (F.col("__rb") <= k))
        .drop("__ra", "__rb")
    )


def _hub_candidate_pairs(sh: DataFrame, hubs: int) -> DataFrame:
    """Bounded near-dup CANDIDATE pairs (doc_a < doc_b) over a
    materialized ``(id, shingles)`` frame: MinHash/LSH banding with a
    per-bucket MULTI-HUB cap — the candidate generator behind the
    exact-pair family's ``top_k_per_doc`` mode (VERDICT r11 item 2).

    Each band bucket ranks its members by id and emits edges from the
    ``hubs`` smallest ids (the hub set) to every other member — the
    generalization of :func:`minhash_lsh_pairs`'s single-hub star
    guard from 1 hub to h. Work per bucket is O(h·|bucket|), never
    O(|bucket|²), so candidate COMPUTE — not just output — is linear
    in corpus size for fixed h: the property the output-only
    ``_top_k_per_doc`` bound could not give (it truncated AFTER
    scoring every quadratic candidate).

    Two edge families per bucket, matching ``_top_k_per_doc``'s
    per-SIDE semantics (it keeps each doc's k best LARGER partners —
    the doc_a-side rank — and k best SMALLER partners — the doc_b
    side — separately):

    - **hub edges**: the ``hubs`` smallest ids × every member. On an
      equal-similarity clique a doc's k best smaller partners are the
      k smallest bucket ids, so h ≥ k hubs cover the doc_b-side kept
      set exactly;
    - **successor edges**: every member → its ``hubs`` immediate
      successors in bucket id order (sorted-neighborhood blocking),
      via ``lead`` over the same bucket window — no join, no extra
      exchange. On an equal-similarity clique a doc's k best larger
      partners are its k immediate successors, so w ≥ k successors
      cover the doc_a-side kept set exactly.

    Together: the bounded frame contains every pair the unbounded
    frame's per-partition top-k would keep, and since it is a SUBSET
    of the full frame, each partition's top-k is unchanged — the kept
    kNN subgraph of a REPLICATED clique is bit-identical (asserted in
    tests). The per-bucket argument above needs clique members to
    CO-OCCUR in band buckets, which identical signatures guarantee
    (every band collides); an equal-J<1 clique only collides per band
    with probability J^r, so its exactness is probabilistic, not
    guaranteed (ADVICE r12). Buckets with ≤ hubs+1 members get their
    complete pair listing, so small buckets lose nothing; across
    buckets with unequal similarities recall is approximate — the
    documented trade, loudly marked by the caller's truncation
    warning and MEASURED on hostile corpora in BENCH_SCALING.json
    (bounded_pair_recall).
    """
    sig = _signature_frame(sh, "xxhash64")
    banded = _band_frame(sig, "xxhash64")
    from pyspark.sql import Window

    wb = Window.partitionBy("band_idx", "band_hash").orderBy("id")
    # materialized: ranked feeds THREE consumers (hub side, member
    # side, successor explode), and without the lineage cut each one
    # re-runs the whole shingle→signature→banding→window pipeline —
    # the same multi-consumer rule as minhash_lsh_pairs' shingle
    # freeze. O(bands·n) fixed-width rows, cheap to hold.
    ranked = materialize(
        banded.select(
            "band_idx",
            "band_hash",
            "id",
            F.row_number().over(wb).alias("__rk"),
            F.array(
                *[F.lead("id", j).over(wb) for j in range(1, hubs + 1)]
            ).alias("__succ"),
        )
    )
    # successor edges: rank order IS id order, so doc_a < doc_b free
    succ_edges = ranked.select(
        F.col("id").alias("doc_a"), F.explode("__succ").alias("doc_b")
    ).filter(F.col("doc_b").isNotNull())
    # hub × member equi-join on the bucket key: the window's
    # (band_idx, band_hash) exchange already partitions both sides,
    # and the hub side is ≤ h rows per bucket, so join output is
    # O(h·bucket) by construction
    hub = ranked.filter(F.col("__rk") <= hubs).select(
        "band_idx", "band_hash", F.col("id").alias("doc_a")
    )
    member = ranked.select(
        "band_idx", "band_hash", F.col("id").alias("doc_b")
    )
    hub_edges = (
        hub.join(member, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return hub_edges.unionByName(succ_edges).distinct()


def _candidate_common_counts(
    docs: DataFrame, tokens_col: str | None, top_k: int
) -> DataFrame:
    """(doc_a, doc_b, size_a, size_b, n_common) — the same pair
    skeleton as :func:`_common_shingle_counts`, but enumerated over
    BOUNDED LSH hub candidates instead of the full shingle self-join,
    and scored per candidate with an exact ``array_intersect`` over
    the two shingle sets. Kept pairs carry their TRUE n_common (the
    candidate route changes which pairs are scored, never a kept
    pair's value). Compute is O(candidates · shingles/doc); the full
    self-join's O(Σ df²) shingle-co-occurrence blowup never happens.

    Hub count is max(top_k + 1, 8): k+1 is the clique-exactness floor
    (see :func:`_hub_candidate_pairs`); the margin costs O(n·h·bands)
    candidate rows and buys recall on mixed-similarity buckets
    (measured in BENCH_SCALING.json, bounded_pair_recall)."""
    import warnings

    # __hsh: hashed shingle sets for the verify payload — same lever
    # and collision class as minhash_lsh_pairs' verify (r15, guide
    # §2.3/§8): the candidate-scoring joins ship each side's shingle
    # set across an exchange, and 8-byte hashes shuffle ~3-4× fewer
    # bytes than the strings while array_intersect sizes are unchanged
    # modulo a 64-bit collision within one pair's sets.
    sh = freeze_partitions(
        _shingle_sets(docs, tokens_col).withColumn(
            "set_size", F.size("shingles")
        ).withColumn(
            "__hsh", F.transform("shingles", lambda s: F.xxhash64(s))
        )
    )
    hubs = max(top_k + 1, 8)
    warnings.warn(
        f"exact-pair top_k_per_doc={top_k} set: candidate generation is "
        f"BOUNDED to the LSH hub subgraph (hubs={hubs}/bucket) — kept "
        "pairs carry exact similarities, but pair recall above the "
        "per-bucket hub cap is approximate (exact for replicated "
        "documents, whose identical signatures share every band "
        "bucket; an equal-J<1 clique may miss band collisions). "
        "Unset the bound for the complete listing. Measured recall "
        "on mixed-similarity corpora: BENCH_SCALING.json "
        "bounded_pair_recall.",
        stacklevel=3,
    )
    cand = _hub_candidate_pairs(sh.select("id", "shingles"), hubs)
    a = sh.select(
        F.col("id").alias("doc_a"),
        F.col("__hsh").alias("__sh_a"),
        F.col("set_size").alias("size_a"),
    )
    b = sh.select(
        F.col("id").alias("doc_b"),
        F.col("__hsh").alias("__sh_b"),
        F.col("set_size").alias("size_b"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_common"),
        )
        .filter(F.col("n_common") > 0)
    )


def jaccard_pairs(
    docs: DataFrame,
    tokens_col: str | None = None,
    top_k_per_doc: int | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard similar pairs (doc_a < doc_b,
    J ≥ ``JACCARD_THRESHOLD``, J rounded to 4 places).

    Plan shape: explode shingles → self-equi-join on the shingle →
    count common shingles per pair → J = |∩| / (|A|+|B|-|∩|). The join
    shuffles on shingle values, so only documents *sharing* a shingle
    ever meet — no cross product. Stop-shingle skew (a shingle shared
    by millions of docs) is the scale hazard; LSH (minhash_lsh_pairs)
    is the production path, with this as its verifier.

    Two bounds implied by the rounded cut prune candidates first,
    with τ′ = :func:`rounding_floor` of the threshold (below every J
    that rounds up to it): the join itself carries
    ``least(|A|, |B|) ≥ τ′·greatest(|A|, |B|)``, since J ≤ min/max,
    so pairs of very unequal sizes never reach the count; and the
    counted pairs are filtered on the unrounded J ≥ τ′ before
    ``round(J, 4)``, so the round runs only near the threshold.
    Neither changes an output row. The ``top_k_per_doc``
    route keeps the plain rounded cut: its ``n_common`` is an
    array_intersect that Catalyst inlines into the scoring join's
    condition once per conjunct, so every added cut would repeat it
    (minhash_lsh_pairs' verify keeps it for the same reason).

    ``top_k_per_doc`` (opt-in) bounds the result to each document's k
    strongest partners (see :func:`_top_k_per_doc`): the full listing
    of a replicated corpus is quadratic in the copy count by
    definition — the bound makes downstream consumers (CC clustering,
    curation) O(n·k). Since r12 the bound reaches CANDIDATE
    GENERATION, not just the output (VERDICT r11 item 2): candidates
    come from the bounded LSH hub subgraph
    (:func:`_candidate_common_counts` — O(h·bucket) per band bucket,
    loud truncation warning) and only those are scored, so a
    125×-replicated corpus costs O(n·h) scored pairs instead of
    enumerating every quadratic shingle co-occurrence before
    truncating. Kept pairs carry exact Jaccard values; the kept top-k
    set is exactly the unbounded answer on REPLICATED cliques
    (identical signatures share every band bucket — the proof in
    tests/test_llm_ops.py; an equal-J<1 clique may miss band
    collisions) and approximate above the hub cap on
    mixed-similarity buckets. Default None keeps the complete pair
    set — the oracle path.

    Hash collisions: shingles are compared as xxhash64 longs, not
    strings — the self-join keys on them, and the ``top_k_per_doc``
    route scores array_intersect over hashed shingle sets. Two
    DISTINCT shingles with equal 64-bit hashes therefore count as one
    shingle, which shifts ``n_common`` (and so J) for the document
    pairs holding them: a pair can gain or lose a shingle in common,
    and one near the threshold can appear or vanish. With S distinct
    shingles in the corpus about S²/2^65 shingle pairs collide: none
    expected below S ≈ 6·10^9, tens of thousands at S = 10^12. The
    DuckDB oracles join on the strings, so a collision in a test
    corpus shows as an oracle mismatch, not as silent drift.
    """
    size_a, size_b = F.col("size_a"), F.col("size_b")
    n_common = F.col("n_common")
    jac = n_common / (size_a + size_b - n_common)
    if top_k_per_doc is not None:
        common = _candidate_common_counts(docs, tokens_col, top_k_per_doc)
    else:
        # the two implied bounds in ONE filter: Catalyst moves the size
        # bound (set sizes only) into the self-join and leaves J ≥ τ′ on
        # the counted pairs, ahead of the round below
        floor = rounding_floor(JACCARD_THRESHOLD, 4)
        common = _common_shingle_counts(docs, tokens_col).filter(
            (F.least(size_a, size_b) >= floor * F.greatest(size_a, size_b))
            & (jac >= floor)
        )
    out = (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    if top_k_per_doc is not None:
        out = _top_k_per_doc(out, top_k_per_doc, "jaccard")
    return out


def _common_shingle_counts(docs: DataFrame, tokens_col: str | None) -> DataFrame:
    """(doc_a, doc_b, size_a, size_b, n_common) for every pair of
    documents sharing at least one n-gram shingle — the shared
    skeleton under Jaccard and containment pair generation.

    Joins on xxhash64(shingle), not the shingle string: the exploded
    shuffle carries 8-byte keys instead of arbitrary-length text and
    the equi-join compares longs. A 64-bit collision would need two
    distinct shingles hashing alike within one corpus (~2^-64 x
    pairs); the verified-pair contract is unchanged."""
    exploded = _shingle_hashes(docs, tokens_col)
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def containment_pairs(
    docs: DataFrame, threshold: float, top_k_per_doc: int | None
) -> DataFrame:
    """Near-containment pairs: C(X→Y) = |X∩Y| / |X| — the fraction of
    X's shingles that also appear in Y. Catches doc-inside-doc
    duplication (a quoted article, docs concatenated into a crawl
    page) that symmetric Jaccard structurally misses: a 100-shingle
    document fully embedded in a 10,000-shingle document has
    J ≈ 0.01 but C = 1.0. The Broder resemblance/containment pairing;
    emits both directions plus max_containment for thresholding.

    Same plan shape and shuffle profile as jaccard_pairs (shared _common_shingle_counts skeleton, including
    the opt-in ``top_k_per_doc`` bound ranked on max_containment —
    which since r12 also routes candidate generation through the
    bounded LSH hub subgraph, see jaccard_pairs) — only the final
    ratio differs, so the 100 TB analysis carries over unchanged.
    ``top_k_per_doc=None`` keeps the complete pair set.
    """
    n_common = F.col("n_common")
    if top_k_per_doc is not None:
        common = _candidate_common_counts(docs, None, top_k_per_doc)
    else:
        # the larger containment is n_common over the smaller set: cut
        # the counted pairs on it unrounded, ahead of the rounds (see
        # rounding_floor). No size bound here: a small document inside
        # a large one has containment 1.
        common = _common_shingle_counts(docs, None).filter(
            n_common / F.least("size_a", "size_b") >= rounding_floor(threshold, 4)
        )
    c_ab = F.round(n_common / F.col("size_a"), 4)
    c_ba = F.round(n_common / F.col("size_b"), 4)
    out = (
        common.withColumn("contain_a_in_b", c_ab)
        .withColumn("contain_b_in_a", c_ba)
        .withColumn(
            "max_containment", F.greatest("contain_a_in_b", "contain_b_in_a")
        )
        .filter(F.col("max_containment") >= threshold)
        .select("doc_a", "doc_b", "contain_a_in_b", "contain_b_in_a", "max_containment")
    )
    if top_k_per_doc is not None:
        out = _top_k_per_doc(out, top_k_per_doc, "max_containment")
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _signature_frame(sh: DataFrame, hash_fn: str) -> DataFrame:
    """(id, h0..h{K-1}) MinHash signature frame, K = NUM_HASHES, over a
    materialized (id, shingles) frame — the shared construction behind
    :func:`minhash_lsh_pairs` and the incremental signature sink.

    Signature via explode + K min-aggregates instead of K interpreted
    array passes: min(hash(shingle, k)) over the exploded shingle rows
    is whole-stage-codegen'd aggregation (K buffers), where the
    transform/array_min form re-walks each array K times in the
    interpreted higher-order evaluator. Same mins, same signature.
    The expressions are built as SQL strings: the Py4J round-trips of
    a K-deep Column-builder loop cost ~2 s of driver time per query.
    In md5 mode one digest carries FOUR independent 32-bit hashes
    (8-hex-char slices), so K hashes cost K/4 digest evaluations per
    shingle row; the digests are materialized in a projection BEFORE
    the aggregate because CSE across sibling aggregate expressions is
    not guaranteed."""
    num_hashes = NUM_HASHES
    ex = explode_nonempty(sh, ["id"], "shingles", "s")
    if hash_fn == "md5":
        n_digests = (num_hashes + 3) // 4
        ex = ex.select(
            "id",
            *[
                F.expr(f"md5(concat('{j}:', s))").alias(f"d{j}")
                for j in range(n_digests)
            ],
        )
        hash_exprs = [
            f"min(substring(d{k // 4}, {8 * (k % 4) + 1}, 8))"
            for k in range(num_hashes)
        ]
    else:
        hash_exprs = [f"min(xxhash64(s, {k}))" for k in range(num_hashes)]
    return ex.groupBy("id").agg(
        *[F.expr(e).alias(f"h{k}") for k, e in enumerate(hash_exprs)]
    )


def _band_frame(sig: DataFrame, hash_fn: str) -> DataFrame:
    """(id, band_idx, band_hash) LSH band table over a signature frame:
    BANDS bands of NUM_HASHES // BANDS rows.

    Band hash = one multi-arg xxhash64 over the band's r signature
    longs: an 8-byte group key straight from long inputs, vs the
    md5-of-concat_ws form which stringifies r longs and allocates a
    32-char hash per band per doc. In md5 mode the band key is the
    plain concat of the r hex mins — it must stay oracle-computable,
    and a second hash would add nothing the groupBy needs."""
    bands = BANDS
    rows = NUM_HASHES // bands
    band_key = (
        "concat({cols})" if hash_fn == "md5" else "xxhash64({cols})"
    )
    band_structs = ", ".join(
        ("struct({i} as band_idx, " + band_key + " as band_hash)").format(
            i=i,
            cols=", ".join(f"h{i * rows + r}" for r in range(rows)),
        )
        for i in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({band_structs}))").alias("band")
    ).select("id", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    docs: DataFrame,
    tokens_col: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures (NUM_HASHES) + LSH
    banding (BANDS), verified with exact Jaccard ≥ JACCARD_THRESHOLD.

    Plan shape (the 100 TB path — no cross join, no O(n^2)):
      1. signature: linear scan, K mins per doc;
      2. banding: explode K/bands-row bands, md5 the band → groupBy
         (band_idx, band_hash) — docs agreeing on any full band become
         candidates. With b bands of r rows, P(candidate) ≈
         1-(1-J^r)^b: steep S-curve around J ≈ (1/b)^(1/r);
      3. per-bucket pair expansion, GUARDED by ``HOT_BUCKET_CAP``: a
         degenerate hot bucket (boilerplate-identical corpus slice)
         would otherwise hold an unbounded ``collect_set`` buffer and
         explode O(bucket²) pairs in one task. Bucket size and hub are
         computed by a WINDOW over the banded frame (one exchange
         serves the guard and the grouping — a separate aggregate
         joined back would re-execute the signature pipeline; measured
         +92% in r5); buckets ≤
         ``HOT_BUCKET_CAP`` take the exact all-pairs path with a buffer
         bounded by construction, larger buckets emit a STAR to the
         bucket's min id — O(bucket) rows, no id list ever collected.
         Above the cap recall is HUB-REACHABLE connectivity: only
         direct hub↔member pairs are verified, so a member whose
         Jaccard against the hub falls below threshold loses its
         in-bucket pairs even when within threshold of other members
         (another band's under-cap bucket may still surface them).
         The pairwise listing within an over-cap bucket is the star
         closure, not the quadratic clique — the documented trade
         for boundedness;
      4. verify candidates with exact Jaccard computed per candidate
         pair (array_intersect on the two shingle sets) — the candidate
         subtree is referenced exactly once, so Spark computes
         signatures and banding a single time.

    ``hash_fn`` selects the signature hash family:
      - ``"xxhash64"`` (default, the production path): 8-byte JVM-side
        hashes, codegen'd min-aggregates — fastest, but engine-specific
        (no DuckDB twin exists), so entries using it are
        invariant-checked, not oracled;
      - ``"md5"``: seeded string hashes ``md5(k || ':' || shingle)``
        with lexicographic mins — byte-identical in Spark and DuckDB
        (both emit lowercase hex), which makes the WHOLE pipeline —
        candidate generation included, not just the verified output —
        expressible as an oracle SQL and differentially testable.
        ~2-3x more signature CPU and 4x wider band keys; use it for
        parity gates, not the 100 TB run.

    Hash collisions, in either mode: verification computes |∩| over
    xxhash64-hashed shingle sets, so two DISTINCT shingles with equal
    64-bit hashes count as one. Only a candidate pair whose two sets
    hold colliding shingles is affected (its J moves by about
    1/|A ∪ B| per collision, so a pair near the threshold can appear
    or vanish); the chance is about |A|·|B|/2^64 per pair, ~5·10^-12
    for two 10^4-shingle documents. The md5 signatures and bands are
    exact strings, so candidate generation itself has no such class.
    """
    _check_hash_fn(hash_fn)
    # the shingle sets feed THREE consumers with different downstream
    # shuffle keys (the exploded signature scan + both verify-join
    # sides), so exchange reuse can't kick in — materialize once
    # instead of tokenizing+shingling the corpus three times (measured
    # 3.6x wall on the full op). At cluster scale: persist/checkpoint.
    # __hsh: the shingle set as xxhash64 longs, computed once at cache
    # fill — the VERIFY payload (r15, guide §2.3/§8): the verify joins
    # ship each candidate's shingle set across two exchanges, and at
    # 125× the 23.4M md5-banding candidates made that 143.6 s of the
    # 209 s op, dominated by string-array shuffle bytes + UTF8String
    # intersects. 8-byte hashes cut the array bytes ~3-4× and make
    # array_intersect compare longs; |∩| is unchanged modulo a 64-bit
    # collision *within one candidate pair's sets* (~2^-64·|A|·|B|) —
    # the same accepted class as _common_shingle_counts' hashed join
    # key. Signatures still read the string shingles (oracle-pinned
    # md5/xxhash64 seeding).
    sh = freeze_partitions(
        _shingle_sets(docs, tokens_col).withColumn(
            "__hsh", F.transform("shingles", lambda s: F.xxhash64(s))
        )
    )
    sig = _signature_frame(sh, hash_fn)
    banded = _band_frame(sig, hash_fn)
    # bucket size + hub via a window over the banded frame itself:
    # ONE exchange on (band_idx, band_hash) feeds the per-bucket
    # count/min AND the downstream grouping (WindowExec preserves its
    # partitioning, so the collect_set groupBy below adds no new
    # exchange). The r5 form — a separate groupBy aggregate joined
    # back — never hit ReuseExchange (the aggregate's exchange carries
    # a partial-agg subtree the join's plain exchange doesn't), so the
    # whole signature+banding pipeline executed twice: measured
    # 2.03→3.91 s at sf0.1. WindowExec spills oversized buckets to
    # disk, so the degenerate-corpus case stays bounded here too.
    from pyspark.sql import Window

    wb = Window.partitionBy("band_idx", "band_hash")
    hits = (
        banded.withColumn("__n", F.count(F.lit(1)).over(wb))
        .withColumn("__hub", F.min("id").over(wb))
        .filter(F.col("__n") > 1)
    )
    # hits feeds TWO consumers (the small-bucket collect_set grouping
    # and the over-cap star path), and the whole signature+banding+
    # window chain sits below it: without a pin each consumer re-runs
    # the K-hash MinHash scan from the cached shingles (r14 plan
    # audit: the sig→band→window chain appeared twice). Persisting
    # AFTER the window keeps the (band_idx, band_hash) partitioning —
    # the groupBy below still adds no exchange — and the cached frame
    # is bands-per-doc rows of (id, band key, count, hub), not text.
    hits = freeze_partitions(hits)
    max_bucket = HOT_BUCKET_CAP
    buckets = (
        hits.filter(F.col("__n") <= max_bucket)
        .groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
    )
    # expand each small bucket's id list into ordered pairs JVM-side:
    # explode twice over the same array, keep a < b
    small_pairs = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # over-cap buckets: star to the min id — linear in bucket size,
    # no array buffer; hub < member always, so ordering is free
    star_pairs = (
        hits.filter(F.col("__n") > max_bucket)
        .filter(F.col("id") != F.col("__hub"))
        .select(F.col("__hub").alias("doc_a"), F.col("id").alias("doc_b"))
    )
    cand = small_pairs.unionByName(star_pairs).distinct()
    a = sh.select(F.col("id").alias("doc_a"), F.col("__hsh").alias("sh_a"))
    b = sh.select(F.col("id").alias("doc_b"), F.col("__hsh").alias("sh_b"))
    pairs = cand.join(a, "doc_a").join(b, "doc_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common / (F.size("sh_a") + F.size("sh_b") - n_common)
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-dup pair graph → ``(doc_id,
    component)`` where component = the minimum doc id reachable — the
    transitive-closure grouping that turns pairwise near-dups into
    dedup clusters (pick one survivor per component). Only nodes that
    appear in a pair are labeled (isolated docs are their own trivial
    component and never enter the graph). Both id columns keep the
    pairs' id type.

    The pairs are checkpointed first (one execution of the pair
    generator, whatever arm follows), then collected with a bounded
    ``limit(cap + 1)``, where ``cap`` is the smaller of
    ``CC_DRIVER_MAX_PAIRS`` (where the driver arm stops paying) and
    the largest pair table Spark would broadcast: its own
    ``spark.sql.autoBroadcastJoinThreshold`` divided by the pair row
    width.

    - **Driver arm** (at most ``cap`` pairs): a union-find whose root
      is always the smaller id closes the graph on the driver, and the
      labels return as a local relation, small enough for the
      consumer's join to broadcast. Its only jobs are the pair
      checkpoint and the collect.
    - **Distributed arm** (more than ``cap`` pairs, or a threshold of
      -1, which turns the driver arm off as it turns off Spark's
      broadcasts): min-label propagation as DataFrame joins. Labels
      start at min(node, min neighbor), one aggregation over the
      symmetric edges (exploded lazily from the checkpoint, one pass
      for both directions). Each round then joins the edges against
      the frontier — the labels that dropped last round — since a
      label can only drop when a neighbor's did; an empty frontier is
      the fixpoint. Each round's labels are checkpointed with a
      ``__changed`` flag, so the frontier's size is a count over the
      checkpoint, and that count times the frontier's row width picks
      a broadcast or a shuffle join for the next round against the
      same threshold. More than ``CC_MAX_ROUNDS`` rounds (a graph
      diameter beyond the budget) raises instead of returning a
      partial closure.

    Either arm runs its jobs while the DataFrame is built — construct
    once and reuse the result.
    """
    spark = pairs.sparkSession
    bcast_bytes = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    pairs = materialize(pairs.select("doc_a", "doc_b"))
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    if bcast_bytes >= 0:
        cap = min(
            bcast_bytes // pairs._jdf.schema().defaultSize(), CC_DRIVER_MAX_PAIRS
        )
        collected = pairs.limit(cap + 1).toArrow()
        if collected.num_rows <= cap:
            return _close_on_driver(spark, collected, edges.schema["src"])
    labels = materialize(
        edges.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "__mn").alias("label"),
        )
    )
    # Seeded init IS round 1's answer, so its frontier is every node
    # whose label differs from its id — a cheap scan of the checkpoint.
    delta = labels.select("node", "label").filter(F.col("node") != F.col("label"))
    n_delta = delta.count()
    row_bytes = delta._jdf.schema().defaultSize()
    max_iter = CC_MAX_ROUNDS
    for _ in range(max_iter):
        if n_delta == 0:
            break
        dside = F.broadcast(delta) if n_delta * row_bytes <= bcast_bytes else delta
        neigh = (
            edges.join(dside, edges.dst == dside.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        nlabel = F.coalesce(F.col("nlabel"), labels.label)
        new = materialize(
            labels.join(neigh, labels.node == neigh.src, "left")
            .select(
                labels.node,
                F.least(labels.label, nlabel).alias("label"),
                (nlabel < labels.label).alias("__changed"),
            )
        )
        delta = new.filter(F.col("__changed")).select("node", "label")
        n_delta = delta.count()
        labels = new.select("node", "label")
    if n_delta != 0:
        # Exhausting the rounds means labels are NOT the transitive
        # closure (some node still sits > max_iter hops from its
        # component minimum — the long-chain near-dup pathology).
        # Every consumer (remove_near_dups, curate survivor rule)
        # depends on exact convergence, so fail loudly rather than
        # silently keeping transitive duplicates.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise CC_MAX_ROUNDS (graph diameter exceeds the round budget)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def _close_on_driver(spark, collected, id_field) -> DataFrame:
    """Union-find closure of a collected ``(doc_a, doc_b)`` Arrow table
    → ``(doc_id, component)`` as a local relation. Every union hangs
    the larger root under the smaller, so each root is its component's
    minimum id. The relation is built from an Arrow table, not from
    Python rows, so it stays a sized local relation in any session
    (rows or pandas become an RDD scan of unknown size when Arrow is
    off, and the consumer's join stops broadcasting)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(
        collected.column("doc_a").to_pylist(), collected.column("doc_b").to_pylist()
    ):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    id_type = to_arrow_type(id_field.dataType)
    labels = pa.table(
        {
            "doc_id": pa.array(nodes, id_type),
            "component": pa.array([find(x) for x in nodes], id_type),
        }
    )
    schema = StructType(
        [
            StructField("doc_id", id_field.dataType, id_field.nullable),
            StructField("component", id_field.dataType, id_field.nullable),
        ]
    )
    return spark.createDataFrame(labels, schema)


def remove_near_dups(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Canonicalize a near-dup pair set into a keep/drop decision via
    the exact transitive closure: run :func:`connected_components`
    over the pair graph and keep only each component's minimum doc id.

    This is the canonical survivor rule at any scale — the former
    star approximation (drop every pair's higher id) over-kept docs
    that never appeared as a pair's higher id but were transitively
    reachable from the component minimum (e.g. edges {1-5, 3-5} kept
    both 1 and 3; the closure keeps only 1). The drop set is the
    closure's non-minimum ids, removed with a left-anti join: a
    broadcast join whenever the closure ran on the driver.

    NOTE: the closure EXECUTES at DataFrame-construction time (the
    pair checkpoint and collect, plus the rounds of a graph too large
    for the driver) — calling this is not free plan-building;
    construct once and reuse the returned DataFrame.
    """
    comp = connected_components(pairs)
    drop = (
        comp.filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti")


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: per training document, count its
    word 3-gram shingles that also appear anywhere in a held-out
    eval/benchmark corpus — the standard pre-training hygiene pass
    (flag or strip documents that leak test-set content).

    Output: one row per *contaminated* document —
    ``(doc_id, set_size, n_hits, contam_bp)`` where ``n_hits`` is the
    count of distinct leaked shingles and ``contam_bp`` the integer
    basis-point fraction ``floor(n_hits * 10000 / set_size)`` (exact
    integer arithmetic — same cross-engine-exactness policy as
    textual.score_docs). Callers anti-join or threshold on ``contam_bp``.

    Scale shape (100 TB corpus vs ~GB benchmark): the benchmark's
    distinct shingle set is tiny relative to the corpus (eval suites
    are fixed-size), so the membership probe is a **broadcast**
    left-semi equi-join on 8-byte xxhash64 shingle keys — the corpus
    shuffles nothing for the probe; the only shuffle is the per-doc
    hit-count groupBy, whose rows are (doc_id, partial_count) after
    map-side combine. If a benchmark ever outgrew broadcast, dropping
    the hint degrades gracefully to a shuffle join on the same key.
    """
    corpus = _shingle_hashes(docs)
    bench = _distinct_shingle_hashes(benchmark)
    return (
        corpus.join(F.broadcast(bench), "shingle", "left_semi")
        .groupBy("id", "set_size")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.col("id").alias("doc_id"),
            "set_size",
            "n_hits",
            F.floor(F.col("n_hits") * F.lit(10_000) / F.col("set_size")).alias(
                "contam_bp"
            ),
        )
    )


def _shingle_hashes(docs: DataFrame, tokens_col: str | None = None) -> DataFrame:
    """(id, set_size, shingle) — one row per shingle of each document,
    the shingle as its xxhash64: both sides of the shingle self-join
    and the probe side of the decontamination joins."""
    return explode_nonempty(
        _shingle_sets(docs, tokens_col).withColumn("set_size", F.size("shingles")),
        ["id", "set_size"],
        "shingles",
        "__s",
    ).select("id", "set_size", F.xxhash64("__s").alias("shingle"))


def _distinct_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(shingle) — the distinct xxhash64 shingle set of a reference
    corpus: the build side of the decontamination joins."""
    return (
        explode_nonempty(_shingle_sets(docs), [], "shingles", "__s")
        .select(F.xxhash64("__s").alias("shingle"))
        .distinct()
    )


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Distributed Bloom-filter build: hash every key to ``k`` =
    BLOOM_K bit positions in an ``m = 2**BLOOM_BITS_LOG2``-bit array and OR them into
    64-bit words → a (bucket, bits) frame of at most ``m/64`` rows.

    Entirely DataFrame-native (no driver-side ``stat.bloomFilter``
    collect): position ``j`` of a key is ``pmod(xxhash64(key, j), m)``,
    the word is ``pos >> 6``, and the build is one hash-aggregate with
    ``bit_or`` — map-side combinable, so at 100 TB the shuffle carries
    at most ``m/64`` rows per map task regardless of key count. The
    result frame is ``m/8`` BYTES total (e.g. 32 KiB at m=2^18), so it
    broadcasts even when the key set it summarizes would never fit an
    executor — that is the point: a billion-key reference set probes as
    a kilobyte-scale broadcast with a bounded false-positive rate
    ``(1 - e^(-k*n/m))^k`` and ZERO false negatives (every inserted
    key's k bits are set by construction)."""
    m, k = 1 << BLOOM_BITS_LOG2, BLOOM_K
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.expr(f"pmod(xxhash64({key_col}, {j}), {m}L)")
                    for j in range(k)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.shiftright("pos", 6).alias("bucket"),
            F.expr("shiftleft(1L, cast(pos & 63 as int))").alias("__m"),
        )
        .groupBy("bucket")
        .agg(F.expr("bit_or(__m)").alias("bits"))
    )


def bloom_maybe_contains(
    probe: DataFrame, bloom: DataFrame, key_col: str
) -> DataFrame:
    """Filter ``probe`` to rows whose ``key_col`` MAYBE appears in the
    key set summarized by ``bloom`` (built by :func:`bloom_build`).

    Shuffle-free: ``k`` broadcast hash joins on the word index, one per
    hash function — every probe row tests its k bits against the
    broadcast (bucket, bits) frame in the same stage as the scan. Rows
    whose bucket is absent from the frame have no bits set (left join,
    null ⇒ miss). Guaranteed superset of the true members; callers
    exact-confirm the survivors."""
    m, k = 1 << BLOOM_BITS_LOG2, BLOOM_K
    out = probe
    keep = F.lit(True)
    for j in range(k):
        bl = bloom.select(
            F.col("bucket").alias(f"__bk{j}"), F.col("bits").alias(f"__bits{j}")
        )
        out = out.withColumn(
            f"__pos{j}", F.expr(f"pmod(xxhash64({key_col}, {j}), {m}L)")
        ).join(
            F.broadcast(bl),
            F.shiftright(F.col(f"__pos{j}"), 6) == F.col(f"__bk{j}"),
            "left",
        )
        keep = keep & F.expr(
            f"coalesce(__bits{j} & shiftleft(1L, cast(__pos{j} & 63 as int)), 0L)"
            " <> 0L"
        )
    drop = [c for j in range(k) for c in (f"__pos{j}", f"__bk{j}", f"__bits{j}")]
    return out.filter(keep).drop(*drop)


def decontaminate_bloom(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """:func:`decontaminate` with a Bloom pre-filter in front of the
    exact membership join — the form that survives a reference set too
    large to broadcast.

    :func:`decontaminate` broadcasts the benchmark's distinct shingle
    hashes, which is right for fixed-size eval suites; when the
    "benchmark" is yesterday's 100 TB corpus snapshot (cross-snapshot
    contamination / incremental hygiene), the distinct-shingle set is
    billions of 8-byte keys and cannot broadcast. This variant
    broadcasts a ``m/8``-byte Bloom summary instead (``bloom_build``),
    discards the overwhelming majority of corpus shingles scan-side
    with zero shuffle (``bloom_maybe_contains``), and exact-confirms
    only the survivors with the true membership join — so the big join
    touches the (tiny) maybe-set, not the corpus. Bloom false
    positives are removed by the confirm join and false negatives are
    impossible, so the OUTPUT IS BIT-IDENTICAL to ``decontaminate`` —
    the filter is a plan-level accelerator, which is exactly what makes
    the entry oracle-checkable with the plain exact SQL."""
    # pinned: the bench frame feeds the bloom build and the confirm
    # join; measured on 4 vCPUs, 3 interleaved runs per arm, pin vs
    # none: wall 2.23 vs 2.29 s and JVM CPU 7.52 vs 7.79 s at 10x (at
    # sf0.1 the pin costs: 0.95 vs 0.78 s, 3.26 vs 2.60 s)
    bench = freeze_partitions(_distinct_shingle_hashes(benchmark))
    # the summary feeds k broadcast joins; without the freeze each one
    # re-runs the whole bloom build (explode k positions over every
    # reference shingle + bit_or aggregate) — 3 redundant passes over
    # the reference set (verified in the formatted plan: 3 duplicated
    # build subtrees). The frame is at most m/64 rows, trivially cached.
    bloom = freeze_partitions(bloom_build(bench, "shingle"))
    maybe = bloom_maybe_contains(_shingle_hashes(docs), bloom, "shingle")
    return (
        maybe.join(bench, "shingle", "left_semi")
        .groupBy("id", "set_size")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.col("id").alias("doc_id"),
            "set_size",
            "n_hits",
            F.floor(F.col("n_hits") * F.lit(10_000) / F.col("set_size")).alias(
                "contam_bp"
            ),
        )
    )


def write_signature_sink(docs: DataFrame, path: str) -> None:
    """Persist a corpus snapshot's md5-mode MinHash state as the two
    tables the incremental path needs: ``<path>/signatures``
    (id, h0..h{K-1}) and
    ``<path>/bands`` (id, band_idx, band_hash) partitioned by
    ``band_idx``.

    This is the 100 TB incremental-dedup pattern: signatures are
    computed ONCE per snapshot (a linear scan of the corpus) and every
    subsequent ingest batch joins its own (tiny) band table against
    this sink — the snapshot text is never re-read, never re-hashed.
    Partitioning the band table by band_idx makes the incremental join
    prune to the probe's bands and keeps each partition's band_hash
    distribution uniform (band hashes are hashes), so the join side
    scales by adding band files, not by widening tasks."""
    sig = _signature_frame(_shingle_sets(docs), "md5")
    # no materialize here: the parquet write IS the materialization,
    # and the band table is derived from the written files (one
    # signature computation total, snapshot-sized state never pinned
    # in executor memory)
    sig.write.mode("overwrite").parquet(f"{path}/signatures")
    spark = docs.sparkSession
    sig_back = spark.read.parquet(f"{path}/signatures")
    write_parquet(
        _band_frame(sig_back, "md5"),
        f"{path}/bands",
        partition_by=["band_idx"],
    )


def _min_match() -> int:
    """Signature components two documents must share for their
    n_match / NUM_HASHES estimate to reach JACCARD_THRESHOLD."""
    return int(JACCARD_THRESHOLD * NUM_HASHES + 0.5)


def incremental_minhash_pairs(new_docs: DataFrame, sink_path: str) -> DataFrame:
    """Near-dup pairs between an ingest batch and a persisted snapshot
    signature sink (:func:`write_signature_sink`), WITHOUT touching the
    snapshot's text: ``(doc_new, doc_old, n_match, est_jaccard)``.

    The daily-increment form of :func:`minhash_lsh_pairs`: at 100 TB
    you do not re-LSH the whole corpus per ingest batch — the batch
    (≪ corpus) computes its own signatures, joins its band table
    against the snapshot's persisted bands for candidates, then scores
    each candidate by the MinHash estimator ``n_match / K`` (the
    fraction of agreeing signature components — the unbiased Jaccard
    estimator), read from the persisted signature table. No shingle
    sets of old documents are ever materialized; both joins carry
    fixed-width rows. ``n_match / K`` is a dyadic rational for
    K = NUM_HASHES = 32, so the estimate is exact in binary on every
    engine — no rounding anywhere (cross-engine-exactness policy).

    Candidates are exactly the band-collision pairs, so recall
    inherits the banding S-curve of the batch-mode operator; the
    estimator replaces the exact-Jaccard verify because the sink holds
    signatures, not shingles — Var(est) = J(1-J)/K, tight enough at
    K=32 to rank (consumers needing exact J re-read only the matched
    old docs, a candidate-sized seek, not a corpus scan). Signatures
    are md5-mode (see :func:`minhash_lsh_pairs`), like the sink's."""
    spark = new_docs.sparkSession
    num_hashes = NUM_HASHES
    nsig = materialize(_signature_frame(_shingle_sets(new_docs), "md5"))
    nband = _band_frame(nsig, "md5")
    oband = spark.read.parquet(f"{sink_path}/bands")
    cand = (
        nband.alias("n")
        .join(oband.alias("o"), ["band_idx", "band_hash"])
        .select(
            F.col("n.id").alias("doc_new"), F.col("o.id").alias("doc_old")
        )
        .distinct()
    )
    osig = spark.read.parquet(f"{sink_path}/signatures")
    old_cols = [F.col("id").alias("doc_old")] + [
        F.col(f"h{k}").alias(f"o{k}") for k in range(num_hashes)
    ]
    new_cols = [F.col("id").alias("doc_new")] + [
        F.col(f"h{k}").alias(f"n{k}") for k in range(num_hashes)
    ]
    scored = (
        cand.join(osig.select(*old_cols), "doc_old")
        .join(nsig.select(*new_cols), "doc_new")
        .withColumn(
            "n_match",
            sum(
                (F.col(f"n{k}") == F.col(f"o{k}")).cast("long")
                for k in range(num_hashes)
            ),
        )
    )
    return scored.filter(F.col("n_match") >= _min_match()).select(
        "doc_new",
        "doc_old",
        "n_match",
        (F.col("n_match") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def dedup_lines(docs: DataFrame) -> DataFrame:
    """CCNet-style line-level boilerplate removal across a corpus:
    drop every line that appears in more than one distinct
    document (navigation chrome, cookie banners, license headers —
    the text that repeats across a crawl), then reassemble each
    document from its surviving lines in original order.

    Input: ``(doc_id, lines: array<string>)``. Output: one row per
    document — ``(doc_id, n_lines, n_kept, cleaned_text)``; documents
    whose lines were ALL boilerplate survive with ``n_kept = 0`` and
    an empty ``cleaned_text`` (the caller decides whether to drop
    them), so the op is row-preserving.

    Scale shape (100 TB): three bounded stages. (1) Document frequency
    per line keyed on **md5(line)** — the shuffle carries 32-byte
    digests + doc ids, map-side combined, never line text (same rule
    as exact_dedup). (2) The boilerplate dictionary (df > 1) is
    the frequent tail of a Zipf curve — small by construction — and
    **broadcasts** back; each exploded line gets a keep flag from a
    broadcast hash join, no corpus shuffle. (3) Reassembly is ONE
    groupBy(doc_id) whose collect_list holds a single document's
    lines — bounded by max document size, not corpus size. md5 (not
    xxhash64) keeps the frequency key portable to the DuckDB oracle;
    a 128-bit digest has no birthday risk at any corpus size worth
    scanning.
    """
    # posexplode_outer + null filter, not posexplode: the inner form
    # makes the optimizer infer size(lines) > 0 and push it below the
    # projection, re-inlining the caller's line-construction lambda
    # (tokenizer included) into a scan-stage interpreted Filter — the
    # same quadratic trap textual.explode_nonempty documents.
    exploded = (
        fan_out(docs)
        .select(
            F.col("doc_id"),
            F.posexplode_outer("lines").alias("pos", "line"),
        )
        .filter(F.col("line").isNotNull())
        .withColumn("__k", F.md5("line"))
    )
    boiler = (
        exploded.select("__k", "doc_id")
        .distinct()
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 1)
        .select("__k")
    )
    flagged = exploded.join(
        F.broadcast(boiler.withColumn("__boiler", F.lit(True))), "__k", "left"
    ).withColumn("__keep", F.col("__boiler").isNull())
    kept_sorted = F.transform(
        F.filter(
            F.array_sort(
                F.collect_list(F.struct("pos", "__keep", "line"))
            ),
            lambda s: s["__keep"],
        ),
        lambda s: s["line"],
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_if(F.col("__keep")).alias("n_kept"),
            F.array_join(kept_sorted, "\n").alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame) -> DataFrame:
    """SIMHASH_BITS-wide SimHash sketch per document: bit i of the
    sketch is set iff a majority of token hashes have bit i set (sign
    of the ±1 bit sum).

    Computed with **packed bit-counting**: per token, bits are spread
    into 16-bit lanes of ``n_bits/4`` longs; one ``sum`` per packed
    long counts 4 bits at once, so the hash aggregate carries
    ``n_bits/4 + 1`` buffers instead of ``n_bits`` — 4x less aggregate
    state and codegen. Lane-overflow bound: documents must have
    < 32768 tokens (chunk longer docs upstream). One shuffle on doc
    id, no Python anywhere.

    Bit ``4g+j`` comes from hex nibble ``g`` of ``md5(tok)`` —
    byte-identical in DuckDB (``strpos`` nibble lookup), so the sketch
    and everything downstream of it are oracle-expressible."""
    n_bits = SIMHASH_BITS
    if n_bits % 4:
        raise ValueError(f"n_bits must pack into 4-lane longs, got {n_bits}")
    n_groups = n_bits // 4
    base = fan_out(docs).select(
        F.col("doc_id").alias("id"), F.explode(tokens("text")).alias("tok")
    )
    tok = base.withColumn("h", F.md5("tok"))

    # Both the packed-lane spread and the 48-term sketch assembly are
    # built as single SQL strings: the equivalent Column-builder loops
    # make ~500 Py4J round-trips (~2 s of driver wall per query) for
    # the identical expression tree.
    def packed_sql(g: int) -> str:
        # 4 bits (4g..4g+3) of h, one per 16-bit lane: nibble g of the
        # hex digest; conv() emits a decimal string, cast back to a
        # long before the bit probe
        nib = f"cast(conv(substr(h, {g + 1}, 1), 16, 10) as bigint)"
        return " + ".join(
            f"shiftleft(shiftright({nib}, {j}) & 1, {16 * j})" for j in range(4)
        )

    counts = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum({packed_sql(g)})").alias(f"p{g}") for g in range(n_groups)],
    )
    # majority rule per bit: 2c - n > 0, identical to sum(+1/-1) > 0
    sketch_sql = " + ".join(
        f"(case when (shiftright(p{g}, {16 * j}) & 65535) * 2 > n"
        f" then {1 << (4 * g + j)}L else 0L end)"
        for g in range(n_groups)
        for j in range(4)
    )
    return counts.select(
        F.col("id").alias("doc_id"), F.expr(sketch_sql).alias("simhash")
    )


def simhash_near_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming`` =
    SIMHASH_MAX_HAMMING.

    Pigeonhole banding: split the sketch into ``n_bands`` =
    SIMHASH_BANDS bit-bands; any pair within distance ``max_hamming``
    < ``n_bands`` agrees
    exactly on ≥1 band, so grouping by (band_idx, band_bits) yields a
    complete candidate set with |bands| hash shuffles — no cross join.
    Candidates are then filtered by true bit_count(xor).

    Hot-bucket guard (same contract as :func:`minhash_lsh_pairs`): a
    boilerplate-identical corpus slice shares every band's bits, so
    the per-band self-join goes O(bucket²) inside that bucket — the
    bucket-skew stress corpus (tools/gen_bucket_skew.py) makes one
    bucket own 25% of the corpus. Bucket size + hub are computed by a
    window over the banded frame (one exchange serves the guard and
    both join sides); buckets ≤ HOT_BUCKET_CAP take the exact
    pair-join path, larger buckets emit a STAR to the bucket's min id
    with true hub↔member hamming — O(bucket) rows. Star edges are
    emitted UNFILTERED (VERDICT r10 item 2): an over-cap bucket's
    hub↔member rows carry their true ``hamming`` even when it exceeds
    ``max_hamming``, so a member pair within threshold of EACH OTHER
    but not of the hub stays hub-reachable for downstream clustering
    instead of silently vanishing. Consumers needing strictly
    verified pairs apply ``hamming <= max_hamming`` themselves — any
    row failing it is by construction an over-cap star edge. The
    clique's full pairwise listing is still traded for boundedness
    exactly as documented on the MinHash side. Driver-SF corpora
    never exceed the cap, so the DuckDB oracle models the exact path
    only.
    """
    from pyspark.sql import Window

    max_hamming, n_bands = SIMHASH_MAX_HAMMING, SIMHASH_BANDS
    max_bucket = HOT_BUCKET_CAP
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    sk = simhash(docs)
    banded = sk.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_bits")
    wb = Window.partitionBy("band_idx", "band_bits")
    hits = (
        banded.withColumn("__n", F.count(F.lit(1)).over(wb))
        .withColumn(
            "__hub", F.min(F.struct("doc_id", "simhash")).over(wb)
        )
        .filter(F.col("__n") > 1)
    )
    # hits feeds THREE consumers (both sides of the small-bucket
    # self-join and the star path); unlike the MinHash twin there is
    # no cached shingle frame below it, so each consumer re-ran the
    # ENTIRE scan→tokenize→sketch→band→window chain (r14 plan audit:
    # three copies, from the raw parquet scan up). Pin it once — the
    # cached rows are 4 band rows per colliding doc of five fixed
    # columns, and the (band_idx, band_bits) partitioning survives
    # the cache so the join below adds no extra exchange.
    hits = freeze_partitions(hits)
    small = hits.filter(F.col("__n") <= max_bucket).select(
        "doc_id", "simhash", "band_idx", "band_bits"
    )
    a, b = small.alias("a"), small.alias("b")
    cand = (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
    )
    star = (
        hits.filter(F.col("__n") > max_bucket)
        .filter(F.col("doc_id") != F.col("__hub.doc_id"))
        .select(
            F.col("__hub.doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("__hub.simhash").alias("sh_a"),
            F.col("simhash").alias("sh_b"),
        )
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # exact-path pairs are verified here; star edges pass through
    # UNFILTERED (their true hamming may exceed max_hamming — the
    # consumer applies the test). Deduping AFTER the filter also
    # shuffles fewer rows than the old pre-verify distinct: the same
    # pair surfacing from k bands has identical sketches, so
    # min(hamming) == its hamming.
    exact = (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    star_out = star.withColumn("hamming", dist).select(
        "doc_a", "doc_b", "hamming"
    )
    return (
        exact.unionByName(star_out)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def substring_span_pairs(docs: DataFrame) -> DataFrame:
    """Exact shared-substring spans between document pairs — the
    span-level dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), which removes
    repeated SPANS (boilerplate, quoted articles, license headers)
    that whole-document Jaccard structurally under-weights: a
    50-token license block inside two 5,000-token documents is
    J ≈ 0.01 but still memorized verbatim.

    Instead of that paper's suffix array (pointer-chasing, hostile to
    a shuffle engine), maximal shared spans fall out of relational
    primitives: positional n-gram windows → equi-join on the window
    hash → a run of CONSECUTIVE matches along one (pos_a - pos_b)
    DIAGONAL is exactly a shared token span of length run + n - 1
    (the classic dot-plot diagonal from sequence alignment, as
    islands-and-gaps SQL). Plan: one explode (positions), one
    equi-join shuffling 8-byte xxhash64 window keys (only documents
    sharing a window ever meet — no cross product, same scale class
    as jaccard_pairs, same stop-shingle skew hazard and therefore the
    same LSH-prefilter production framing), one keyed window
    partitioned by (pair, diagonal), two map-combinable aggregates.

    Returns (doc_a, doc_b, max_span_tokens, n_spans): the longest
    shared span and how many distinct maximal spans clear the
    ``min_span_tokens`` = 10 threshold, over ``n`` = 5-token windows.
    """
    from pyspark.sql import Window

    n, min_span_tokens = SPAN_WINDOW, SPAN_MIN_TOKENS
    base = fan_out(docs).select(
        F.col("doc_id").alias("id"), tokens("text").alias("__toks")
    )
    # positional windows; CASE guard because sequence(1, 0) is the
    # DESCENDING [1, 0], not empty (the bpe-merges lesson)
    win = base.select(
        "id",
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) < {n} THEN array()"
                f" ELSE transform(sequence(1, size(__toks) - {n - 1}),"
                f" i -> struct(i AS pos,"
                f" xxhash64(array_join(slice(__toks, i, {n}), ' ')) AS h))"
                " END"
            )
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    # hot-window guard (same family contract as minhash_lsh_pairs /
    # simhash_near_pairs): a boilerplate window shared by a hot
    # corpus slice makes the h-equi-join emit O(df²) matches for that
    # hash — the bucket-skew corpus measured 12.5× on this op before
    # the guard. One window over h computes occurrence count + hub
    # (min doc id); windows with ≤ HOT_BUCKET_CAP occurrences take
    # the exact all-pairs path, hotter windows contribute STAR
    # matches only (hub-side occurrences × others — O(df) rows), so
    # hub↔member spans survive while member↔member pairs keep only
    # their sub-cap windows. Driver-SF corpora top out at df = 4
    # (measured), so the oracle models the exact path only.
    # Span accounting above the cap is a LOWER BOUND for member↔member
    # pairs: a single over-cap window in the middle of a longer shared
    # span removes that window's member-side matches, splitting the
    # diagonal run — max_span_tokens is underestimated and n_spans may
    # double-count the two halves for pairs whose span crosses a hot
    # window. Hub↔member spans stay exact (the hub keeps all windows).
    wdf = Window.partitionBy("h")
    win = (
        win.withColumn("__n", F.count(F.lit(1)).over(wdf))
        .withColumn("__hub", F.min("id").over(wdf))
    )
    # win feeds BOTH self-join sides, and the sides differ (a carries
    # the hub filter) so no exchange reuse applies: each side re-ran
    # the scan -> tokenize -> positional-window explode -> hot-window
    # count/hub window chain (r14 scan_dup_audit: documents scanned
    # twice). Persisting AFTER the window keeps the h partitioning,
    # which is also the join key, so the equi-join below adds no
    # extra exchange on the cached side. SCALE-ADAPTIVE pin
    # (freeze_when_heavy): at bench SF the duplicated chains run
    # concurrently on idle cores and the pin only adds cache overhead
    # (sf0.1 A/B: 3.2 s pinned vs 2.2 s not), at 125× the pin halves
    # the wall (127 vs 257 s — BENCH_SCALING heavy_pins_r14).
    from ..partitioning import freeze_when_heavy

    win = freeze_when_heavy(win)
    # distinct-named projections: no self-join disambiguation
    # heuristics (the preference-pairs lesson)
    a = win.filter(
        (F.col("__n") <= HOT_BUCKET_CAP) | (F.col("id") == F.col("__hub"))
    ).select(F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = win.select(
        F.col("id").alias("doc_b"), F.col("pos").alias("pb"), "h"
    )
    matches = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    # islands along each diagonal: consecutive pa with constant
    # pa - pb form one maximal run; the window is keyed by
    # (pair, diagonal) so no partition grows with corpus size, only
    # with per-pair overlap
    diag = matches.select(
        "doc_a",
        "doc_b",
        "pa",
        (F.col("pa") - F.col("pb")).alias("diag"),
    )
    grp = diag.withColumn(
        "grp",
        F.col("pa")
        - F.row_number().over(
            Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
        ),
    )
    runs = grp.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        (F.count(F.lit(1)) + F.lit(n - 1)).alias("span_tokens")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_tokens").alias("max_span_tokens"),
            F.sum(
                F.when(F.col("span_tokens") >= min_span_tokens, 1).otherwise(0)
            ).alias("n_spans"),
        )
        .filter(F.col("max_span_tokens") >= min_span_tokens)
    )
