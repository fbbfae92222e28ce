"""Registry entries: LLM-pipeline: dedup / similarity / text / multimodal.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ..operators.dedup import JACCARD_THRESHOLD, SPAN_MIN_TOKENS, SPAN_WINDOW
from ..operators.multimodal import (
    AUDIO_BANDS,
    FRAME_EVERY,
    RESIZE_H,
    RESIZE_W,
    TWIN_MOD,
    TWIN_OFFSET,
    WAV_SAMPLE_RATE,
)
from ..operators.sampling import DSIR_BUCKETS
from ..operators.similarity import (
    IVF_CELLS,
    IVF_PROBES,
    NEAR_DUP_COS,
    NEAR_DUP_MAX_ID,
    ROUND_DP,
)
from ..operators.textual import (
    BM25_TOP_K,
    FINGERPRINT_SHINGLE,
    SYMBOL_RE,
    TFIDF_TOP_K,
    WHITESPACE,
)
from ._core import (
    ORACLES,
    _SHINGLES,
    _TOKS,
    _build_once,
    _lsh_oracle_banded,
    _t,
    pairs_top_k,
    register,
)

# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (BASELINE.json north star): dedup,
# similarity search, text analysis, multimodal — SURVEY §7 step 6
# ---------------------------------------------------------------------------



@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact content dedup via sha256 digest group-by: the shuffle
    carries 64-byte digests, not documents (the 100 TB form of
    trading212.py:121's all-column drop_duplicates)."""
    from ..operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    e AS (SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle FROM t),
    c AS (SELECT a.id AS doc_a, b.id AS doc_b,
                 any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
                 count(*) AS n_common
          FROM e a JOIN e b USING (shingle)
          WHERE a.id < b.id GROUP BY a.id, b.id)
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (size_a + size_b - n_common), 4) AS jaccard
    FROM c
    WHERE round(CAST(n_common AS DOUBLE) / (size_a + size_b - n_common), 4) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (J ≥ 0.5): explode-join on
    shingles — work bounded by shingle co-occurrence, not |docs|^2.
    This is also the verifier behind the MinHash LSH path.

    Collision caveat: the Spark side joins on xxhash64(shingle), so
    "exact" is exact-up-to-64-bit-collisions — a cross-document hash
    collision (~2^-64 per pair) would inflate n_common relative to this
    string-joining oracle. Acceptable for the ground-truth role at any
    realistic corpus size; use the raw-string join if cryptographic
    exactness is ever required.

    Top-k lever (r11 output bound; r12 candidate bound, VERDICT r11
    item 2): set ``SPARK_GRAFT_PAIRS_TOP_K=<k>`` to truncate the
    result to each document's k strongest partners (the kNN
    subgraph — deterministic rank by jaccard DESC, partner id ASC;
    clique connectivity preserved). Since r12 the bound also routes
    CANDIDATE generation through the LSH hub subgraph
    (operators/dedup._hub_candidate_pairs), so the quadratic shingle
    co-occurrence is never enumerated — compute, not just output, is
    O(n·k)-class; kept pairs carry exact Jaccard and the kept set is
    exact on equal-similarity cliques. UNSET by default —
    driver/oracle runs emit the complete pair set."""
    from ..operators.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), top_k_per_doc=pairs_top_k())


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    e AS (SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle FROM t),
    c AS (SELECT a.id AS doc_a, b.id AS doc_b,
                 any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
                 count(*) AS n_common
          FROM e a JOIN e b USING (shingle)
          WHERE a.id < b.id GROUP BY a.id, b.id),
    r AS (SELECT doc_a, doc_b,
                 round(CAST(n_common AS DOUBLE) / size_a, 4) AS contain_a_in_b,
                 round(CAST(n_common AS DOUBLE) / size_b, 4) AS contain_b_in_a
          FROM c)
    SELECT doc_a, doc_b, contain_a_in_b, contain_b_in_a,
           greatest(contain_a_in_b, contain_b_in_a) AS max_containment
    FROM r
    WHERE greatest(contain_a_in_b, contain_b_in_a) >= 0.6
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Near-containment pairs (max direction ≥ 0.6): the asymmetric
    |A∩B|/|A| ratio that catches doc-inside-doc duplication Jaccard
    misses (operators/dedup.py:containment_pairs — same shingle-join
    skeleton as jaccard_pairs, including the
    ``SPARK_GRAFT_PAIRS_TOP_K`` kNN-subgraph output bound — unset by
    default so driver/oracle runs stay exact; the top-k truncation
    ranks by max_containment)."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.6,
        top_k_per_doc=pairs_top_k(),
    )


@register(
    "dedup_decontaminate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM t WHERE id % 97 = 0),
    e AS (SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle
          FROM t WHERE id % 97 <> 0),
    hits AS (
      SELECT id AS doc_id, any_value(set_size) AS set_size,
             CAST(count(*) AS BIGINT) AS n_hits
      FROM e JOIN bench USING (shingle)
      GROUP BY id
    )
    SELECT doc_id, set_size, n_hits,
           CAST(floor(n_hits * 10000.0 / set_size) AS BIGINT) AS contam_bp
    FROM hits
    """,
)
def q_dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    word-3-gram with the held-out eval slice (deterministic stand-in:
    docs with doc_id % 97 == 0 are "the benchmark"). Broadcast
    semi-join probe on hashed shingles — the corpus side never
    shuffles for the membership test (operators/dedup.py:decontaminate
    for the 100 TB analysis). Integer basis-point contamination score,
    no floating-point rounding anywhere."""
    from pyspark.sql import functions as F

    from ..operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(corpus, bench).withColumn(
        "set_size", F.col("set_size").cast("long")
    )


@register(
    "dedup_boilerplate_lines",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    l AS (SELECT doc_id,
                 [array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+7], ' ')
                  for i in range(1, greatest(len(toks), 1)+1, 8)] AS lines
          FROM t),
    e AS (
      SELECT doc_id, u[1] AS line, CAST(u[2] AS BIGINT) AS pos FROM (
        SELECT doc_id, unnest(list_zip(lines, range(1, len(lines)+1))) AS u FROM l
      )
    ),
    f AS (SELECT line, count(DISTINCT doc_id) AS df FROM e GROUP BY line)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE df <= 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE df <= 1), '')
             AS cleaned_text
    FROM e JOIN f USING (line)
    GROUP BY doc_id
    """,
)
def q_dedup_boilerplate_lines(spark, sf_dir):
    """CCNet-style line-level boilerplate removal: drop every line
    occurring in more than one distinct document, reassemble the
    survivors in order (operators/dedup.py:dedup_lines — md5-keyed
    document-frequency count, broadcast boilerplate dictionary, one
    reassembly shuffle). This corpus has no newlines, so the entry
    materializes deterministic pseudo-lines (8-token chunks) to
    exercise the operator; real crawls pass ``split(text, '\\n')``.
    At sf0.01 the pass strips 328 duplicated lines from 93 of 500
    documents — a non-trivial result surface, not a no-op."""
    from pyspark.sql import functions as F

    from ..operators.dedup import dedup_lines
    from ..operators.textual import tokens
    from ..partitioning import fan_out

    # widen BEFORE tokenizing: dedup_lines' own fan_out sits above the
    # line construction, so without this the tokenizer runs in the
    # one-task scan stage of an under-split corpus
    base = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", tokens("text").alias("__toks")
    )
    n = F.size("__toks")
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(8))
    lines = F.transform(idx, lambda i: F.array_join(F.slice("__toks", i, 8), " "))
    return dedup_lines(base.select("doc_id", lines.alias("lines")))


@register(
    "dedup_connected_components",
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
    )
    SELECT src AS doc_id, least(src, min(dst)) AS component
    FROM reach GROUP BY src
    """,
)
def q_dedup_connected_components(spark, sf_dir):
    """Transitive near-dup clustering: connected components over the
    exact Jaccard pair graph (J ≥ 0.5), labels = min reachable doc id.
    Spark side closes a graph that fits the broadcast threshold with
    a driver union-find, and a larger one by iterative min-label
    propagation (Pregel CC as DataFrame joins, lineage-checkpointed
    per round); the oracle is a recursive-CTE transitive closure —
    O(V·E), test-scale only, which is exactly why the iterative form
    exists.

    ``SPARK_GRAFT_PAIRS_TOP_K`` (r11; candidate-bounded since r12,
    unset by default) bounds the edge list to the kNN subgraph before
    clustering — equal-J clique connectivity is preserved (each
    member's top partner is the clique minimum), so the component
    labels of replicated-corpus cliques are unchanged while both the
    edge mass AND the candidate enumeration drop from quadratic to
    O(n·k)-class (operators/dedup._hub_candidate_pairs)."""
    from ..operators.dedup import connected_components, jaccard_pairs

    pairs = jaccard_pairs(_t(spark, sf_dir, "documents"), top_k_per_doc=pairs_top_k())
    return connected_components(pairs)


def _minhash_md5_cand_ctes(source: str) -> str:
    """CTE chain ``e → sig → banded → cand`` producing md5-mode
    MinHash+LSH candidate pairs (``doc_a < doc_b``) from a CTE
    ``source(id, shingles)`` — the signature/banding SQL shared by the
    :func:`_minhash_md5_oracle` entry and the curate-LSH twin
    (registry/timeseries.py, VERDICT r12 item 2). Splicing this after
    a prefix that FILTERS the corpus oracles the banding over exactly
    the surviving documents, not the raw table. ``sig`` is
    MATERIALIZED: both sides of the band self-join read it, and DuckDB
    would otherwise run the NUM_HASHES md5 mins once per reader."""
    return f"""e AS (SELECT id, unnest(shingles) AS s FROM {source}),
    sig AS MATERIALIZED (
      SELECT id, {_md5_mins_sql()}
      FROM e GROUP BY id
    ),
    banded AS (
    {_md5_bands_sql("sig")}
    ),
    cand AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      FROM banded a JOIN banded b USING (band_idx, band_hash)
      WHERE a.id < b.id
    )"""


def _md5_mins_sql() -> str:
    """The NUM_HASHES seeded md5 mins of a MinHash signature, as DuckDB
    select items ``h0 .. h{K-1}`` over shingle column ``s``."""
    from ..operators.dedup import NUM_HASHES

    return ",\n    ".join(
        f"min(substring(md5('{k // 4}:' || s), {8 * (k % 4) + 1}, 8)) AS h{k}"
        for k in range(NUM_HASHES)
    )


def _md5_bands_sql(src: str) -> str:
    """(id, band_idx, band_hash) rows of signature relation ``src``: the
    BANDS band keys, each the concat of its row mins."""
    from ..operators.dedup import BANDS, NUM_HASHES

    rows = NUM_HASHES // BANDS
    return "\n    UNION ALL ".join(
        "SELECT id, {i} AS band_idx, {key} AS band_hash FROM {src}".format(
            i=i,
            key=" || ".join(f"h{i * rows + r}" for r in range(rows)),
            src=src,
        )
        for i in range(BANDS)
    )


def _minhash_md5_oracle() -> str:
    """Full MinHash+LSH pipeline in DuckDB SQL, hash-exact against the
    engine's ``hash_fn="md5"`` mode: seeded mins are
    ``min`` over 8-hex-char slices of ``md5(j || ':' || shingle)``
    (lowercase hex on both engines, lexicographic min == numeric min;
    each digest carries four independent 32-bit hashes, mirroring the
    engine's K/4-digest projection), band keys the concat of the
    band's row mins. This oracles the CANDIDATE GENERATION, not just
    the verified output — the r3/r4 verdicts' open item 'LSH never
    driver-verifiable'."""
    return f"""
    WITH t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    {_minhash_md5_cand_ctes("t")},
    v AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(ta.shingles, tb.shingles)) AS n_common,
             len(ta.shingles) AS size_a, len(tb.shingles) AS size_b
      FROM cand c
      JOIN t ta ON ta.id = c.doc_a
      JOIN t tb ON tb.id = c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE)
                 / (size_a + size_b - n_common), 4) AS jaccard
    FROM v
    WHERE round(CAST(n_common AS DOUBLE)
                / (size_a + size_b - n_common), 4) >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", oracle=_minhash_md5_oracle())
def q_dedup_minhash(spark, sf_dir):
    """MinHash(32) + LSH(16 bands × 2 rows) near-dup pairs, verified
    with exact Jaccard ≥ 0.5. The scale path: signatures are a linear
    scan, banding is 16 hash-groupBys, no cross join; hot band buckets
    are capped (star-linked) at max_bucket. This entry runs the
    ``hash_fn="md5"`` mode so the ENTIRE pipeline — signatures,
    banding, candidates — is replicated in the DuckDB oracle
    (VERDICT r4 item 4); the xxhash64 production default is exercised
    by the recall/precision invariants in tests/test_llm_ops.py and by
    pipeline_curate_corpus_lsh."""
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), hash_fn="md5")


def _simhash_md5_oracle() -> str:
    """SimHash pipeline in DuckDB SQL, hash-exact against the engine's
    md5 sketch: bit ``4g+j`` of a token's contribution is bit ``j`` of
    hex nibble ``g`` of ``md5(token)`` (strpos nibble lookup here,
    conv() on the Spark side)."""
    from ..operators import dedup

    n_bits, n_bands = dedup.SIMHASH_BITS, dedup.SIMHASH_BANDS
    max_hamming = dedup.SIMHASH_MAX_HAMMING
    nib = "strpos('0123456789abcdef', substr(hx, {g}, 1)) - 1"
    cnts = ",\n    ".join(
        "sum((({nib}) >> {j}) & 1) AS c{b}".format(
            nib=nib.format(g=b // 4 + 1), j=b % 4, b=b
        )
        for b in range(n_bits)
    )
    sketch = "\n        + ".join(
        f"(CASE WHEN 2 * c{b} > n THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    width = n_bits // n_bands
    mask = (1 << width) - 1
    banded = "\n    UNION ALL ".join(
        f"SELECT id, simhash, {i} AS band_idx,"
        f" (simhash >> {i * width}) & {mask} AS band_bits FROM sk"
        for i in range(n_bands)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest(toks) AS t
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    h AS (SELECT id, md5(t) AS hx FROM tok),
    bits AS (
      SELECT id, count(*) AS n,
    {cnts}
      FROM h GROUP BY id
    ),
    sk AS (
      SELECT id, {sketch} AS simhash
      FROM bits
    ),
    banded AS (
    {banded}
    ),
    cand AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM banded a JOIN banded b USING (band_idx, band_bits)
      WHERE a.id < b.id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


@register("dedup_simhash", oracle=_simhash_md5_oracle())
def q_dedup_simhash(spark, sf_dir):
    """SimHash(48-bit) near-dup pairs at Hamming ≤ 3 via pigeonhole
    banding (4 bands of 12 bits): one hash-aggregate for sketches,
    one equi-join on band bits for candidates. The sketch draws its
    bits from md5, so they are engine-identical and the whole
    pipeline is oracled (VERDICT r4 item 4)."""
    from ..operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"))


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           CAST(len(string_split_regex(text, '[{WHITESPACE}]+')) AS INTEGER) AS n_words,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CASE WHEN toks IS NULL THEN NULL
                ELSE round(CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                                AS DOUBLE) / greatest(len(toks), 1), 4) END AS avg_token_len
    FROM t
    """,
)
def q_text_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) — pure projection,
    parquet-scan speed at any scale."""
    from ..operators.textual import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks,
             regexp_extract_all(text, '{SYMBOL_RE}') AS syms
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             greatest(len(toks), 1) AS n_tok1,
             greatest(length(text), 1) AS n_chars1,
             len(list_filter(toks, t -> list_contains(
               ['the','a','and','of','to','in','is'], t))) AS n_stop,
             len(syms) AS n_sym,
             CASE WHEN toks IS NULL THEN NULL
                  ELSE CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                            AS BIGINT) END AS sum_len
      FROM t
    )
    SELECT doc_id, n_tokens,
           round(CAST(n_stop AS DOUBLE) / n_tok1, 4) AS stopword_ratio,
           round(CAST(n_sym AS DOUBLE) / n_chars1, 4) AS symbol_ratio,
           CAST(
             (CASE WHEN sum_len >= 10 * n_tok1 THEN 1000 * 3
                   ELSE CAST(floor(300 * sum_len / n_tok1) AS BIGINT) END)
             + (CASE WHEN 4 * n_stop >= n_tok1 THEN 4000
                     ELSE CAST(floor(16000 * n_stop / n_tok1) AS BIGINT) END)
             + (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 2000 ELSE 0 END)
             + (1000 - CASE WHEN 10 * n_sym >= n_chars1 THEN 1000
                            ELSE CAST(floor(10000 * n_sym / n_chars1) AS BIGINT) END)
           AS BIGINT) AS quality_bp
    FROM m
    """,
)
def q_text_quality(spark, sf_dir):
    """Gopher/C4-style heuristic quality scoring as pure arithmetic
    (no exp/log — libm differs across engines, +*/ do not)."""
    from ..operators.textual import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(toks, t -> list_contains(
          ['the','a','and','of','to','in','is'], t))) AS INTEGER) AS score_en,
        CAST(len(list_filter(toks, t -> list_contains(
          ['der','die','das','und','ist','ein'], t))) AS INTEGER) AS score_de,
        CAST(len(list_filter(toks, t -> list_contains(
          ['el','los','de','y','que','una'], t))) AS INTEGER) AS score_es,
        CAST(len(list_filter(toks, t -> list_contains(
          ['le','la','et','les','des','un'], t))) AS INTEGER) AS score_fr
      FROM t
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
           CASE WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
                WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def q_text_lang_id(spark, sf_dir):
    """Stopword-profile language ID with deterministic argmax."""
    from ..operators.textual import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, text,
             [array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+{FINGERPRINT_SHINGLE - 1}], ' ')
              for i in range(1, greatest(len(toks)-{FINGERPRINT_SHINGLE - 1}, 1)+1)] AS shingles
      FROM t
    )
    SELECT doc_id,
           sha256(text) AS content_sha256,
           list_min(list_transform(shingles, s -> md5(s))) AS winnow_fp
    FROM s
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """Content sha256 + winnowing-style rolling fingerprint (min md5
    over word 5-grams = 1-permutation MinHash)."""
    from ..operators.textual import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, term),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    s AS (
      SELECT doc_id, term, tf, df,
             CAST(floor(tf * 1000000.0 / df) AS BIGINT) AS score_micro
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df, score_micro,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score_micro DESC, tf DESC, term) AS BIGINT) AS rnk
    FROM s
    QUALIFY rnk <= {TFIDF_TOP_K}
    """,
)
def q_text_tfidf_topk(spark, sf_dir):
    """Top-5 characteristic terms per document by the exact-integer
    tf·rarity score (tf·idf without libm — see
    operators/textual.py:tfidf_top_terms for the cross-engine-exactness
    and three-shuffle scale analysis)."""
    from pyspark.sql import functions as F

    from ..operators.textual import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents")).withColumn(
        "rnk", F.col("rnk").cast("long")
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             [array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+1], ' ')
              for i in range(1, greatest(len(toks)-1, 1)+1)] AS g2,
             [array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+2], ' ')
              for i in range(1, greatest(len(toks)-2, 1)+1)] AS g3
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor(n_distinct * 10000.0 / greatest(n_tokens, 1)) AS BIGINT)
             AS distinct_bp,
           CAST(floor((len(g2) - len(list_distinct(g2))) * 10000.0
                      / greatest(len(g2), 1)) AS BIGINT) AS dup_2gram_bp,
           CAST(floor((len(g3) - len(list_distinct(g3))) * 10000.0
                      / greatest(len(g3), 1)) AS BIGINT) AS dup_3gram_bp
    FROM g
    """,
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: type-token ratio plus
    duplicate word-2/3-gram fractions, all in exact integer basis
    points (operators/textual.py:repetition_stats). Pure projection —
    zero shuffles, parquet-scan speed at 100 TB."""
    from ..operators.textual import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS c_emb
          FROM embeddings),
    s AS (SELECT query_id, corpus_id,
                 round(list_cosine_similarity(q_emb, c_emb), {ROUND_DP}) AS cos_sim
          FROM q, c WHERE corpus_id <> query_id)
    SELECT query_id, corpus_id, cos_sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, corpus_id) AS rn
          FROM s)
    WHERE rn <= 10
    """,
)
def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 8 query vectors: broadcast
    queries × one corpus scan, zero corpus shuffle; final top-k is
    rank-limited per query."""
    from pyspark.sql import functions as F

    from ..operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 8), k=10)





@register(
    "similarity_topk_lsh",
    oracle=None,  # installed below — built from the seeded planes
)
def q_similarity_lsh(spark, sf_dir):
    """Random-hyperplane LSH top-k: equi-join on sign-bit bucket
    replaces the cross join. The seeded planes are inlined into the
    DuckDB oracle as literals, so the whole sketch is oracle-checked;
    recall vs brute force additionally asserted in
    tests/test_llm_ops.py."""
    from pyspark.sql import functions as F

    from ..operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(emb, emb.filter(F.col("vec_id") < 8), k=10)


ORACLES["similarity_topk_lsh"] = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    banded AS ({_lsh_oracle_banded()}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
      FROM banded q JOIN banded c ON q.tbl = c.tbl AND q.bkt = c.bkt
      WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.corpus_id,
             round(list_cosine_similarity(qv.emb, cv.emb), {ROUND_DP}) AS cos_sim
      FROM cand
      JOIN v qv ON qv.vec_id = cand.query_id
      JOIN v cv ON cv.vec_id = cand.corpus_id
    )
    SELECT query_id, corpus_id, cos_sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, corpus_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """


@register(
    "similarity_topk_ivf",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, emb AS cemb
              FROM v ORDER BY vec_id LIMIT {IVF_CELLS}),
    cd AS (SELECT v.vec_id, c.cid, list_dot_product(v.emb, c.cemb) AS d
           FROM v CROSS JOIN cents c),
    -- cell assignment: argmax dot, FIRST max wins (Spark array_position)
    assign AS (SELECT vec_id, cid AS cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d DESC, cid ASC) AS rn
                FROM cd) WHERE rn = 1),
    -- probes: top-3 dots; Spark reverses an asc struct sort, so ties
    -- break to the HIGHER centroid idx
    probes AS (SELECT vec_id AS query_id, cid AS cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d DESC, cid DESC) AS rn
                FROM cd WHERE vec_id < 8) WHERE rn <= {IVF_PROBES}),
    scored AS (
      SELECT p.query_id, a.vec_id AS corpus_id,
             round(list_cosine_similarity(qv.emb, cv.emb), {ROUND_DP}) AS cos_sim
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN v qv ON qv.vec_id = p.query_id
      JOIN v cv ON cv.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, corpus_id, cos_sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, corpus_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
)
def q_similarity_ivf(spark, sf_dir):
    """IVF (inverted-file) approximate top-k: corpus partitioned into
    centroid cells, queries probe their 3 nearest of 8 cells. At scale
    the corpus is hive-partitioned by cell so a probe prunes to
    n_probe partitions. Centroids are deterministic (first 8 corpus
    vectors), so unlike the seeded-hyperplane LSH variants this op is
    fully oracle-checkable; recall vs brute force additionally
    asserted in tests/test_llm_ops.py."""
    from pyspark.sql import functions as F

    from ..operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(emb, emb.filter(F.col("vec_id") < 8), k=10)


@register(
    "embedding_kmeans_step",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, emb AS cemb
              FROM v ORDER BY vec_id LIMIT {IVF_CELLS}),
    cd AS (SELECT v.vec_id, c.cid, list_dot_product(v.emb, c.cemb) AS d
           FROM v CROSS JOIN cents c),
    -- assignment: argmax dot, FIRST max wins (Spark array_position)
    assign AS (SELECT vec_id, cid AS cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d DESC, cid ASC) AS rn
                FROM cd) WHERE rn = 1),
    e AS (
      SELECT CAST(cell AS INTEGER) AS cell,
             CAST(z[2] AS INTEGER) AS dim,
             CAST(z[1] AS DOUBLE) AS val
      FROM (SELECT a.cell AS cell,
                   unnest(list_zip(v.emb, range(0, len(v.emb)))) AS z
            FROM assign a JOIN v USING (vec_id))
    )
    SELECT cell, dim,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*)
                AS DOUBLE) AS centroid_val
    FROM e GROUP BY cell, dim
    """,
)
def q_embedding_kmeans_step(spark, sf_dir):
    """One distributed Lloyd iteration of spherical k-means (the
    engine-side IVF centroid build): argmax-dot assignment, then
    per-(cell, dim) member means summed as exact DECIMAL so the
    result is order-independent under parallel aggregation
    (operators/similarity.py:kmeans_lloyd_step for the one-shuffle
    100 TB analysis)."""
    from ..operators.similarity import kmeans_lloyd_step

    return kmeans_lloyd_step(_t(spark, sf_dir, "embeddings"))


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
               WHERE vec_id < {NEAR_DUP_MAX_ID})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.emb, b.emb), {ROUND_DP}) AS cos_sim
    FROM v a, v b
    WHERE a.vec_id < b.vec_id
      AND round(list_cosine_similarity(a.emb, b.emb), {ROUND_DP}) >= {NEAR_DUP_COS}
    """,
)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact form over a BOUNDED
    verification slice (vec_id < 256): the O(n²) theta-join is the
    ground-truth verifier for the LSH path, never the scale path, so
    the registered query caps n — no registry entry runs an unbounded
    cross-pair join. ``embedding_near_dup_lsh`` is the full-corpus
    100 TB operator."""
    from ..operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"))


@register(
    "embedding_near_dup_lsh",
    oracle=None,  # installed below — built from the seeded planes
)
def q_embedding_near_dup_lsh(spark, sf_dir):
    """LSH-bucketed embedding near-dup pairs — the scale path for
    embedding_near_dup (co-bucket candidates, exact cosine filter).
    Oracle-checked via inlined seeded planes; subset-of-exact + recall
    floor additionally asserted in tests/test_llm_ops.py."""
    from ..operators.similarity import embedding_near_dup_pairs_lsh

    return embedding_near_dup_pairs_lsh(_t(spark, sf_dir, "embeddings"))


ORACLES["embedding_near_dup_lsh"] = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    banded AS ({_lsh_oracle_banded()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bkt = b.bkt
      WHERE a.vec_id < b.vec_id
    )
    SELECT cand.vec_a, cand.vec_b,
           round(list_cosine_similarity(va.emb, vb.emb), {ROUND_DP}) AS cos_sim
    FROM cand
    JOIN v va ON va.vec_id = cand.vec_a
    JOIN v vb ON vb.vec_id = cand.vec_b
    WHERE round(list_cosine_similarity(va.emb, vb.emb), {ROUND_DP}) >= {NEAR_DUP_COS}
    """


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))), 4) AS l2_norm,
           CAST(len(embedding) AS INTEGER) AS dim
    FROM embeddings
    """,
)
def q_embedding_norms(spark, sf_dir):
    """Vector-column scalar battery: L2 norm via higher-order
    functions (zip_with/aggregate), JVM-side."""
    from pyspark.sql import functions as F

    from ..operators.similarity import norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(norm(F.col("embedding").cast("array<double>")), 4).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )


@register(
    "multimodal_image_meta",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 16 + doc_id % 16 AS sw, 12 + (doc_id * 7) % 12 AS sh
      FROM documents
    ),
    px AS (SELECT doc_id, sw, sh, unnest(range(0, sw * sh)) AS i FROM d),
    hxs AS (
      SELECT doc_id, sw, sh, i,
             md5(concat(CAST(doc_id AS VARCHAR), ':',
                        CAST(i // 16 AS VARCHAR))) AS h
      FROM px
    ),
    v AS (
      SELECT doc_id, sw, sh,
             ({{nib1}}) * 16 + ({{nib2}}) AS val
      FROM hxs
    )
    SELECT doc_id,
           CAST(54 + sh * (((sw * 3 + 3) // 4) * 4) AS INTEGER) AS n_bytes,
           CAST(sw AS INTEGER) AS width,
           CAST(sh AS INTEGER) AS height,
           3 AS channels,
           CAST(sum(val) AS DOUBLE) / (sw * sh) AS mean_intensity
    FROM v GROUP BY doc_id, sw, sh
    """.format(
        nib1="strpos('0123456789abcdef', substr(h, (i % 16) * 2 + 1, 1)) - 1",
        nib2="strpos('0123456789abcdef', substr(h, (i % 16) * 2 + 2, 1)) - 1",
    ),
)
def q_multimodal_meta(spark, sf_dir):
    """Multimodal ingest metadata, REAL decode (r6): parse each BMP's
    actual headers — byte size, dims from BITMAPINFOHEADER, channel
    count from the bpp field — plus the true mean pixel intensity
    from the decoded (padding-stripped, re-flipped) pixel array. The
    oracle recomputes byte size from the spec's row-padding formula
    and the intensity from the md5 pixel keystream, so header layout
    and pixel decode are both cross-engine verified."""
    from ..operators.multimodal import decode_image_meta, synth_bmp_payload

    return decode_image_meta(synth_bmp_payload(_t(spark, sf_dir, "documents")))


_NIB = "strpos('0123456789abcdef', substr(h, (i % 16) * 2 + {o}, 1)) - 1"
# resized BMP size: 54-byte headers + rows of 3-byte pixels padded to 4
_RESIZED_BYTES = 54 + RESIZE_H * ((RESIZE_W * 3 + 3) // 4 * 4)


@register(
    "multimodal_resize",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 16 + doc_id % 16 AS sw, 12 + (doc_id * 7) % 12 AS sh
      FROM documents
    ),
    px AS (
      SELECT doc_id,
             ((ty.y * sh) // {RESIZE_H}) * sw + ((tx.x * sw) // {RESIZE_W}) AS i
      FROM d CROSS JOIN range(0, {RESIZE_W}) tx(x) CROSS JOIN range(0, {RESIZE_H}) ty(y)
    ),
    hx AS (
      SELECT doc_id, i,
             md5(concat(CAST(doc_id AS VARCHAR), ':',
                        CAST(i // 16 AS VARCHAR))) AS h
      FROM px
    ),
    v AS (
      SELECT doc_id,
             ({_NIB.format(o=1)}) * 16 + ({_NIB.format(o=2)}) AS val
      FROM hx
    )
    SELECT doc_id, {RESIZE_W} AS width, {RESIZE_H} AS height, {_RESIZED_BYTES} AS n_bytes,
           CAST(sum(val) AS BIGINT) AS pixel_sum
    FROM v GROUP BY doc_id
    """,
)
def q_multimodal_resize(spark, sf_dir):
    """REAL image resize (r6, stub retired): synthesize a true 24-bit
    BMP per document (pure-struct encoder — padded bottom-up rows, the
    actual on-disk format), parse the container back, nearest-neighbor
    resample to 16x12 with integer index math, re-encode. The oracle
    regenerates every SAMPLED source pixel from the md5 keystream and
    recomputes the resized pixel sum plus the exact re-encoded byte
    size (54 + 12 rows x 48 padded bytes), so the encoder, header
    parse, padding/bottom-up handling, and the resample map are all
    cross-engine verified. The resized binary itself is exercised by
    the round-trip test (tests/test_llm_ops.py); this entry emits the
    verifiable metadata columns."""
    from ..operators.multimodal import resize_images, synth_bmp_payload

    docs = _t(spark, sf_dir, "documents")
    out = resize_images(synth_bmp_payload(docs))
    return out.select("doc_id", "width", "height", "n_bytes", "pixel_sum")


_AUDIO_NIB = "strpos('0123456789abcdef', substr(h, (j % 8) * 4 + {o}, 1)) - 1"
_AUDIO_SAMPLE = " + ".join(
    f"({_AUDIO_NIB.format(o=o + 1)}) * {16 ** (3 - o)}" for o in range(4)
)
_AUDIO_RMS = ",\n           ".join(
    f"round(sqrt(sum(CASE WHEN band = {b} THEN CAST(v AS DOUBLE) * v END)"
    f" / count(CASE WHEN band = {b} THEN 1 END)), 4) AS rms_b{b}"
    for b in range(AUDIO_BANDS)
)


@register(
    "multimodal_audio_features",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 256 + (doc_id * 37) % 128 AS n FROM documents
    ),
    idx AS (SELECT doc_id, n, unnest(range(0, n)) AS j FROM d),
    hx AS (
      SELECT doc_id, n, j,
             md5(concat(CAST(doc_id AS VARCHAR), ':',
                        CAST(j // 8 AS VARCHAR))) AS h
      FROM idx
    ),
    s AS (SELECT doc_id, n, j, {_AUDIO_SAMPLE} - 32768 AS v FROM hx),
    z AS (
      SELECT doc_id, n, j, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv,
             (j * {AUDIO_BANDS}) // n AS band
      FROM s
    )
    SELECT doc_id,
           {WAV_SAMPLE_RATE} AS sample_rate,
           CAST(max(n) AS INTEGER) AS n_frames,
           CAST(max(abs(v)) AS INTEGER) AS peak,
           CAST(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 END), 0)
                AS INTEGER) AS zero_crossings,
           {_AUDIO_RMS}
    FROM z GROUP BY doc_id
    """,
)
def q_multimodal_audio(spark, sf_dir):
    """REAL audio featurization (r6, stub retired): synthesize a
    deterministic PCM16 WAV per document (stdlib ``wave`` encoder,
    md5-keystream samples), parse it back — actual RIFF header + frame
    decode — and extract time-domain features (per-band RMS, zero
    crossings, peak) in numpy. The oracle regenerates the identical
    samples from the md5 hex (nibble lookup, the simhash-oracle trick)
    and recomputes every feature in SQL, so the WHOLE path — encoder,
    container round-trip, decoder, DSP — is cross-engine verified:
    features only match if the WAV byte layout round-trips exactly.
    RMS rounds to 4 dp at this comparison edge (IEEE divide+sqrt are
    bit-identical; see operators/multimodal.py)."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import audio_features, synth_wav_payload

    feats = audio_features(synth_wav_payload(_t(spark, sf_dir, "documents")))
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_frames",
        "peak",
        "zero_crossings",
        *[F.round(f"rms_b{b}", 4).alias(f"rms_b{b}") for b in range(AUDIO_BANDS)],
    )


_VNIB = "strpos('0123456789abcdef', substr(hx, (i % 16) * 2 + {o}, 1)) - 1"


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
             6 + doc_id % 5 AS nf
      FROM documents
    ),
    fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM d),
    px AS (
      SELECT doc_id, w, h, nf, f, unnest(range(0, w * h)) AS i
      FROM fr WHERE f % {FRAME_EVERY} = 0
    ),
    hxs AS (
      SELECT doc_id, w, h, nf, f, i,
             md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(f AS VARCHAR),
                        ':', CAST(i // 16 AS VARCHAR))) AS hx
      FROM px
    ),
    v AS (
      SELECT doc_id, w, h, nf, f,
             ({_VNIB.format(o=1)}) * 16 + ({_VNIB.format(o=2)}) AS val
      FROM hxs
    )
    SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(sum(val) AS BIGINT) AS pixel_sum
    FROM v GROUP BY doc_id, f, w, h, nf
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """REAL video frame sampling (r6, stub retired — the last one):
    synthesize a true uncompressed AVI per document (RIFF container,
    avih/strh/strf headers, DIB frame chunks — struct arithmetic, no
    codec library), walk the chunk tree back, decode every 2nd frame,
    emit one row per sampled frame (the 1→N mapInPandas shape of
    video ingestion). The oracle regenerates every sampled frame's
    pixels from the md5 keystream and recomputes dims / frame count /
    per-frame pixel sums, so the container writer, the generic RIFF
    walk, and the padded bottom-up frame decode are cross-engine
    verified."""
    from ..operators.multimodal import sample_frames, synth_avi_payload

    return sample_frames(synth_avi_payload(_t(spark, sf_dir, "documents")))


# Shared CTE text for the two curate-pipeline oracles (exact shingle
# join + the MinHash/LSH twin in registry/timeseries.py): scoring →
# quality/lang filters → digest keep-first → shingles of the canonical
# survivors. Extracted verbatim in r13 so the exact entry's oracle
# string is byte-identical to its r12 driver-hash-green form.
_CURATE_CANONICAL_CTES = f"""t AS (
      SELECT doc_id, text, lang, {_TOKS} AS toks,
             regexp_extract_all(text, '{SYMBOL_RE}') AS syms
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, lang, toks,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             greatest(len(toks), 1) AS n_tok1,
             greatest(length(text), 1) AS n_chars1,
             len(list_filter(toks, x -> list_contains(
               ['the','a','and','of','to','in','is'], x))) AS n_stop,
             len(list_filter(toks, x -> list_contains(
               ['der','die','das','und','ist','ein'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(
               ['el','los','de','y','que','una'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(
               ['le','la','et','les','des','un'], x))) AS s_fr,
             len(syms) AS n_sym,
             CASE WHEN toks IS NULL THEN NULL
                  ELSE CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                            AS BIGINT) END AS sum_len
      FROM t
    ),
    scored AS (
      SELECT doc_id, text, lang, toks, n_tokens,
             CAST(
               (CASE WHEN sum_len >= 10 * n_tok1 THEN 3000
                     ELSE CAST(floor(300 * sum_len / n_tok1) AS BIGINT) END)
               + (CASE WHEN 4 * n_stop >= n_tok1 THEN 4000
                       ELSE CAST(floor(16000 * n_stop / n_tok1) AS BIGINT) END)
               + (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 2000 ELSE 0 END)
               + (1000 - CASE WHEN 10 * n_sym >= n_chars1 THEN 1000
                              ELSE CAST(floor(10000 * n_sym / n_chars1) AS BIGINT)
                         END)
             AS BIGINT) AS quality_bp,
             CASE WHEN n_stop >= greatest(s_de, s_es, s_fr) THEN 'en'
                  WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS lang_pred
      FROM m
    ),
    kept AS (SELECT * FROM scored
             WHERE quality_bp >= 5200 AND lang_pred IN ('en')),
    canon_ids AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
    canonical AS (SELECT k.* FROM kept k JOIN canon_ids USING (doc_id)),
    sh AS MATERIALIZED (SELECT doc_id AS id, {_SHINGLES} AS shingles
                        FROM canonical)"""

# Survivor rule shared by both curate oracles: recursive-CTE closure
# over the near-dup pair graph, drop every non-minimum member, return
# the canonical survivors' metadata columns. Each oracle defines
# ``pairs AS MATERIALIZED``, like the other closure oracles, so the
# pair stage runs once however often ``edges`` is read.
_CURATE_SURVIVOR_SQL = """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
    ),
    drops AS (SELECT src AS doc_id FROM reach
              GROUP BY src HAVING least(src, min(dst)) != src)
    SELECT doc_id, lang, lang_pred, quality_bp, n_tokens
    FROM canonical WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """


@register(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH RECURSIVE {_CURATE_CANONICAL_CTES},
    e AS (SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle
          FROM sh),
    c AS (SELECT a.id AS doc_a, b.id AS doc_b,
                 any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
                 count(*) AS n_common
          FROM e a JOIN e b USING (shingle)
          WHERE a.id < b.id GROUP BY a.id, b.id),
    pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM c
              WHERE round(CAST(n_common AS DOUBLE)
                          / (size_a + size_b - n_common), 4) >= {JACCARD_THRESHOLD}),
    {_CURATE_SURVIVOR_SQL}""",
)
def q_pipeline_curate(spark, sf_dir):
    """North-star composition — the full training-data curation chain
    (quality filter → language filter → exact dedup → near-dup
    removal) as ONE oracle-checked plan: the documents-table analog of
    the reference's flagship transactions pipeline (SURVEY §3 EP3).

    ``SPARK_GRAFT_PAIRS_TOP_K`` (r11; candidate-bounded since r12,
    unset by default) bounds the exact pair stage to the kNN subgraph
    — including candidate generation, so the quadratic pair mass of a
    replicated corpus is never enumerated (see
    plans/curate.py:curate_corpus); the LSH twin remains the
    production form."""
    from ..plans.curate import curate_corpus

    return curate_corpus(
        _t(spark, sf_dir, "documents"),
        pairs_top_k=pairs_top_k(),
    )




_BM25_QUERIES = [
    ("spark_join", ["spark", "join", "window"]),
    ("sort_merge", ["sort", "merge", "hash"]),
    ("stream_batch", ["stream", "batch", "filter"]),
]
_BM25_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
)


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    st AS (SELECT CAST(sum(dl) AS HUGEINT) AS s_tot,
                  CAST(count(*) AS HUGEINT) AS n_docs FROM dl),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    q(query_id, term) AS (VALUES {_BM25_VALUES}),
    per AS (
      SELECT q.query_id, tf.doc_id,
             CAST((CAST(1000000 AS HUGEINT)
                   * (2 * st.n_docs - 2 * df.df + 1)
                   * 22 * tf.tf * st.s_tot)
                  // ((2 * df.df + 1)
                      * (10 * tf.tf * st.s_tot + 3 * st.s_tot
                         + 9 * dl.dl * st.n_docs)) AS BIGINT) AS s
      FROM tf
      JOIN q ON q.term = tf.term
      JOIN df ON df.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN st
    ),
    sc AS (SELECT query_id, doc_id, sum(s) AS score_ppm
           FROM per GROUP BY 1, 2),
    r AS (
      SELECT query_id, doc_id, CAST(score_ppm AS BIGINT) AS score_ppm,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_ppm DESC, doc_id) AS INTEGER) AS rnk
      FROM sc
    )
    SELECT query_id, doc_id, score_ppm, rnk FROM r WHERE rnk <= {BM25_TOP_K}
    """,
)
def q_text_bm25_topk(spark, sf_dir):
    """BM25-style lexical retrieval top-10 per query (rational-idf
    surrogate, exact integer ppm — see operators/textual.py bm25_topk
    for the weighting derivation and the two-phase top-k scale
    shape). The retrieval pass of a RAG / curation pipeline; no
    reference analog (the script has no text search,
    trading212.py:1-143) — LLM-pipeline extension."""
    from ..operators.textual import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_QUERIES)


def _pq_oracle() -> str:
    """DuckDB twin of pq_assign over DATA-DERIVED codebooks: the
    codebook (subvectors of the first k_cb corpus vectors, the
    _data_centroids init) is rebuilt IN SQL, scores use the same
    expanded form, and err_q's chains replicate the kernel's
    dim-sequential left folds exactly — argmin is ulp-safe (distinct
    centroids sit O(1) apart; duplicate centroids tie exactly and
    both engines break ties to the lowest index), err doubles match
    bit-for-bit before the single 4-dp round."""
    from ..operators import similarity as sim

    m, k_cb, round_dp = sim.PQ_SUBSPACES, sim.PQ_CENTROIDS, sim.ROUND_DP
    dim = sim.DIM
    dsub = dim // m
    xs = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(dim)
    )
    branches = []
    for mi in range(m):
        idx = range(mi * dsub, (mi + 1) * dsub)
        xsq = " + ".join(f"p.x{i} * p.x{i}" for i in idx)
        dot = " + ".join(f"p.x{i} * cb.x{i}" for i in idx)
        l2 = " + ".join(f"cb.x{i} * cb.x{i}" for i in idx)
        branches.append(
            f"SELECT p.vec_id, {mi} AS m, cb.c,"
            f" (({l2}) - 2 * ({dot})) AS score,"
            f" ({xsq}) + (({l2}) - 2 * ({dot})) AS err"
            f" FROM p CROSS JOIN cbs cb"
        )
    s_sql = "\n      UNION ALL ".join(branches)
    err_chain = " + ".join(f"el[{i + 1}]" for i in range(m))
    return f"""
    WITH p AS (SELECT vec_id, {xs} FROM embeddings),
    cbs AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, {xs}
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k_cb})
    ),
    s AS (
      {s_sql}
    ),
    codes AS (
      SELECT vec_id, m, c, err FROM s
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY score ASC, c ASC) = 1
    ),
    g AS (
      SELECT vec_id,
             string_agg(CAST(c AS VARCHAR), '-' ORDER BY m) AS pq_code,
             list(err ORDER BY m) AS el
      FROM codes GROUP BY vec_id
    )
    SELECT vec_id, pq_code, round({err_chain}, {round_dp}) AS err_q
    FROM g
    """


@register("embedding_pq_assign", oracle=_pq_oracle())
def q_embedding_pq_assign(spark, sf_dir):
    """Product-quantization encoding (FAISS IVF-PQ's compression
    half): 8 subspaces x 16 data-derived centroids, 64 floats -> 8
    nibble codes + quantization error. Arrow matmul kernel, map-only
    (operators/similarity.py pq_assign for the 100 TB ADC scan design
    and why the pure-expression form was rejected). LLM-pipeline
    extension; no reference analog (trading212.py has no vector
    ops)."""
    from ..operators.similarity import pq_assign, pq_codebooks_from_data

    emb = _t(spark, sf_dir, "embeddings")
    return pq_assign(emb, pq_codebooks_from_data(emb))


def _pq_adc_oracle() -> str:
    """DuckDB twin of pq_adc_topk over the same SQL-derived data
    codebooks as _pq_oracle: partial-distance chains and the final
    8-lookup sum replicate the engine's fixed left-fold order — raw
    distances bit-identical, ranks tolerance-free."""
    from ..operators import similarity as sim

    m, k_cb, round_dp = sim.PQ_SUBSPACES, sim.PQ_CENTROIDS, sim.ROUND_DP
    k = sim.PQ_TOPK
    dim = sim.DIM
    dsub = dim // m
    xs = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(dim)
    )
    s_branches = []
    pd_branches = []
    for mi in range(m):
        idx = range(mi * dsub, (mi + 1) * dsub)
        dot = " + ".join(f"p.x{i} * cb.x{i}" for i in idx)
        l2 = " + ".join(f"cb.x{i} * cb.x{i}" for i in idx)
        s_branches.append(
            f"SELECT p.vec_id, {mi} AS m, cb.c,"
            f" (({l2}) - 2 * ({dot})) AS score"
            f" FROM p CROSS JOIN cbs cb"
        )
        chain = " + ".join(
            f"(q.x{i} - cb.x{i}) * (q.x{i} - cb.x{i})" for i in idx
        )
        pd_branches.append(
            f"SELECT q.query_id, {mi} AS m, cb.c, ({chain}) AS pdist"
            f" FROM q CROSS JOIN cbs cb"
        )
    s_sql = "\n      UNION ALL ".join(s_branches)
    pd_sql = "\n      UNION ALL ".join(pd_branches)
    joins = "\n      ".join(
        f"JOIN pd pd{mi} ON pd{mi}.query_id = qq.query_id"
        f" AND pd{mi}.m = {mi} AND pd{mi}.c = v.c{mi}"
        for mi in range(m)
    )
    code_cols = ", ".join(
        f"max(CASE WHEN m = {mi} THEN c END) AS c{mi}" for mi in range(m)
    )
    dist = " + ".join(f"pd{mi}.pdist" for mi in range(m))
    return f"""
    WITH p AS (SELECT vec_id, {xs} FROM embeddings),
    cbs AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, {xs}
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k_cb})
    ),
    s AS (
      {s_sql}
    ),
    cl AS (
      SELECT vec_id, m, c FROM s
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY score ASC, c ASC) = 1
    ),
    codes AS (
      SELECT vec_id AS corpus_id, {code_cols} FROM cl GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, {xs}
          FROM embeddings WHERE vec_id < 8),
    pd AS (
      {pd_sql}
    ),
    sel AS (
      SELECT qq.query_id, v.corpus_id, {dist} AS adc_raw
      FROM codes v
      CROSS JOIN (SELECT DISTINCT query_id FROM pd) qq
      {joins}
      WHERE v.corpus_id <> qq.query_id
    ),
    r AS (
      SELECT query_id, corpus_id, adc_raw,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_raw ASC, corpus_id ASC) AS rank
      FROM sel
    )
    SELECT query_id, corpus_id,
           round(adc_raw, {round_dp}) AS adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {k}
    """


@register("similarity_topk_pq_adc", oracle=_pq_adc_oracle())
def q_similarity_pq_adc(spark, sf_dir):
    """PQ + asymmetric-distance top-10 (FAISS IVF-PQ's search half,
    paired with embedding_pq_assign): per-query LUT of 8x16 partial
    distances to the data-derived codebook, corpus scanned as nibble
    codes only — query cost independent of embedding width; two-phase
    per-query top-k (see operators/similarity.py pq_adc_topk). Raw
    distances bit-identical to the oracle (fixed-order chains), rank
    tolerance-free. Recall vs exact L2 and the overfetch+re-rank
    ladder are pinned in tests/test_llm_ops.py."""
    from pyspark.sql import functions as F

    from ..operators.similarity import pq_adc_topk, pq_codebooks_from_data

    emb = _t(spark, sf_dir, "embeddings")
    cbs = pq_codebooks_from_data(emb)
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 8), cbs)


@register(
    "text_bpe_merges",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pr AS (
      SELECT doc_id,
             unnest([toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]
                     for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS pair
      FROM t
    ),
    c AS (SELECT pair, count(*) AS n_pair,
                 count(DISTINCT doc_id) AS n_docs
          FROM pr GROUP BY pair),
    r AS (SELECT pair, n_pair, n_docs,
                 row_number() OVER (ORDER BY n_pair DESC, pair ASC) AS merge_rank
          FROM c)
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank, pair, n_pair, n_docs
    FROM r WHERE merge_rank <= 20
    """,
)
def q_text_bpe_merges(spark, sf_dir):
    """One BPE merge round (the vocabulary-induction primitive behind
    BPE/WordPiece tokenizer training): count every ADJACENT token
    pair across the corpus and rank the top-20 merge candidates by
    frequency. Adjacent pairs come straight off the token array as a
    pure projection (``transform`` over index sequence — no
    self-join, no window, no position shuffle); one hash-aggregate on
    the pair string and a TakeOrderedAndProject top-k are the only
    exchanges, so a 100 TB corpus costs one map pass plus a
    vocabulary-sized shuffle. Iterating rounds (re-tokenize with the
    merged symbol, repeat) composes this entry with the
    materialization policy exactly like connected_components.
    LLM-pipeline extension; no reference analog."""
    from pyspark.sql import functions as F

    from ..operators.textual import tokens

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.explode(
            # CASE guard, not greatest(): Spark's sequence(1, 0) is the
            # DESCENDING [1, 0], not empty, so a 1-token document
            # would emit a phantom pair the DuckDB range()-based
            # oracle (empty for len < 2) never sees
            F.expr(
                "CASE WHEN size(__toks) < 2 THEN array()"
                " ELSE transform(sequence(1, size(__toks) - 1),"
                " i -> concat(__toks[i - 1], ' ', __toks[i])) END"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_pair"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    ranked = counts.orderBy(F.col("n_pair").desc(), F.col("pair").asc()).limit(20)
    # merge_rank via ordered_prefix, not Window.partitionBy(lit(1)):
    # the literal key is constant-folded away, resurrecting the
    # unpartitioned-WindowExec warning this repo bans. The frame is 20
    # post-limit rows, so the ordered_prefix shuffles are
    # metadata-sized.
    from ..partitioning import ordered_prefix

    return ordered_prefix(
        ranked,
        [F.col("n_pair").desc(), F.col("pair").asc()],
        rn_name="merge_rank",
    ).select(
        F.col("merge_rank").cast("int").alias("merge_rank"),
        "pair",
        "n_pair",
        "n_docs",
    )


@register(
    "sink_ivf_partitioned_ann",
    oracle=ORACLES["similarity_topk_ivf"],
)
def q_sink_ivf_partitioned_ann(spark, sf_dir):
    """The IVF storage layout made physical (the 100 TB design the
    similarity_topk_ivf docstring promises): the corpus is WRITTEN
    hive-partitioned by cell to Parquet, and each probe then reads only
    its ``n_probe`` cell partitions — the `cell IN (...)` predicate is
    a PARTITION FILTER, so the scan lists 3 of 8 directories and
    never opens the rest (plan-pinned in tests/test_plans.py). Same
    centroids, probes, and scoring as similarity_topk_ivf, hence the
    same oracle verbatim — what this entry adds is the layout: at
    100 TB the ANN index IS the directory structure, rebuilt by one
    partitioned write per centroid refresh.

    The write is the engine's one partitioned writer
    (sources/writers.py:write_parquet): one file per cell, and AQE
    splits a hot cell larger than ``advisoryPartitionSizeInBytes``
    across several writer tasks, so a natural-skew cell owning 25% of
    the corpus is never one straggler writer. Layout-only, so the
    oracle is untouched."""
    from pyspark.sql import functions as F

    from ..operators.similarity import (
        _assign_cells,
        _data_centroids,
        _probe_cells,
        _rank_probed,
    )
    from ..sources.writers import write_parquet

    emb = _t(spark, sf_dir, "embeddings")
    cents = _data_centroids(emb)
    assigned = _assign_cells(
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("c_emb"),
        ),
        "c_emb",
        cents,
    )
    path = _build_once(
        sf_dir,
        "ivf_cells",
        lambda tmp: write_parquet(assigned, tmp, partition_by=["cell"]),
    )
    probes = _probe_cells(emb.filter(F.col("vec_id") < 8), cents)
    return _rank_probed(spark.read.parquet(path), probes, "vec_id", 10)


_QBP_SQL = f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS} AS toks,
             regexp_extract_all(text, '{SYMBOL_RE}') AS syms
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             greatest(len(toks), 1) AS n_tok1,
             greatest(length(text), 1) AS n_chars1,
             len(list_filter(toks, t -> list_contains(
               ['the','a','and','of','to','in','is'], t))) AS n_stop,
             len(syms) AS n_sym,
             CASE WHEN toks IS NULL THEN NULL
                  ELSE CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                            AS BIGINT) END AS sum_len
      FROM t
    ),
    q AS (
      SELECT doc_id, source,
             CAST(
               (CASE WHEN sum_len >= 10 * n_tok1 THEN 1000 * 3
                     ELSE CAST(floor(300 * sum_len / n_tok1) AS BIGINT) END)
               + (CASE WHEN 4 * n_stop >= n_tok1 THEN 4000
                       ELSE CAST(floor(16000 * n_stop / n_tok1) AS BIGINT) END)
               + (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 2000 ELSE 0 END)
               + (1000 - CASE WHEN 10 * n_sym >= n_chars1 THEN 1000
                              ELSE CAST(floor(10000 * n_sym / n_chars1) AS BIGINT) END)
             AS BIGINT) AS quality_bp
      FROM m
    )
"""


@register(
    "sample_preference_pairs",
    oracle=_QBP_SQL + """
    , r AS (
      SELECT doc_id, source, quality_bp,
             row_number() OVER (PARTITION BY source
                 ORDER BY quality_bp DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM q
    )
    SELECT a.source,
           a.doc_id AS chosen_doc_id, b.doc_id AS rejected_doc_id,
           a.quality_bp AS chosen_bp, b.quality_bp AS rejected_bp,
           a.quality_bp - b.quality_bp AS margin_bp
    FROM r a JOIN r b
      ON a.source = b.source AND b.rn = a.rn + a.n // 2
    WHERE a.rn <= a.n // 2 AND a.quality_bp > b.quality_bp
    """,
)
def q_sample_preference_pairs(spark, sf_dir):
    """Preference-pair construction (DPO/RLHF data prep): within each
    source, rank documents by the exact-integer quality score and
    pair rank i (chosen) with rank i + n/2 (rejected) — top-half vs
    bottom-half, so every pair has a positive quality margin and each
    document appears in at most one pair (no near-tie adjacent
    pairing). Pairs with zero margin are dropped (a tie teaches a
    preference model nothing). One keyed window per source + a
    self-join on (source, rank) — both shuffles on the source key;
    rank determinism via the (quality_bp, doc_id) total order."""
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    from ..operators.textual import score_docs

    docs = _t(spark, sf_dir, "documents")
    # score a source-carrying projection instead of quality_score(...)
    # + a join back for the source column — one scan, no doc_id shuffle
    q = score_docs(docs, "doc_id", "source").select(
        "doc_id", "source", "quality_bp"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_bp").desc(), F.col("doc_id")
    )
    r = q.select(
        "doc_id",
        "source",
        "quality_bp",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    # pair-index groupBy, not a rank self-join (r14, guide §2.1/§2.3):
    # the former a/b self-join on (source, rn_b = rn + n DIV 2) made r
    # two plan consumers, so the tokenize + quality + double-window
    # chain executed once per side (the r14 plan scanned documents
    # twice). Rank rn pairs with rank rn + n/2,
    # so both members of a pair share the index pid = rn when chosen
    # (rn <= n/2), rn - n/2 when rejected — each rank maps to at most
    # one pid per role, so a (source, pid) group holds at most one
    # chosen and one rejected row, and the max-of-conditional-struct
    # aggregate reassembles exactly the join's rows. The odd leftover
    # rank (rn = n, n odd) lands on a pid with no chosen partner and is
    # dropped by the null filter, matching the inner join. One chain,
    # one extra small-row exchange, no join.
    half = F.expr("n DIV 2")
    chosen = F.col("rn") <= half
    g = (
        r.withColumn(
            "__pid", F.when(chosen, F.col("rn")).otherwise(F.col("rn") - half)
        )
        .groupBy("source", "__pid")
        .agg(
            F.max(
                F.when(chosen, F.struct("quality_bp", "doc_id"))
            ).alias("__c"),
            F.max(
                F.when(~chosen, F.struct("quality_bp", "doc_id"))
            ).alias("__r"),
        )
    )
    return (
        g.where(F.col("__c").isNotNull() & F.col("__r").isNotNull())
        .where(F.col("__c.quality_bp") > F.col("__r.quality_bp"))
        .select(
            "source",
            F.col("__c.doc_id").alias("chosen_doc_id"),
            F.col("__r.doc_id").alias("rejected_doc_id"),
            F.col("__c.quality_bp").alias("chosen_bp"),
            F.col("__r.quality_bp").alias("rejected_bp"),
            (
                F.col("__c.quality_bp") - F.col("__r.quality_bp")
            ).alias("margin_bp"),
        )
    )


def _wordpiece_oracle() -> str:
    """DuckDB twin of wordpiece_encode_stats: the greedy longest-prefix
    loop as a recursive CTE — each step consumes the longest vocab
    piece matching the remaining suffix (single-char fallback counts
    UNK), exactly the kernel's loop."""
    from ..operators.textual import SEGMENT_VOCAB

    vlits = ", ".join(f"('{v}', {len(v)})" for v in SEGMENT_VOCAB)
    return f"""
    WITH RECURSIVE v(piece, plen) AS (VALUES {vlits}),
    tok AS (
      SELECT doc_id, u.w AS word, u.i AS widx FROM (
        SELECT doc_id,
               unnest({_TOKS}) AS w,
               unnest(range(1, len({_TOKS}) + 1)) AS i
        FROM documents
      ) u(doc_id, w, i)
    ),
    seg AS (
      SELECT doc_id, widx, word AS suffix, 0 AS n_pieces, 0 AS n_unk
      FROM tok
      UNION ALL
      SELECT s.doc_id, s.widx,
             substr(s.suffix, coalesce(best.plen, 1) + 1),
             s.n_pieces + 1,
             s.n_unk + (CASE WHEN best.plen IS NULL THEN 1 ELSE 0 END)
      FROM seg s LEFT JOIN LATERAL (
        SELECT max(plen) AS plen FROM v
        WHERE substr(s.suffix, 1, v.plen) = v.piece
      ) best ON TRUE
      WHERE s.suffix <> ''
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(n_unk) AS BIGINT) AS n_unk
    FROM seg WHERE suffix = ''
    GROUP BY doc_id
    """


@register("text_wordpiece_encode", oracle=_wordpiece_oracle())
def q_text_wordpiece_encode(spark, sf_dir):
    """Tokenizer application at corpus scale: greedy longest-prefix
    segmentation of every word against a broadcast vocabulary (the
    WordPiece/unigram-greedy inference loop), per-document piece and
    UNK counts. Arrow-batched pandas UDF kernel — string chomping is
    unbounded-depth and not Catalyst-expressible — fed by the
    JVM-side tokenizer, one map pass, no shuffle; the oracle replays
    the identical loop as a recursive CTE
    (operators/textual.py wordpiece_encode_stats)."""
    from ..operators.textual import wordpiece_encode_stats

    return wordpiece_encode_stats(_t(spark, sf_dir, "documents"))


@register(
    "text_bigram_coherence",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pr AS (
      SELECT doc_id,
             unnest([toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]
                     for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS pair
      FROM t
    ),
    pf AS (SELECT doc_id, pair, count(*) AS pf FROM pr GROUP BY 1, 2),
    cv AS (SELECT pair, CAST(sum(pf) AS BIGINT) AS cpf FROM pf GROUP BY pair),
    tot AS (SELECT CAST(sum(cpf) AS BIGINT) AS total_pairs FROM cv),
    sc AS (
      SELECT pf.doc_id, pf.pf,
             CAST(floor(cv.cpf * 1000000000 / tot.total_pairs) AS BIGINT)
               AS p_ppb
      FROM pf JOIN cv USING (pair) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(sum(pf) AS BIGINT) AS n_pairs,
           CAST(sum(pf * p_ppb) // sum(pf) AS BIGINT)
             AS avg_pair_freq_ppb
    FROM sc GROUP BY doc_id
    """,
)
def q_text_bigram_coherence(spark, sf_dir):
    """Bigram-coherence quality signal — the pair-level companion to
    text_unigram_lm_score: a document whose ADJACENT WORD PAIRS are
    corpus-common reads as fluent, while shuffled or boilerplate-
    spliced text scores low even when its individual words are common
    (word-order sensitivity the unigram signal cannot have). Same
    exact-integer surrogate policy (pair probability in floor-ppb,
    weighted integer mean via DIV — no ln, no float summation) and
    the same scale shape: explode adjacent pairs (the text_bpe_merges
    extraction, sub-2-token guard included), map-side-combined
    groupBy(doc, pair), vocabulary-sized pair-count aggregate
    broadcast back, one groupBy(doc) for the score."""
    from pyspark.sql import functions as F

    from ..operators.textual import tokens
    from ..partitioning import freeze_partitions

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", tokens("text").alias("__toks")).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) < 2 THEN array()"
                " ELSE transform(sequence(1, size(__toks) - 1),"
                " i -> concat(__toks[i - 1], ' ', __toks[i])) END"
            )
        ).alias("pair"),
    )
    # pinned: pf feeds the pair vocabulary AND the scoring join
    pf = freeze_partitions(
        pairs.groupBy("doc_id", "pair").agg(F.count("*").alias("pf"))
    )
    cv = pf.groupBy("pair").agg(F.sum("pf").alias("cpf"))
    # Σ cpf == Σ pf: summing the cached pf frame directly is a
    # partial-agg scan with no pair-keyed exchange — the prior
    # cv.agg re-executed the vocabulary shuffle a second time just
    # to total it (r14 plan audit).
    tot = pf.agg(F.sum("pf").alias("total_pairs"))
    # NO broadcast hint on the pair vocabulary: unlike the unigram
    # term vocab, bigram vocabularies grow toward quadratic in the
    # term count — AQE broadcasts when it fits and degrades to a
    # shuffle join when it doesn't (the pagerank rationale)
    sc = pf.join(cv, "pair").crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "pf",
        F.floor(
            F.col("cpf") * F.lit(1_000_000_000) / F.col("total_pairs")
        ).alias("p_ppb"),
    )
    return sc.groupBy("doc_id").agg(
        F.sum("pf").alias("n_pairs"),
        F.expr("CAST(sum(pf * p_ppb) DIV sum(pf) AS BIGINT)").alias(
            "avg_pair_freq_ppb"
        ),
    )


def _knn_outlier_oracle() -> str:
    """DuckDB twin of knn_outlier_scores: the reference block rebuilt
    in SQL (first n_refs by vec_id), every distance the same
    fixed-order chain, k-th pick via (distance, ref rank) ordering —
    bit-identical doubles, tie handling included."""
    from ..operators import similarity as sim

    n_refs, k, round_dp = sim.KNN_REFS, sim.KNN_K, sim.ROUND_DP
    dim = sim.DIM
    xs = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(dim)
    )
    chain = " + ".join(
        f"(p.x{i} - r.x{i}) * (p.x{i} - r.x{i})" for i in range(dim)
    )
    return f"""
    WITH p AS (SELECT vec_id, {xs} FROM embeddings),
    r AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS rn, {xs}
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_refs})
    ),
    d AS (
      SELECT p.vec_id, r.rn, ({chain}) AS dist
      FROM p CROSS JOIN r
    ),
    pick AS (
      SELECT vec_id, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, rn ASC) AS o
      FROM d
    )
    SELECT vec_id, round(dist, {round_dp}) AS knn_dist
    FROM pick WHERE o = {k}
    """


@register("embedding_knn_outlier", oracle=_knn_outlier_oracle())
def q_embedding_knn_outlier(spark, sf_dir):
    """kNN-distance outlier scores over the embedding corpus (distance
    to the 4th-nearest of 32 reference vectors) — the
    out-of-distribution screen run before ANN indexing or clustering.
    Map-only Arrow kernel with dim-sequential exact distance chains
    (operators/similarity.py knn_outlier_scores); the oracle rebuilds
    the reference block in SQL and replays the identical chains, so
    distances AND the k-th selection (ties included) are
    engine-identical with no tolerance."""
    from ..operators.similarity import knn_outlier_scores

    return knn_outlier_scores(_t(spark, sf_dir, "embeddings"))


@register(
    "dedup_rate_by_source",
    oracle="""
    WITH g AS (
      SELECT source, sha256(text) AS h, doc_id FROM documents
    ),
    c AS (SELECT h, count(*) AS n_copies FROM g GROUP BY h)
    SELECT g.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_dup_groups,
           CAST(sum(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_ppm
    FROM g JOIN c USING (h)
    GROUP BY g.source
    """,
)
def q_dedup_rate_by_source(spark, sf_dir):
    """Duplication-rate provenance report: per source, the share of
    documents whose exact content (sha256) appears more than once in
    the WHOLE corpus — the per-provider contamination scorecard a
    curation pipeline uses to down-weight scrapers that mirror each
    other. Digest group sizes aggregate once (64-byte keys, the
    dedup_exact shuffle), then join back onto the digest frame — the
    corpus text itself never shuffles. Exact integer ppm."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    g = docs.select("source", F.sha2("text", 256).alias("h"))
    c = g.groupBy("h").agg(F.count(F.lit(1)).alias("n_copies"))
    j = g.join(c, "h").select(
        "source", (F.col("n_copies") > 1).cast("long").alias("dup")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dup").cast("bigint").alias("n_in_dup_groups"),
        F.expr("CAST(sum(dup) * 1000000 DIV count(*) AS BIGINT)").alias(
            "dup_ppm"
        ),
    )


@register(
    "sample_curriculum_order",
    oracle=_QBP_SQL + """
    SELECT doc_id, quality_bp,
           CAST(row_number() OVER (ORDER BY quality_bp DESC, doc_id)
                AS BIGINT) AS curriculum_rank
    FROM q
    """,
)
def q_sample_curriculum_order(spark, sf_dir):
    """Curriculum ordering: a GLOBAL training-order rank over the
    corpus — highest-quality documents first (quality-descending,
    doc_id tiebreak), the sequencing a curriculum-learning data
    loader consumes. The global row_number rides ``ordered_prefix``
    (buckets of the quality score, per-bucket ranks, offset cascade)
    so no single-partition WindowExec exists at any corpus size — the
    same rewrite as the rfm/pareto entries, here over the quality
    score."""
    from pyspark.sql import functions as F

    from ..operators.textual import score_docs
    from ..partitioning import freeze_when_heavy, ordered_prefix

    docs = _t(spark, sf_dir, "documents")
    # ordered_prefix reads its input twice (the key's min/max, then the
    # bucket exchange), and each read re-runs the tokenize+quality
    # chain. Caching the 2-column score frame halved the entry at 125×
    # against the same two reads by a range partitioner (90.4 → 48.3 s,
    # isolated min-of-2); the freeze_when_heavy threshold skips the
    # pin at bench SF.
    q = freeze_when_heavy(score_docs(docs, "doc_id").select("doc_id", "quality_bp"))
    ranked = ordered_prefix(
        q,
        [F.col("quality_bp").desc(), F.col("doc_id")],
        rn_name="curriculum_rank",
    )
    return ranked.select(
        "doc_id",
        "quality_bp",
        F.col("curriculum_rank").cast("bigint").alias("curriculum_rank"),
    )


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.w AS w, u.i AS i,
             list_contains(['the','a','and','of','to','in','is'], u.w)
               OR NOT regexp_matches(u.w, '^[a-z0-9]') AS is_stop
      FROM (
        SELECT doc_id, unnest(toks) AS w,
               unnest(range(1, len(toks) + 1)) AS i
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
      ) u(doc_id, w, i)
    ),
    runs AS (
      SELECT doc_id, w, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
               AS run_id
      FROM tok WHERE NOT is_stop
    ),
    phrases AS (
      SELECT doc_id, run_id,
             string_agg(w, ' ' ORDER BY i) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM runs GROUP BY doc_id, run_id
    ),
    words AS (
      SELECT r.w, p.plen
      FROM runs r JOIN phrases p USING (doc_id, run_id)
    ),
    wscore AS (
      SELECT w, CAST(sum(plen) * 1000 // count(*) AS BIGINT) AS s_milli
      FROM words GROUP BY w
    ),
    pscore AS (
      SELECT p.doc_id, p.phrase,
             CAST(sum(ws.s_milli) AS BIGINT) AS score_milli
      FROM phrases p
      JOIN runs r USING (doc_id, run_id)
      JOIN wscore ws ON ws.w = r.w
      GROUP BY p.doc_id, p.run_id, p.phrase
    ),
    ranked AS (
      SELECT doc_id, phrase, score_milli,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_milli DESC, phrase ASC) AS rnk
      FROM (SELECT DISTINCT doc_id, phrase, score_milli FROM pscore)
    )
    SELECT doc_id, phrase, score_milli, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def q_text_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al.'s Rapid Automatic
    Keyword Extraction): candidate phrases are maximal stopword-free
    token runs (gaps-and-islands over token positions), each word
    scores degree/frequency — co-occurrence-weighted rarity — as the
    exact integer surrogate ``floor(1000·Σ plen / freq)``, and a
    phrase scores the sum of its members' scores (with multiplicity).
    Top-3 phrases per document, duplicate phrase strings deduped
    before ranking so ties are well-defined. Shuffles: one doc-keyed
    islands window, a vocabulary-sized word-score aggregate joined
    back (no broadcast hint — word vocab scales with the corpus), and
    the per-doc top-k window. All scoring integer-exact.

    r14 shape (guide §2.1/§2.3/§2.4): ``plen`` attaches to every
    token row as a COUNT WINDOW over (doc_id, run_id) — its
    ClusteredDistribution is satisfied by the islands window's
    existing hash(doc_id) partitioning (subset rule), so it costs a
    local sort and NO new exchange — which deletes the r13 shape's
    ``words = runs ⋈ phrases`` token-level join-back outright. The
    phrase string is still built ONCE per run by the (doc, run)
    aggregate (an r14 A/B of the tempting alternative — a full-frame
    ``collect_list`` window projecting the phrase onto every token
    row — measured 1.12× SLOWER at 125×: the projection is O(run²)
    per run and the pinned frame widens by a phrase string per
    token), and now joins a RUN-LEVEL score frame instead of the
    token-level one, so phrase strings never cross the w-exchange
    (guide §2.3: shuffle fewer bytes). Proven hash-identical against
    the oracle at sf0.01 and sf0.1; A/B walls in BENCH_SCALING.json
    rake_lift_one_pass_r14."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.textual import STOPWORDS, tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("i"),
        "w",
        (
            F.col("w").isin(*STOPWORDS["en"])
            | ~F.col("w").rlike("^[a-z0-9]")
        ).alias("is_stop"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    wrun = Window.partitionBy("doc_id", "run_id")
    runs = (
        tok.where(~F.col("is_stop"))
        .withColumn("run_id", F.col("i") - F.row_number().over(wdoc))
        .select("doc_id", "run_id", "i", "w")
        .withColumn("plen", F.count(F.lit(1)).over(wrun))
    )
    from ..partitioning import freeze_partitions

    # pinned: the token-level frame feeds the word-degree aggregate,
    # the phrase aggregate, and the score join
    runs = freeze_partitions(runs)
    wscore = runs.groupBy("w").agg(
        F.expr("CAST(sum(plen) * 1000 DIV count(*) AS BIGINT)").alias(
            "s_milli"
        )
    )
    phrases = runs.groupBy("doc_id", "run_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase")
    )
    tokscore = (
        runs.join(wscore, "w")
        .groupBy("doc_id", "run_id")
        .agg(F.sum("s_milli").cast("bigint").alias("score_milli"))
    )
    pscore = phrases.join(tokscore, ["doc_id", "run_id"]).select(
        "doc_id", "run_id", "phrase", "score_milli"
    )
    distinct_p = pscore.select("doc_id", "phrase", "score_milli").distinct()
    wrank = Window.partitionBy("doc_id").orderBy(
        F.col("score_milli").desc(), F.col("phrase").asc()
    )
    return (
        distinct_p.withColumn("rnk", F.row_number().over(wrank))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "phrase", "score_milli", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# r7 additions: span-level dedup, DSIR data selection, hard-negative
# mining, matryoshka truncation eval — each displaces one r7 driver
# re-sample slot (registry/__init__ growth rule)
# ---------------------------------------------------------------------------

@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toksrc AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(
               toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + {SPAN_WINDOW - 1}], ' ') AS s
      FROM toksrc, unnest(range(1, greatest(len(toks) - {SPAN_WINDOW - 1}, 0) + 1)) u(i)
    ),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS grp
      FROM m
    ),
    runs AS (
      SELECT doc_a, doc_b, count(*) + {SPAN_WINDOW - 1} AS span_tokens
      FROM isl GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b,
           max(span_tokens) AS max_span_tokens,
           CAST(sum(CASE WHEN span_tokens >= {SPAN_MIN_TOKENS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spans
    FROM runs GROUP BY doc_a, doc_b
    HAVING max(span_tokens) >= {SPAN_MIN_TOKENS}
    """,
)
def q_dedup_substring_spans(spark, sf_dir):
    """Span-level dedup (Lee et al. 2022 exact-substring semantics,
    re-expressed relationally): maximal shared token spans >= 10
    tokens between document pairs, via positional 5-gram windows ->
    hash equi-join -> diagonal islands (operators/dedup.py:
    substring_span_pairs has the full 100 TB plan analysis). Catches
    boilerplate/quoted spans whole-document Jaccard under-weights.
    LLM-pipeline extension; no reference analog."""
    from ..operators.dedup import substring_span_pairs

    docs = _t(spark, sf_dir, "documents")
    return substring_span_pairs(docs)


@register(
    "sample_importance_dsir",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents
    ),
    bt AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(w), 1, 6)) AS BIGINT) % {DSIR_BUCKETS} AS b
      FROM tok
    ),
    raw AS (SELECT b, count(*) AS r_cnt FROM bt GROUP BY b),
    tgt AS (SELECT b, count(*) AS t_cnt FROM bt
            WHERE source = 'src0' GROUP BY b),
    wj AS (
      SELECT raw.b, r_cnt, coalesce(t_cnt, 0) AS t_cnt
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b
    ),
    w AS (
      SELECT b,
             CAST(round((ln((t_cnt + 1) / (sum(t_cnt) OVER () + {DSIR_BUCKETS}.0))
                       - ln((r_cnt + 1) / (sum(r_cnt) OVER () + {DSIR_BUCKETS}.0)))
                        * 1000) AS BIGINT) AS lw_milli
      FROM wj
    ),
    dc AS (
      SELECT doc_id, source, b, count(*) AS cnt
      FROM bt GROUP BY doc_id, source, b
    ),
    score AS (
      SELECT doc_id, source,
             CAST(sum(cnt * lw_milli) AS BIGINT) AS weight_milli
      FROM dc JOIN w USING (b) GROUP BY doc_id, source
    )
    SELECT doc_id, source, weight_milli FROM score
    ORDER BY weight_milli DESC, doc_id LIMIT 100
    """,
)
def q_sample_importance_dsir(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by its hashed-unigram log-likelihood ratio against a
    target domain (source 'src0' as the in-domain proxy) and keep the
    top-100. The hashed feature space (512 md5 buckets — the
    cross-engine hash, registry/governance.py idiom) bounds state at
    O(B) regardless of vocabulary: bucket stats are two
    map-combinable aggregates, the per-bucket log-ratio is quantized
    to milli-nats ONCE per bucket (512 rounds total — the drift-TV
    integer idiom, so doc scores are integer-exact sums), bucket
    totals ride a scalar_bucket window over the bounded 512-row
    frame, and the 512-row weight table broadcasts into the per-doc
    rollup. Final selection is TakeOrderedAndProject. At 100 TB: two
    token-explode aggregates + one broadcast join — no all-pairs, no
    driver state. LLM-pipeline extension; no reference analog."""
    from pyspark.sql import functions as F

    from ..operators.sampling import dsir_importance_weights

    docs = _t(spark, sf_dir, "documents")
    score = dsir_importance_weights(docs, F.col("source") == "src0")
    return (
        score.orderBy(F.col("weight_milli").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "source", "weight_milli")
    )


@register(
    "similarity_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id,
                      CAST(embedding AS DOUBLE[]) AS q_emb,
                      label AS q_label
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS corpus_id,
                 CAST(embedding AS DOUBLE[]) AS c_emb,
                 label AS c_label
          FROM embeddings),
    s AS (SELECT query_id, corpus_id,
                 round(list_cosine_similarity(q_emb, c_emb), {ROUND_DP}) AS cos_sim
          FROM q, c WHERE c_label <> q_label)
    SELECT query_id, corpus_id, cos_sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, corpus_id) AS rn
          FROM s)
    WHERE rn <= 5
    """,
)
def q_similarity_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive embedding training: for
    each anchor (query) vector, the top-5 most-similar corpus vectors
    with a DIFFERENT label — the highest-loss negatives a contrastive
    batch sampler wants. Same plan class as
    similarity_topk_bruteforce (broadcast queries x one corpus scan,
    label predicate fused into the scan, rank-limited per-query
    top-k); production scale swaps the scan for the IVF/LSH-bucketed
    candidate path exactly as the topk family documents.
    LLM-pipeline extension; no reference analog."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.similarity import cosine
    from ..partitioning import fan_out

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    c = fan_out(emb).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
        F.col("label").alias("c_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("c_label") != F.col("q_label"))
        .select(
            "query_id",
            "corpus_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), ROUND_DP).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "corpus_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "similarity_matryoshka_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < 32),
    fs AS (SELECT query_id, vec_id AS corpus_id,
                  round(list_cosine_similarity(q_emb, emb), {ROUND_DP}) AS cs
           FROM q JOIN v ON vec_id <> query_id),
    fr AS (SELECT query_id, corpus_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cs DESC, corpus_id) AS rn FROM fs)
           WHERE rn <= 10),
    ps AS (SELECT query_id, vec_id AS corpus_id,
                  round(list_cosine_similarity(q_emb[1:16], emb[1:16]), {ROUND_DP}) AS cs
           FROM q JOIN v ON vec_id <> query_id),
    pr AS (SELECT query_id, corpus_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cs DESC, corpus_id) AS rn FROM ps)
           WHERE rn <= 10)
    SELECT f.query_id,
           CAST(count(p.corpus_id) AS BIGINT) AS n_overlap,
           CAST(count(p.corpus_id) * 1000000 // 10 AS BIGINT) AS recall_ppm
    FROM fr f LEFT JOIN pr p
      ON f.query_id = p.query_id AND f.corpus_id = p.corpus_id
    GROUP BY f.query_id
    """,
)
def q_similarity_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation evaluation (Kusupati et al. 2022, MRL):
    per query, recall@10 of the 16-dim PREFIX ranking against the
    full 64-dim ranking — the measurement that decides whether a
    store can serve truncated embeddings (4x cheaper ANN scans and
    shuffles) without re-embedding. Both rankings share one broadcast
    query set and one corpus scan each; overlap is a rank-frame join
    on (query, corpus), all counts integer. The 4dp score rounding +
    corpus_id tiebreak makes both engines' rankings bit-identical
    (the similarity-family convention). LLM-pipeline extension; no
    reference analog."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.similarity import cosine
    from ..partitioning import fan_out

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    c = fan_out(emb).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    )
    # ONE cross-join pass scores BOTH resolutions (r14, guide §2.1/§3):
    # the former per-resolution topk ran the N x |q| cross join (and the
    # 64-dim cosine kernel) TWICE and met again in a SortMergeJoin on
    # (query_id, corpus_id) — the r14 plan held 4 embeddings scans
    # and 2 BroadcastNestedLoopJoins. Both
    # rank windows share the query_id partition, so one exchange carries
    # them; a pair is in the prefix top-10 iff rn_p <= 10, so the rank
    # predicate replaces the join (LEFT-join-count ≡ count of fr rows
    # whose (query_id, corpus_id) also satisfies rn_p <= 10 — same pair
    # universe, so membership is exactly the rank bound; DuckDB-oracle
    # hash-identical at sf0.01 + sf0.1).
    scored = c.crossJoin(F.broadcast(q)).where(
        F.col("corpus_id") != F.col("query_id")
    ).select(
        "query_id",
        "corpus_id",
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), ROUND_DP).alias("cs_f"),
        F.round(
            cosine(
                F.slice(F.col("q_emb"), 1, 16),
                F.slice(F.col("c_emb"), 1, 16),
            ),
            ROUND_DP,
        ).alias("cs_p"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cs_f").desc(), F.col("corpus_id").asc()
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cs_p").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rn_p", F.row_number().over(wp))
        .withColumn("rn_f", F.row_number().over(wf))
        .where(F.col("rn_f") <= 10)
        .groupBy("query_id")
        .agg(
            F.count(F.when(F.col("rn_p") <= 10, 1)).alias("n_overlap"),
            F.expr(
                "CAST(count(CASE WHEN rn_p <= 10 THEN 1 END)"
                " * 1000000 DIV 10 AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


_DNIB = "strpos('0123456789abcdef', substr(h, (i % 16) * 2 + {o}, 1)) - 1"


@register(
    "multimodal_perceptual_dhash",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id AS out_id, doc_id AS src, 1 AS sc FROM documents
      UNION ALL
      SELECT doc_id + {TWIN_OFFSET}, doc_id, 2 FROM documents WHERE doc_id % {TWIN_MOD} = 0
    ),
    dims AS (
      SELECT out_id, src, sc,
             16 + src % 16 AS sw, 12 + (src * 7) % 12 AS sh
      FROM corpus
    ),
    grid AS (
      SELECT out_id, src, sw,
             ty.y AS y, tx.x AS x,
             (((ty.y * (sc * sh)) // 8) // sc) * sw
               + (((tx.x * (sc * sw)) // 9) // sc) AS i
      FROM dims CROSS JOIN range(0, 9) tx(x) CROSS JOIN range(0, 8) ty(y)
    ),
    hx AS (
      SELECT out_id, y, x, i,
             md5(concat(CAST(src AS VARCHAR), ':',
                        CAST(i // 16 AS VARCHAR))) AS h
      FROM grid
    ),
    v AS (
      SELECT out_id, y, x,
             ({_DNIB.format(o=1)}) * 16 + ({_DNIB.format(o=2)}) AS val
      FROM hx
    ),
    bits AS (
      SELECT out_id, y, x,
             CASE WHEN lead(val) OVER (PARTITION BY out_id, y ORDER BY x)
                       > val THEN 1 ELSE 0 END AS bit
      FROM v
    ),
    hashes AS (
      SELECT out_id,
             CAST(sum(CASE WHEN y < 4 AND x < 8 AND bit = 1
                  THEN CAST(1 AS BIGINT) << (y * 8 + x) ELSE 0 END)
                  AS BIGINT) AS dhash_hi,
             CAST(sum(CASE WHEN y >= 4 AND x < 8 AND bit = 1
                  THEN CAST(1 AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END)
                  AS BIGINT) AS dhash_lo
      FROM bits GROUP BY out_id
    )
    SELECT out_id AS doc_id, dhash_hi, dhash_lo,
           CAST(count(*) OVER (PARTITION BY dhash_hi, dhash_lo)
                AS INTEGER) AS class_size,
           CAST(min(out_id) OVER (PARTITION BY dhash_hi, dhash_lo)
                AS BIGINT) AS canonical_id,
           CAST(CASE WHEN count(*) OVER (PARTITION BY dhash_hi, dhash_lo)
                > 1 THEN 1 ELSE 0 END AS INTEGER) AS is_dup
    FROM hashes
    """,
)
def q_multimodal_perceptual_dhash(spark, sf_dir):
    """Perceptual image dedup (r7) — the image analogue of
    dedup_exact/dedup_minhash_lsh, closing the modality gap in the
    dedup battery (the reference's A1 distinct, trading212.py:104, is
    byte-exact only). Corpus = every document's synthetic BMP plus,
    for doc_id % 9 == 0, a 2x NN-upscaled TWIN (byte-different
    payload, different header dims — sha256 exact dedup cannot pair
    it). The dHash gradient bits are computed from the REAL decoded
    pixels (operators/multimodal.py:perceptual_dhash); NN index
    composition (floor(floor(y*2h/8)/2) == floor(y*h/8)) makes each
    twin collide with its base, so class_size == 2 rows are exactly
    the planted pairs. The oracle regenerates both sides' sampled
    pixels from the md5 keystream and replays the bit packing, so the
    decode + resample + hash chain is cross-engine verified bit-for-
    bit. At 100 TB the groupBy shuffles (doc_id, 2 ints) per image —
    never pixels; hamming-ball near-collisions would ride the simhash
    band machinery (operators/dedup.py) unchanged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.multimodal import perceptual_dhash, synth_bmp_twin_corpus

    docs = _t(spark, sf_dir, "documents")
    hashes = perceptual_dhash(synth_bmp_twin_corpus(docs))
    cls = Window.partitionBy("dhash_hi", "dhash_lo")
    return hashes.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.count(F.lit(1)).over(cls).cast("int").alias("class_size"),
        F.min("doc_id").over(cls).alias("canonical_id"),
        (F.count(F.lit(1)).over(cls) > 1).cast("int").alias("is_dup"),
    )


@register(
    "dedup_decontaminate_bloom",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM t WHERE id % 101 = 0),
    e AS (SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle
          FROM t WHERE id % 101 <> 0),
    hits AS (
      SELECT id AS doc_id, any_value(set_size) AS set_size,
             CAST(count(*) AS BIGINT) AS n_hits
      FROM e JOIN bench USING (shingle)
      GROUP BY id
    )
    SELECT doc_id, set_size, n_hits,
           CAST(floor(n_hits * 10000.0 / set_size) AS BIGINT) AS contam_bp
    FROM hits
    """,
)
def q_dedup_decontaminate_bloom(spark, sf_dir):
    """Cross-snapshot decontamination with a Bloom pre-filter
    (operators/dedup.py:decontaminate_bloom): the exact membership
    probe of dedup_decontaminate, but the reference shingle set is
    summarized into a 32 KiB broadcast Bloom filter (m=2^18 bits, k=3
    seeded xxhash64 positions, built with one bit_or hash-aggregate)
    and the corpus is pruned scan-side with three broadcast word-index
    joins BEFORE the true membership join — the design that survives a
    reference set (yesterday's 100 TB snapshot) too large to
    broadcast. Bloom false positives die in the exact-confirm join and
    false negatives are impossible, so the result is bit-identical to
    the plain exact pass — which is why the oracle is the plain exact
    SQL. The pre-filter's actual pruning is asserted by
    tests/test_llm_ops.py (maybe-rows << probe-rows on a disjoint
    split). Deterministic stand-in reference: docs with
    doc_id % 101 == 0."""
    from pyspark.sql import functions as F

    from ..operators.dedup import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 101 != 0)
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    return decontaminate_bloom(corpus, bench).withColumn(
        "set_size", F.col("set_size").cast("long")
    )


def _incremental_md5_oracle() -> str:
    """Bipartite (new-batch x snapshot) MinHash LSH in DuckDB SQL,
    hash-exact against the engine's ``hash_fn="md5"`` mode — the same
    seeded-md5 signature construction as ``_minhash_md5_oracle``, but
    the band join crosses the snapshot/new split and the score is the
    signature-match ESTIMATOR (n_match / K, a dyadic rational at
    K=32 — exact in binary on both engines, no rounding), because the
    incremental path never materializes old shingle sets."""
    from ..operators.dedup import NUM_HASHES, _min_match

    matches = "\n           + ".join(
        f"CAST(a.h{k} = b.h{k} AS INTEGER)" for k in range(NUM_HASHES)
    )
    return f"""
    WITH t AS (
      SELECT doc_id AS id, {_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    e AS (SELECT id, unnest(shingles) AS s FROM t),
    sig AS MATERIALIZED (
      SELECT id, {_md5_mins_sql()}
      FROM e GROUP BY id
    ),
    osig AS (SELECT * FROM sig WHERE id % 10 <> 0),
    nsig AS (SELECT * FROM sig WHERE id % 10 = 0),
    ob AS (
    {_md5_bands_sql('osig')}
    ),
    nb AS (
    {_md5_bands_sql('nsig')}
    ),
    cand AS (
      SELECT DISTINCT n.id AS doc_new, o.id AS doc_old
      FROM nb n JOIN ob o USING (band_idx, band_hash)
    ),
    m AS (
      SELECT c.doc_new, c.doc_old,
             CAST({matches} AS BIGINT) AS n_match
      FROM cand c
      JOIN sig a ON a.id = c.doc_new
      JOIN sig b ON b.id = c.doc_old
    )
    SELECT doc_new, doc_old, n_match,
           n_match / {NUM_HASHES}.0 AS est_jaccard
    FROM m WHERE n_match >= {_min_match()}
    """


@register(
    "dedup_incremental_snapshot", oracle=_incremental_md5_oracle()
)
def q_dedup_incremental_snapshot(spark, sf_dir):
    """Incremental near-dup detection against a PERSISTED snapshot
    signature sink — the daily-ingest form of dedup_minhash_lsh
    (operators/dedup.py:write_signature_sink /
    incremental_minhash_pairs). The snapshot (docs with
    doc_id % 10 != 0) is MinHash-signed ONCE and written as two
    Parquet tables (signatures; bands partitioned by band_idx); the
    ingest batch (doc_id % 10 == 0) signs only itself, joins its band
    table against the persisted bands for candidates, and scores each
    candidate with the signature-match estimator n_match/32 read from
    the persisted signatures — the snapshot TEXT is never re-read. At
    100 TB this turns per-batch dedup cost from O(corpus) to
    O(batch + matches): the sink is the index. md5 hash mode, so the
    ENTIRE pipeline — signatures, banding, candidates, estimator — is
    replicated in the DuckDB oracle; the estimator-vs-exact
    calibration carries an invariant test in tests/test_llm_ops.py.
    The sink is built once per sf_dir
    (registry/_core._build_once), like sink_ivf_partitioned_ann's
    cells."""
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        BANDS,
        NUM_HASHES,
        incremental_minhash_pairs,
        write_signature_sink,
    )

    docs = _t(spark, sf_dir, "documents")
    # the format tag (K/bands/hash family, bump on any signature-
    # construction change) keys the cache: a stale sink from an older
    # construction can never satisfy a newer entry's read
    path = _build_once(
        sf_dir,
        f"minhash_sink_md5_k{NUM_HASHES}b{BANDS}v1",
        lambda tmp: write_signature_sink(
            docs.filter(F.col("doc_id") % 10 != 0), tmp
        ),
    )
    return incremental_minhash_pairs(docs.filter(F.col("doc_id") % 10 == 0), path)
