"""Text-analysis operators for LLM training-data pipelines over the
``documents`` table: tokenization, quality scoring, language ID,
document fingerprinting.

None of this exists in the reference (its only string work is the
4-step Action canonicalization, trading212.py:115-117); these are the
north-star extensions (BASELINE.json) built the same way — pure
Catalyst expressions, no Python in the row path, so a 100 TB corpus
scan stays inside whole-stage codegen.

Portability note: everything here must hash-match a DuckDB oracle, so
all hashing uses md5/sha2 (identical across engines) — never
xxhash64/hash() (engine-specific).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import fan_out
from ..session import drop_zip_importers

# ASCII whitespace as Java's \s matches it, spelled out because RE2,
# the DuckDB oracles' regex engine, leaves the vertical tab (\x0B) out
# of its \s: a shared regex written with \s splits text holding one
# differently in the two engines.
WHITESPACE = " \\t\\n\\x0B\\f\\r"
# the characters that are not symbols: lowercase letters, digits and
# whitespace; a symbol is any other character
_SYMBOL_FREE = f"a-z0-9{WHITESPACE}"
SYMBOL_RE = f"[^{_SYMBOL_FREE}]"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the regex shape GPT-2-style tokenizers use as their split
# pass. Identical regex runs on the DuckDB side.
TOKEN_RE = f"[a-z]+|[0-9]+|{SYMBOL_RE}"

# tokens per winnowing shingle (fingerprint)
FINGERPRINT_SHINGLE = 5
# characteristic terms kept per document (tfidf_top_terms)
TFIDF_TOP_K = 5
# word n-gram length and heavy-hitter count (top_ngrams)
TOP_NGRAM_N = 3
TOP_NGRAM_K = 20
# keep threshold of model_quality_filter, milli-weight per token
QUALITY_THRESHOLD_MILLI = -50
# chunk_windows: tokens per chunk and chunk start step
CHUNK_SIZE = 64
CHUNK_STRIDE = 48
# documents kept per query (bm25_topk)
BM25_TOP_K = 10

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "los", "de", "y", "que", "una"],
    "fr": ["le", "la", "et", "les", "des", "un"],
}


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def _with_tokens(docs: DataFrame, *keep: str) -> DataFrame:
    """Project (keep..., __toks) so the regex tokenizer is evaluated
    exactly once per row. Referencing ``tokens("text")`` repeatedly in
    one projection (or inside a higher-order lambda) re-runs the regex
    per reference — Catalyst CSE stops at lambda boundaries and
    CollapseProject only keeps a boundary that already exists."""
    return fan_out(docs).select(*keep, tokens("text").alias("__toks"))


def explode_nonempty(
    df: DataFrame, keep: list, array_col: str, alias: str
) -> DataFrame:
    """``explode`` minus Spark's ``InferFiltersFromGenerate`` trap: an
    inner explode of an array ATTRIBUTE (a projected column such as
    ``__toks``) makes the optimizer infer ``size(arr) > 0``, and
    predicate pushdown then RE-INLINES the whole array expression —
    tokenizer regex included, inside the shingle transform lambda —
    into a scan-stage interpreted Filter that costs O(tokens²) per
    document (r7 lesson 3's pushdown half, caught live by jstack at
    the r13 125× sweep: one scan task burned 10+ CPU-minutes
    re-tokenizing inside the pushed filter). ``explode_outer`` admits
    no such inference, and the null row an empty array contributes is
    dropped on the generator OUTPUT attribute, which cannot push below
    the Generate — so the result is row-identical to plain explode
    with the quadratic filter gone."""
    return df.select(
        *keep, F.explode_outer(array_col).alias(alias)
    ).filter(F.col(alias).isNotNull())


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens +
    char/avg-length stats. One projection, zero shuffles — at 100 TB
    this runs at parquet-scan speed."""
    toks = F.col("__toks")
    ws = F.split(F.col("text"), f"[{WHITESPACE}]+")
    return _with_tokens(docs, "doc_id", "text").select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(ws).alias("n_words"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
            )
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def _at_least_1(count: str) -> Column:
    """A per-document count floored at 1: the denominator of a ratio
    over tokens or chars, so an empty document divides by 1."""
    return F.greatest(F.col(count), F.lit(1))


def score_docs(docs: DataFrame, *keep: str) -> DataFrame:
    """Per-document score inputs and the two scores derived from them:
    ``(keep..., __toks, n_chars, n_sym, n_tokens, sum_len, score_en,
    score_de, score_es, score_fr, quality_bp, lang_pred)``. Every
    scoring caller goes through here.

    The tokens come from :func:`_with_tokens`' projection, each count
    is projected ONCE in the next one, as an attribute, and the scores
    read the attributes in the third. Written inline, the score
    expressions repeat their counts (``quality_bp`` alone reads the
    token count five times and the stopword count twice), and
    Catalyst does not share common subexpressions across the branches
    of a CASE. CollapseProject keeps the three projections apart,
    because merging them would duplicate the count expressions.

    The counts use the cheapest form with the same value: the symbol
    count is the length of ``text`` with every non-symbol removed (no
    match array), and the token-length sum is the length of the joined
    tokens (no lambda). Symbols are counted on the original-case
    ``text``, so an uppercase letter is a symbol.

    ``quality_bp`` is the composite quality score in integer **basis
    points** (0-10000) — never weighted floating point: decimal
    weights × dyadic token ratios produce exact-decimal ``.xxxx5``
    values where Spark's BigDecimal HALF_UP round and DuckDB's
    double-multiply round disagree by one ulp. Integer arithmetic (and
    floor of small-denominator rationals) is bit-identical on both
    engines. Components: 3000·min(mean_token_len/10, 1)
    + 4000·min(4·stop_ratio, 1) + 2000·[10 ≤ n_tokens ≤ 1000]
    + 1000·(1 - min(10·symbol_ratio, 1)).

    ``lang_pred`` is the stopword-profile argmax, priority
    en→de→es→fr on ties.
    """
    toks = F.col("__toks")
    # the counts read text, so it passes the tokenizer's projection once
    counted = _with_tokens(docs, *dict.fromkeys((*keep, "text"))).select(
        *keep,
        "__toks",
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", f"[{_SYMBOL_FREE}]", "")).alias("n_sym"),
        F.size(toks).alias("n_tokens"),
        F.length(F.array_join(toks, "")).cast("long").alias("sum_len"),
        *(
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"score_{lang}")
            for lang, words in STOPWORDS.items()
        ),
    )
    n_tok, sum_len, n_sym = F.col("n_tokens"), F.col("sum_len"), F.col("n_sym")
    n_tok1, n_chars1 = _at_least_1("n_tokens"), _at_least_1("n_chars")
    n_stop = F.col("score_en")
    comp_len = F.when(sum_len >= 10 * n_tok1, F.lit(3000).cast("long")).otherwise(
        F.floor(F.lit(300) * sum_len / n_tok1)
    )
    comp_stop = F.when(4 * n_stop >= n_tok1, F.lit(4000).cast("long")).otherwise(
        F.floor(F.lit(16000) * n_stop / n_tok1)
    )
    comp_len_ok = F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(2000)).otherwise(
        F.lit(0)
    ).cast("long")
    comp_sym = F.lit(1000).cast("long") - F.when(
        10 * n_sym >= n_chars1, F.lit(1000).cast("long")
    ).otherwise(F.floor(F.lit(10000) * n_sym / n_chars1))
    s_en, s_de, s_es, s_fr = (F.col(f"score_{lang}") for lang in STOPWORDS)
    return counted.select(
        "*",
        (comp_len + comp_stop + comp_len_ok + comp_sym).alias("quality_bp"),
        F.when(s_en >= F.greatest(s_de, s_es, s_fr), "en")
        .when(s_de >= F.greatest(s_es, s_fr), "de")
        .when(s_es >= s_fr, "es")
        .otherwise("fr")
        .alias("lang_pred"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring (length / stopword / symbol ratios) —
    the C4/Gopher-style filter shape. See :func:`score_docs` for the
    cross-engine-exact integer formulation."""
    return score_docs(docs, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("score_en").cast("double") / _at_least_1("n_tokens"), 4
        ).alias("stopword_ratio"),
        F.round(F.col("n_sym").cast("double") / _at_least_1("n_chars"), 4).alias(
            "symbol_ratio"
        ),
        "quality_bp",
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: stopword-profile hit counts per language,
    deterministic argmax (see :func:`score_docs`).

    The classic fastText/CLD replacement shape for when a model can't
    run in the engine: cheap, vectorized, JVM-side.
    """
    return score_docs(docs, "doc_id", "lang").select(
        "doc_id", "lang", *(f"score_{lang}" for lang in STOPWORDS), "lang_pred"
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-``TFIDF_TOP_K`` characteristic terms per document by a tf·idf-style
    rarity score — the classic keyword-extraction / topic-tagging pass
    over a training corpus.

    Cross-engine exactness: the score is the integer surrogate
    ``score_micro = floor(tf * 1_000_000 / df)`` — monotone in tf and
    in term rarity (1/df), like tf·idf, but free of ``ln`` (libm
    results differ across engines by an ulp, which flips rounded
    boundaries; see score_docs for the same policy). floor() over
    a quotient of exact sub-2^53 integers is provably stable: a
    non-integer true quotient sits ≥ 1/df from the nearest integer,
    orders of magnitude above the double ulp at this magnitude.

    Scale shape (100 TB): three shuffles, all keyed small —
    (1) explode → partial-count → groupBy(doc_id, term): the shuffle
    rows are (doc_id, term, partial_count), map-side combined;
    (2) groupBy(term) over the tf frame for document frequency: the
    term dictionary, orders of magnitude smaller than the corpus;
    (3) the per-doc top-k window on doc_id. The df side joins back
    broadcast (a term dictionary fits executors at any corpus size
    worth ranking; spill to a sort-merge join by dropping the hint if
    a tokenizer explodes the vocabulary).
    """
    from pyspark.sql import Window

    tf = (
        explode_nonempty(
            _with_tokens(docs, "doc_id"), ["doc_id"], "__toks", "term"
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.floor(F.col("tf") * F.lit(1_000_000) / F.col("df")).alias(
                "score_micro"
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document: type-token
    ratio plus duplicate word-2-gram and word-3-gram fractions — the
    "repetitious document" filters from the Gopher/MassiveText rules
    (documents whose n-grams are mostly repeats are boilerplate, spam,
    or generation loops and get dropped before training).

    All three signals are integer basis points (see score_docs for
    the cross-engine-exactness policy): ``distinct_bp`` =
    floor(|distinct tokens|·10⁴/n), ``dup_{2,3}gram_bp`` =
    floor((|grams| − |distinct grams|)·10⁴/|grams|).

    Scale shape: a pure projection — tokenize once, build the n-gram
    arrays per row, count with ``array_distinct``. Zero shuffles, zero
    joins; at 100 TB this runs at parquet-scan speed inside
    whole-stage codegen, exactly like token_stats.
    """
    toks = F.col("__toks")
    n_tok = F.size(toks)
    n_tok1 = F.greatest(n_tok, F.lit(1))

    def ngrams(n: int) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(n_tok - n + 1, F.lit(1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))

    def dup_bp(grams: Column) -> Column:
        n_g = F.size(grams)
        return F.floor(
            (n_g - F.size(F.array_distinct(grams))) * F.lit(10_000)
            / F.greatest(n_g, F.lit(1))
        )

    return (
        _with_tokens(docs, "doc_id")
        .select("doc_id", toks.alias("__toks"), ngrams(2).alias("__g2"), ngrams(3).alias("__g3"))
        .select(
            "doc_id",
            F.size("__toks").alias("n_tokens"),
            F.floor(
                F.size(F.array_distinct("__toks")) * F.lit(10_000)
                / F.greatest(F.size("__toks"), F.lit(1))
            ).alias("distinct_bp"),
            dup_bp(F.col("__g2")).alias("dup_2gram_bp"),
            dup_bp(F.col("__g3")).alias("dup_3gram_bp"),
        )
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: full-content sha256 + a winnowing-style
    rolling fingerprint (min md5 over word ``FINGERPRINT_SHINGLE``-grams).

    The min-shingle-hash is a 1-permutation MinHash: equal texts get
    equal fingerprints, near-equal texts get equal fingerprints with
    probability = Jaccard similarity — the cheap first pass before
    pairwise dedup.
    """
    shingle_len = FINGERPRINT_SHINGLE
    toks = F.col("__toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - shingle_len + 1, F.lit(1)))
    shingles = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, shingle_len), " ")
    )
    return (
        _with_tokens(docs, "doc_id", "text")
        .select(
            "doc_id",
            F.sha2(F.col("text"), 256).alias("content_sha256"),
            shingles.alias("__shingles"),
        )
        .select(
            "doc_id",
            "content_sha256",
            F.array_min(F.transform(F.col("__shingles"), F.md5)).alias("winnow_fp"),
        )
    )


def unigram_lm_score(docs: DataFrame) -> DataFrame:
    """CCNet-style unigram language-model quality signal: score each
    document by how common its tokens are in the corpus itself. Real
    CCNet ranks by LM perplexity; the corpus-frequency form keeps the
    same filtering power for gibberish/ocr-noise (rare-token-heavy
    documents score low) while staying libm-free.

    Cross-engine exactness: per-token corpus probability is the
    integer surrogate ``p_ppb = floor(ctf * 1e9 / total_tokens)``; the
    per-doc score is ``floor(sum(tf * p_ppb) / n_tokens)`` — integer
    sums are order-independent, so Spark and the SQL oracle agree
    bit-for-bit (no geometric mean / ln, whose libm rounding differs
    across engines; see tfidf_top_terms for the same policy).
    Magnitudes stay exact: p_ppb ≤ 1e9, tf ≤ 1e6 per doc-term, and
    the per-doc sum is ≤ n_tokens · 1e9 < 2^63 for any document under
    ~9e9 tokens.

    Scale shape (100 TB): identical to tfidf_top_terms — (1) explode →
    map-side-combined groupBy(doc_id, term) for tf; (2) groupBy(term)
    over the tf frame for corpus term counts (vocabulary-sized);
    (3) broadcast the vocabulary back onto tf; (4) one groupBy(doc_id)
    for the score. The corpus never shuffles as text — only (doc_id,
    term, tf) triples and the small vocabulary move.
    """
    from ..partitioning import freeze_partitions

    # tf feeds THREE consumers (the vocabulary build, the corpus
    # total, and the score join); without a pin each one re-ran the
    # regex tokenizer + the (doc, term) aggregate from the raw scan
    # (r14 plan audit: three copies of the explode→tf chain). Same
    # pin bm25_topk has carried since r6.
    tf = freeze_partitions(
        explode_nonempty(
            _with_tokens(docs, "doc_id"), ["doc_id"], "__toks", "term"
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    # Σ ctf over the vocabulary == Σ tf over the tf frame — computing
    # the total from cached tf is a partial-agg scan with no term-
    # keyed exchange (the prior vocab.agg re-ran the vocabulary
    # shuffle a second time just to sum it).
    totals = tf.agg(F.sum("tf").alias("total_tokens"))
    scored = tf.join(F.broadcast(vocab), "term").crossJoin(F.broadcast(totals))
    return (
        scored.select(
            "doc_id",
            "tf",
            F.floor(F.col("ctf") * F.lit(1_000_000_000) / F.col("total_tokens")).alias(
                "p_ppb"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("p_ppb")).alias("__tp"),
        )
        # integer floor-division (DIV), not double /: the weighted sum
        # can exceed 2^53 where double conversion rounds ulps
        .select(
            "doc_id",
            "n_tokens",
            F.expr("__tp DIV n_tokens").alias("avg_tok_freq_ppb"),
        )
    )


def top_ngrams(docs: DataFrame) -> DataFrame:
    """Corpus-level heavy-hitter word ``TOP_NGRAM_N``-grams: total
    occurrences + document frequency for the ``TOP_NGRAM_K`` most
    repeated n-grams — the
    mining pass behind boilerplate dictionaries (cookie banners,
    license headers, nav chrome repeat verbatim across a crawl and
    surface here first) and contamination screens.

    Scale shape (100 TB): the n-gram arrays are built per row inside
    whole-stage codegen (same slice/transform kernel as
    repetition_stats), then one explode → groupBy(gram) with map-side
    partial aggregation — hot grams are exactly the ones partial agg
    compresses best, so the popular-gram skew that would hurt a naive
    shuffle is absorbed before the exchange. Document frequency rides
    the same aggregate via count(DISTINCT doc_id) (Expand-based, one
    extra shuffle). The final top-k is a TakeOrderedAndProject, not a
    global sort. At a trillion grams, swap exact count for a
    count-min/approx pass first; the exact form stays the verifier.
    """
    n = TOP_NGRAM_N
    toks = F.col("__toks")
    n_tok = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n_tok - n + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    exploded = (
        _with_tokens(docs, "doc_id")
        .select("doc_id", F.explode(grams).alias("gram"))
        # documents shorter than n tokens emit a clipped (short) gram;
        # drop grams with fewer than n words so output is well-typed
        .filter(F.size(F.split(F.col("gram"), " ")) >= n)
    )
    return (
        exploded.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(TOP_NGRAM_K)
    )


_HEX = "0123456789abcdef"


def _bucket_weight(tok: Column) -> Column:
    """Deterministic per-token weight in [-128, 127] from the first
    two hex chars of md5(token) — the stand-in for a learned weight
    vector indexed by the hashing trick. md5 because it is the one
    hash both engines compute identically (module portability note);
    a production model swaps this expression for a broadcast
    ``bucket -> weight`` array lookup with the identical plan shape.
    """
    h = F.md5(tok)
    hi = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    lo = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return (hi * 16 + lo - 128).cast("long")


def model_quality_filter(docs: DataFrame) -> DataFrame:
    """Model-based quality filter: score each document with a linear
    classifier over hashing-trick token features and keep documents
    above a threshold — the fastText/logistic-regression quality-gate
    step of every LLM data pipeline (CCNet, RefinedWeb), which the
    heuristic ``quality_score`` approximates without a model.

    The "model" here is a deterministic weight per hash bucket
    (md5-derived, so the DuckDB oracle reproduces it bit-exactly); a
    real deployment broadcasts the trained weight array and indexes it
    inside the same lambda. Everything is integer arithmetic — the
    keep decision compares ``total_weight * 1000`` against
    ``n_tokens * QUALITY_THRESHOLD_MILLI`` so no engine ever divides.

    Plan shape: tokenize once behind a projection boundary, transform
    tokens to weights, aggregate the weight array — a pure projection,
    zero shuffles, zero Python. At 100 TB this is the cheapest possible
    classifier application: one parquet-scan-speed pass, and the model
    (any size up to executor memory) rides along as a broadcast
    variable instead of a join.
    """
    toks = F.col("__toks")
    total = F.aggregate(
        F.transform(toks, _bucket_weight),
        F.lit(0).cast("long"),
        lambda acc, w: acc + w,
    )
    return _with_tokens(docs, "doc_id").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        total.alias("total_weight"),
    ).withColumn(
        "keep",
        (F.col("n_tokens") > 0)
        & (
            F.col("total_weight") * 1000
            >= F.col("n_tokens").cast("long") * QUALITY_THRESHOLD_MILLI
        ),
    )


def chunk_windows(docs: DataFrame) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    — the context-window chunking step every LLM training/RAG pipeline
    runs between curation and tokenization (no analog in the reference,
    which never splits rows; north-star extension like the rest of this
    module).

    Chunks start at every multiple of ``CHUNK_STRIDE`` below the token
    count, take up to ``CHUNK_SIZE`` tokens, and are clipped at the
    document end, so with stride ≤ size every token lands in at least
    one chunk and consecutive chunks overlap by ``size - stride`` tokens
    (the overlap that keeps boundary-spanning context learnable).

    Plan shape: tokenize once, explode a per-row start sequence, slice
    the shared token array — projection + generate only, zero shuffles
    and zero Python, so a 100 TB corpus chunks at parquet-scan speed
    and inherits the scan's partitioning (each output chunk stays on
    its document's partition; downstream repartition is the consumer's
    choice, not a cost this operator imposes).
    """
    size, stride = CHUNK_SIZE, CHUNK_STRIDE
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    words = docs.select("doc_id", F.split("text", " ").alias("__toks"))
    chunk = F.slice(toks, F.col("start") + 1, size)
    return (
        words.select("doc_id", "__toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def bm25_topk(
    docs: DataFrame, queries: list[tuple[str, list[str]]]
) -> DataFrame:
    """BM25-style lexical retrieval: score every document against each
    query's term bag and keep the top-``BM25_TOP_K`` per query — the
    retrieval pass of a RAG / data-curation pipeline (e.g. mining a
    corpus for documents relevant to a benchmark topic before
    decontamination).

    Cross-engine exactness: textbook BM25 needs ``ln`` in the idf and
    libm differs across engines in the last ulp (the tf·idf
    integer-surrogate lesson, tfidf_top_terms above), so the idf is
    the exact RATIONAL surrogate ``(2N - 2df + 1) / (2df + 1)`` — the
    Robertson-Sparck-Jones odds ratio WITHOUT the log, monotone in
    rarity exactly like the ln form (rare terms weigh more heavily;
    acceptable for retrieval ranking, documented divergence from
    textbook weighting). With k1 = 6/5 and b = 3/4 kept rational, the
    per-term score clears denominators into one integer floor
    division:

        score_ppm_term = (1e6 · (2N-2df+1) · 22·tf·S)
                      // ((2df+1) · (10·tf·S + 3·S + 9·dl·N))

    where S = Σ dl (total corpus tokens), dl = doc length. Magnitude:
    numerator ≤ 1e6·2N·22·tf_max·S < 10^38 for N ≤ 1e9, S ≤ 1e14,
    tf ≤ 1e3 — DECIMAL(38,0) on the Spark side, HUGEINT in DuckDB,
    both exact; the summed score_ppm ≤ ~1e15 fits BIGINT.

    Scale shape (100 TB): tf/df/dl are the same three keyed shuffles
    as tfidf_top_terms; the query-term list broadcasts (a query
    workload is KB-sized); corpus scalars (N, S) are a 1-row broadcast
    cross join. Top-k per query is TWO-PHASE so no window ever spans a
    data-sized partition: per-(query, input-partition) heads first
    (parallel), then a final window over ≤ k·num_partitions survivor
    rows per query.
    """
    from pyspark.sql import Window

    from ..partitioning import freeze_partitions

    k = BM25_TOP_K
    spark = docs.sparkSession
    tok = explode_nonempty(
        _with_tokens(docs, "doc_id"), ["doc_id"], "__toks", "term"
    )
    # tf feeds FOUR derivations (dl, corpus stats, df, the match
    # join): pin it so the corpus is tokenized and count-aggregated
    # once, not once per consumer (measured 2.07→1.57 s at sf0.1).
    # dl/s_tot derive from tf (dl = Σ tf per doc — same number as
    # counting the exploded tokens) so the exploded token stream
    # itself has a single consumer and never re-materializes.
    tf = freeze_partitions(
        tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    # dl is recomputed from cached tf per consumer (corpus scalars +
    # score join); r14 A/B'd pinning it and REVERTED: the extra
    # InMemoryRelation re-exchanged dl for the score join and the
    # 125x wall regressed (A/B min 58.5 s pinned vs 42.2 s
    # recomputed) — a one-exchange aggregate off the tf cache is
    # cheaper than materializing it.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.sum("dl").cast("decimal(38,0)").alias("s_tot"),
        F.count("*").cast("decimal(38,0)").alias("n_docs"),
    )
    # df aggregates the FULL vocabulary, then cuts to query terms for
    # the broadcast. r14 A/B'd the guide-§2.3 rewrite (semi-join tf
    # onto the broadcast term list BEFORE the df aggregate) and
    # REVERTED it too: map-side partial aggregation already reduces
    # the term exchange to ~vocabulary-sized bytes, while the
    # broadcast probe touched every cached tf row and the 125x wall
    # regressed 42.2 -> 58.5-60.8 s (min over 5 runs/arm, noisy-host
    # interleaved protocol, BENCH_SCALING bm25_rewrites_r14).
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms],
        schema="query_id string, term string",
    )
    matched = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_.join(F.broadcast(qterms.select("term").distinct()), "term")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    per_term = matched.select(
        "query_id",
        "doc_id",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (2 * n_docs - 2 * df + 1) * 22 * tf * s_tot)"
            " DIV ((2 * df + 1)"
            "      * (10 * tf * s_tot + 3 * s_tot + 9 * dl * n_docs))"
            " AS BIGINT)"
        ).alias("s"),
    )
    scores = per_term.groupBy("query_id", "doc_id").agg(
        F.sum("s").alias("score_ppm")
    )
    # two-phase top-k: the aggregate's output partitions are scanned
    # in parallel for per-partition heads; only k rows per (query,
    # partition) reach the final per-query window
    order = [F.col("score_ppm").desc(), F.col("doc_id")]
    heads = (
        scores.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id", "__pid").orderBy(*order)
            ),
        )
        .filter(F.col("__rn") <= k)
    )
    return (
        heads.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("query_id").orderBy(*order)),
        )
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "score_ppm", "rnk")
    )


# greedy-segmentation vocabulary: corpus-common whole words plus full
# single-character coverage (every [a-z0-9] word segments without UNK;
# punctuation tokens fall to the UNK path). Shared verbatim with the
# DuckDB oracle's literal table.
SEGMENT_VOCAB = (
    ["the", "join", "spark", "stream", "sort", "merge", "hash", "scan",
     "batch", "filter", "window", "table", "row", "data", "key", "order"]
    + [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [str(d) for d in range(10)]
)


def wordpiece_encode_stats(docs: DataFrame) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale (the counterpart to
    bm25/bpe vocabulary induction): greedy longest-prefix segmentation
    of every word against a broadcast vocabulary — the WordPiece/
    unigram-greedy inference loop — emitting per-document piece and
    UNK counts. The kernel is an Arrow-batched pandas UDF (per-word
    Python loop over a dict-of-lengths vocab — string chomping is not
    expressible as a fixed-depth Catalyst expression), fed by the
    JVM-side regex tokenizer; the vocabulary travels in the closure
    (KB-sized — a production 32k-piece vocab broadcasts the same
    way). One map pass, no shuffle; the DuckDB oracle replays the
    identical greedy loop as a recursive CTE, so the segmentation is
    cross-engine verified piece count for piece count."""
    import pyspark.sql.types as T

    vocab = set(SEGMENT_VOCAB)
    max_len = max(len(v) for v in vocab)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_pieces", T.LongType()),
            T.StructField("n_unk", T.LongType()),
        ]
    )

    def seg_stats(batches):
        drop_zip_importers()
        import pandas as pd  # noqa: F811 (worker-side import by value)

        for pdf in batches:
            rows = []
            for doc_id, words in zip(pdf["doc_id"], pdf["__toks"]):
                pieces = unk = 0
                for w in words:
                    i, n = 0, len(w)
                    while i < n:
                        for l in range(min(max_len, n - i), 0, -1):
                            if w[i : i + l] in vocab:
                                pieces += 1
                                i += l
                                break
                        else:
                            pieces += 1
                            unk += 1
                            i += 1
                rows.append((int(doc_id), len(words), pieces, unk))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_words", "n_pieces", "n_unk"]
            )

    return _with_tokens(docs, "doc_id").mapInPandas(seg_stats, out_schema)
