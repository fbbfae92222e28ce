"""Invariant tests for the LLM-pipeline ops the DuckDB oracle can't
express (hash-dependent sketches): MinHash/LSH recall against the
exact Jaccard verifier, SimHash sanity, LSH similarity recall vs
brute force, multimodal decode shape (SURVEY §5.4)."""

from pyspark.sql import functions as F

from trading212_etl_spark.operators import dedup, similarity
from trading212_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
)
from trading212_etl_spark.operators.multimodal import (
    audio_features,
    synth_wav_payload,
    decode_image_meta,
    sample_frames,
    synth_avi_payload,
    resize_images,
    synth_bmp_payload,
)
from trading212_etl_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
)
from trading212_etl_spark.sources import load_table


def _band_bucket_sizes(docs, hash_fn):
    """(over-cap buckets, largest bucket) of the band table
    minhash_lsh_pairs groups, against dedup.HOT_BUCKET_CAP."""
    sig = dedup._signature_frame(dedup._shingle_sets(docs), hash_fn)
    sizes = dedup._band_frame(sig, hash_fn).groupBy("band_idx", "band_hash").count()
    row = sizes.agg(
        F.count_if(F.col("count") > dedup.HOT_BUCKET_CAP).alias("over"),
        F.max("count").alias("largest"),
    ).first()
    return int(row.over or 0), int(row.largest or 0)


def test_minhash_lsh_recall_and_precision(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b) for r in jaccard_pairs(docs).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    # verified LSH output must be a subset of the exact pairs (precision 1.0)
    assert lsh <= exact
    # banding with b=16, r=2 has P(candidate) > 0.99 for J >= 0.5
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall} ({len(lsh)}/{len(exact)})"


def test_minhash_lsh_hot_bucket_guard(spark, sf_dir, monkeypatch):
    """Degenerate corpus: many identical documents put EVERY doc into
    the same (band, hash) bucket in every band. Unguarded, that is an
    unbounded collect_set buffer and an O(n²) pair explosion in one
    task (VERDICT r4 item 5). With the bucket cap below the bucket
    size, (a) every band's bucket is over the cap, (b) the op never
    collects an id list, and (c) it still connects the whole clique
    through the hub star so downstream connected-components
    clustering is unchanged."""
    from trading212_etl_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 50)
    n = 200
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "'the same boilerplate line repeated verbatim in every document"
        " of this degenerate corpus slice' AS text",
    )
    pairs = minhash_lsh_pairs(docs)
    got = pairs.collect()
    # every band bucket holds all n docs -> all over cap
    assert _band_bucket_sizes(docs, "xxhash64") == (16, n)
    # star output: hub (min id = 0) linked to every other doc, NOT the
    # quadratic clique
    assert {(r.doc_a, r.doc_b) for r in got} == {(0, i) for i in range(1, n)}
    assert all(r.jaccard == 1.0 for r in got)
    # downstream clustering is unaffected by the star trade
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n

    # same corpus UNDER the cap: exact all-pairs path still exact
    few = docs.limit(5)
    exact_pairs = minhash_lsh_pairs(few)
    assert exact_pairs.count() == 10  # C(5,2)


def test_minhash_lsh_oracle_corpus_under_cap(spark):
    """The dedup_minhash_lsh DuckDB oracle expands full per-bucket
    all-pairs while the engine star-links buckets over max_bucket;
    parity therefore REQUIRES no band bucket at the correctness SF
    exceeding the cap. Assert that precondition explicitly (over the
    op's band table, at the driver's sf0.01) so a future corpus /
    testdata change fails HERE with a clear cap message instead of as
    a confusing value diff in the driver's CORRECTNESS row
    (ADVICE r5)."""
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    over, largest = _band_bucket_sizes(docs, "md5")
    assert over == 0, (
        f"documents corpus grew a band bucket over the "
        f"{dedup.HOT_BUCKET_CAP} cap (max seen {largest}): the "
        f"dedup_minhash_lsh oracle's all-pairs expansion no longer "
        f"matches the engine's star fallback — raise "
        f"dedup.HOT_BUCKET_CAP or re-derive the oracle"
    )


def test_simhash_near_pairs_sane(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sk = simhash(docs)
    assert sk.count() == docs.count()
    pairs = simhash_near_pairs(docs)
    pdf = pairs.toPandas()
    # hamming bounds respected, ordered pairs only
    assert (pdf["hamming"] <= 3).all()
    assert (pdf["doc_a"] < pdf["doc_b"]).all()
    # identical texts (exact dups exist in the corpus) must collide at distance 0
    dup_groups = exact_dedup(docs).filter(F.col("n_copies") > 1)
    if dup_groups.count() > 0:
        assert (pdf["hamming"] == 0).any()


def test_similarity_lsh_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = cosine_topk_bruteforce(emb, queries, k=10).toPandas()
    approx = cosine_topk_lsh(emb, queries, k=10).toPandas()
    # every query answered
    assert set(approx["query_id"]) == set(brute["query_id"])
    # approx scores can never exceed the exact best
    for qid in set(brute["query_id"]):
        b_top = brute[brute.query_id == qid].cos_sim.max()
        a_top = approx[approx.query_id == qid].cos_sim.max()
        assert a_top <= b_top + 1e-9
    # bucketed candidates must be a subset of the full ranking's universe
    hits = len(
        set(map(tuple, approx[["query_id", "corpus_id"]].values))
        & set(map(tuple, brute[["query_id", "corpus_id"]].values))
    )
    recall = hits / len(brute)
    assert recall >= 0.5, f"multi-table LSH recall too low: {recall}"


def test_embedding_near_dup_lsh_subset_and_recall(spark, sf_dir, monkeypatch):
    emb = load_table(spark, sf_dir, "embeddings")
    # the exact form over the whole corpus, not its verification slice
    monkeypatch.setattr(similarity, "NEAR_DUP_MAX_ID", 1 << 62)
    exact = {
        (r.vec_a, r.vec_b) for r in embedding_near_dup_pairs(emb).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b) for r in embedding_near_dup_pairs_lsh(emb).collect()
    }
    assert exact, "corpus should contain near-dup embeddings at 0.4"
    assert lsh <= exact, "every LSH pair is exactly scored -> subset"
    recall = len(lsh) / len(exact)
    assert recall >= 0.5, f"8-table LSH recall too low: {recall}"


def test_similarity_ivf_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = cosine_topk_bruteforce(emb, queries, k=10).toPandas()
    approx = cosine_topk_ivf(emb, queries, k=10).toPandas()
    assert set(approx["query_id"]) == set(brute["query_id"])
    for qid in set(brute["query_id"]):
        assert (
            approx[approx.query_id == qid].cos_sim.max()
            <= brute[brute.query_id == qid].cos_sim.max() + 1e-9
        )
    hits = len(
        set(map(tuple, approx[["query_id", "corpus_id"]].values))
        & set(map(tuple, brute[["query_id", "corpus_id"]].values))
    )
    recall = hits / len(brute)
    assert recall >= 0.7, f"IVF n_probe=3/8 recall too low: {recall}"


def test_multimodal_decode_and_frame_sample_real(spark, sf_dir):
    """Image metadata and video frame sampling are REAL (r6): headers
    parsed, pixels decoded. Cross-check dims/byte-size formulas and
    one doc's frame pixels against an independent recomputation."""
    import hashlib

    import numpy as np

    docs = load_table(spark, sf_dir, "documents").limit(8)
    meta = decode_image_meta(synth_bmp_payload(docs)).toPandas()
    assert len(meta) == 8
    for _, r in meta.iterrows():
        d = int(r["doc_id"])
        sw, sh = 16 + d % 16, 12 + (d * 7) % 12
        assert (r["width"], r["height"], r["channels"]) == (sw, sh, 3)
        assert r["n_bytes"] == 54 + sh * (((sw * 3 + 3) // 4) * 4)
        assert 0 <= r["mean_intensity"] <= 255

    frames = sample_frames(synth_avi_payload(docs)).toPandas()
    for _, r in frames.iterrows():
        d = int(r["doc_id"])
        assert r["n_frames"] == 6 + d % 5
        assert r["frame_idx"] % 2 == 0
    d = int(frames.iloc[0]["doc_id"])
    w, h = 8 + d % 8, 6 + d % 6
    n = w * h
    f = int(frames.iloc[0]["frame_idx"])
    raw = b"".join(
        hashlib.md5(f"{d}:{f}:{g}".encode()).digest()
        for g in range((n + 15) // 16)
    )[:n]
    want = int(np.frombuffer(raw, dtype=np.uint8).sum(dtype=np.int64))
    assert frames.iloc[0]["pixel_sum"] == want


def test_multimodal_resize_real_bmp_roundtrip(spark, sf_dir):
    """The image path is REAL (r6): synth_bmp_payload emits true
    24-bit BMPs (padded bottom-up rows) and resize_images decodes,
    nearest-neighbor resamples, and re-encodes. Cross-check one doc
    against an independent pure-Python recomputation, and verify the
    emitted binary is itself a decodable BMP whose pixels match the
    declared pixel_sum."""
    import hashlib

    import numpy as np

    from trading212_etl_spark.operators.multimodal import _bmp_decode

    docs = load_table(spark, sf_dir, "documents").limit(6)
    resized = resize_images(synth_bmp_payload(docs)).toPandas()
    assert len(resized) == 6
    assert (resized["width"] == 16).all() and (resized["height"] == 12).all()
    assert (resized["n_bytes"] == 54 + 12 * 48).all()
    for _, r in resized.iterrows():
        img = _bmp_decode(bytes(r["image"]))
        assert img.shape == (12, 16)
        assert int(img.sum(dtype=np.int64)) == r["pixel_sum"]
    # independent recomputation for one doc
    d = int(resized.iloc[0]["doc_id"])
    sw, sh = 16 + d % 16, 12 + (d * 7) % 12
    n = sw * sh
    raw = b"".join(
        hashlib.md5(f"{d}:{g}".encode()).digest() for g in range((n + 15) // 16)
    )[:n]
    gray = np.frombuffer(raw, dtype=np.uint8).reshape(sh, sw)
    want = gray[
        (np.arange(12)[:, None] * sh) // 12, (np.arange(16)[None, :] * sw) // 16
    ]
    assert int(want.sum(dtype=np.int64)) == resized.iloc[0]["pixel_sum"]
def test_audio_features_real_wav_roundtrip(spark, sf_dir):
    """The audio path is REAL (r6): synth_wav_payload emits genuine
    RIFF/WAVE containers and audio_features re-derives every feature
    from the decoded frames. Cross-check one doc against an
    independent pure-Python recomputation (hashlib + wave, no Spark),
    and pin header facts for all docs."""
    import hashlib
    import io
    import math
    import wave

    docs = load_table(spark, sf_dir, "documents").limit(8)
    wavs = synth_wav_payload(docs).toPandas()
    assert len(wavs) == 8
    for _, row in wavs.iterrows():
        payload = bytes(row["payload"])
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        with wave.open(io.BytesIO(payload), "rb") as w:
            assert w.getframerate() == 8000
            assert w.getsampwidth() == 2 and w.getnchannels() == 1
            assert w.getnframes() == 256 + (row["doc_id"] * 37) % 128

    feats = audio_features(synth_wav_payload(docs)).toPandas()
    one = feats[feats.doc_id == int(wavs.iloc[0]["doc_id"])].iloc[0]
    d = int(one["doc_id"])
    n = 256 + (d * 37) % 128
    hexs = "".join(
        hashlib.md5(f"{d}:{g}".encode()).hexdigest()
        for g in range((n + 7) // 8)
    )
    v = [int(hexs[4 * j : 4 * j + 4], 16) - 32768 for j in range(n)]
    assert one["n_frames"] == n and one["sample_rate"] == 8000
    assert one["peak"] == max(abs(x) for x in v)
    assert one["zero_crossings"] == sum(
        1 for a, b in zip(v, v[1:]) if a * b < 0
    )
    for b in range(4):
        sel = [x for j, x in enumerate(v) if (j * 4) // n == b]
        want = math.sqrt(sum(x * x for x in sel) / len(sel))
        assert abs(one[f"rms_b{b}"] - want) < 1e-9


def test_hash_split_partition_and_determinism(spark, sf_dir):
    from trading212_etl_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    # exactly one split per row, assignment is a pure function of the key
    assert out.count() == n
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    again = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).count() == 0


def test_stratified_sample_rates(spark, sf_dir):
    from trading212_etl_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_sample(
        docs, "lang", {"en": 1.0, "de": 0.5}, "doc_id"
    )
    full = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in
            out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(kept) == {"en", "de"}          # strata without a rate dropped
    assert kept["en"] == full["en"]           # rate 1.0 keeps everything
    assert 0 < kept["de"] < full["de"]        # rate 0.5 is a strict subsample


def test_pack_sequences_invariants(spark, sf_dir):
    from trading212_etl_spark.operators.sampling import pack_sequences

    budget = 512
    out = pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=budget
    ).cache()
    # offsets are consistent: within (source, pack) the first doc's
    # offset lies in [pack_id*budget, (pack_id+1)*budget) — packs only
    # open at a crossing — and offsets never decrease along doc order
    first = out.groupBy("source", "pack_id").agg(
        F.min("pack_offset").alias("first_off")
    )
    bad = first.filter(
        (F.col("first_off") < F.col("pack_id") * budget)
        | (F.col("first_off") >= (F.col("pack_id") + 1) * budget)
    )
    assert bad.count() == 0
    # every doc's offset equals the sum of earlier docs' tokens
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    recomputed = out.withColumn(
        "expect", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).filter(F.col("expect") != F.col("pack_offset"))
    assert recomputed.count() == 0


def test_domain_mixture_plan_realizes_weights(spark, sf_dir):
    from trading212_etl_spark.operators.sampling import domain_mixture_plan

    weights = {"en": 0.7, "de": 0.2, "fr": 0.1}
    plan = {r["domain"]: r for r in domain_mixture_plan(
        load_table(spark, sf_dir, "documents"), weights
    ).collect()}
    assert set(plan) == set(weights)
    # one binding domain is taken (almost) in full; taken tokens match
    # the target mixture within rounding
    assert any(abs(r["rate"] - 1.0) < 1e-6 for r in plan.values())
    total = sum(r["tokens_take"] for r in plan.values())
    for d, w in weights.items():
        assert abs(plan[d]["tokens_take"] / total - w) < 0.01
        assert plan[d]["tokens_take"] <= plan[d]["tokens_avail"]


def test_hll_rollup_matches_exact_within_bound(spark, sf_dir):
    """The hourly-sketch union must estimate the exact daily distinct
    user count within HLL error bounds (lgK=12 → ~1.6% rsd; assert a
    generous 5%), and the rollup must cover every day exactly once."""
    from pyspark.sql import functions as F

    from trading212_etl_spark.registry import QUERIES

    est = {
        r["day"]: r["n_users_est"]
        for r in QUERIES["events_hll_rollup"](spark, sf_dir).collect()
    }
    exact = {
        r["day"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(2, 0.05 * n), (day, est[day], n)


def test_curate_lsh_path_is_superset_of_exact(spark, sf_dir):
    """The LSH-paired curation (the 100 TB path) must keep every doc
    the exact-paired curation keeps (LSH can only MISS near-dup pairs,
    never invent them — verified candidates carry exact Jaccard), and
    the overshoot must be tiny (high recall at J >= 0.5)."""
    from trading212_etl_spark.plans.curate import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    exact = {r["doc_id"] for r in curate_corpus(docs).select("doc_id").collect()}
    lsh = {
        r["doc_id"]
        for r in curate_corpus(docs, use_lsh=True).select("doc_id").collect()
    }
    assert exact <= lsh, f"LSH path dropped {sorted(exact - lsh)[:5]}"
    assert len(lsh) - len(exact) <= max(2, 0.02 * len(exact)), (
        len(exact),
        len(lsh),
    )


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """Every near-dup pair (J >= 0.5) must land in the SAME split —
    the contamination guarantee the per-doc hash split cannot give."""
    from trading212_etl_spark.registry import QUERIES

    split = QUERIES["sample_leakage_safe_split"](spark, sf_dir)
    pairs = jaccard_pairs(load_table(spark, sf_dir, "documents"))
    a = split.selectExpr("doc_id AS doc_a", "split AS split_a")
    b = split.selectExpr("doc_id AS doc_b", "split AS split_b")
    crossed = pairs.join(a, "doc_a").join(b, "doc_b")
    assert crossed.filter("split_a <> split_b").count() == 0
    assert crossed.count() > 0  # the guarantee is exercised, not vacuous


def test_semantic_dedup_survivors_are_cluster_minima(spark, sf_dir):
    """dedup_semantic_clusters invariants: every row's cluster label is
    <= its vec_id (min-label closure), keep <=> vec_id == cluster, and
    each cluster keeps exactly one survivor — the cluster's minimum
    member."""
    from trading212_etl_spark import registry

    rows = registry.QUERIES["dedup_semantic_clusters"](spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        assert r.cluster <= r.vec_id
        assert r.keep == (r.vec_id == r.cluster)
        by_cluster.setdefault(r.cluster, []).append(r)
    for label, members in by_cluster.items():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1, label
        assert keepers[0].vec_id == min(m.vec_id for m in members) == label


def test_pq_assign_codes_and_error(spark, sf_dir):
    """PQ encoding invariants: every subspace code in [0, k); err_q
    non-negative (it's a squared distance); deterministic across runs;
    and the error shrinks when the codebook contains the exact
    subvectors (self-quantization of a codebook row is ~0)."""
    from trading212_etl_spark.operators.similarity import (
        pq_assign,
        pq_codebooks_from_data,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks_from_data(emb)
    out = pq_assign(emb, cbs).toPandas()
    assert len(out) == emb.count()
    for code in out["pq_code"]:
        parts = [int(p) for p in code.split("-")]
        assert len(parts) == 8 and all(0 <= p < 16 for p in parts)
    assert (out["err_q"] >= 0).all()
    again = pq_assign(emb, cbs).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert again.equals(out.sort_values("vec_id").reset_index(drop=True))

    # a vector equal to centroid 3 of every subspace encodes as all-3s
    # with zero error
    flat = [v for book in cbs for v in book[3]]
    probe = spark.createDataFrame(
        [(0, [float(x) for x in flat])], "vec_id long, embedding array<float>"
    )
    row = pq_assign(probe, cbs).toPandas().iloc[0]
    assert row["pq_code"] == "-".join(["3"] * 8)
    assert abs(row["err_q"]) < 1e-3  # float32 storage round-trip noise


def test_pq_adc_approximates_exact_neighbors(spark, sf_dir):
    """ADC over PQ codes is an approximation of exact L2 search: the
    top-10 by ADC distance must substantially overlap the top-10 by
    exact squared L2 (quantization only coarsens, it doesn't
    scramble). Also: ranks are 1..10 per query, distances
    non-negative and non-decreasing with rank."""
    import numpy as np

    from trading212_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_data,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    adc = pq_adc_topk(emb, queries, pq_codebooks_from_data(emb)).toPandas()
    assert set(adc.groupby("query_id")["rank"].count()) == {10}
    for _, g in adc.groupby("query_id"):
        g = g.sort_values("rank")
        assert (g["adc_dist"].values >= 0).all()
        assert (np.diff(g["adc_dist"].values) >= -1e-9).all()

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    hits = total = 0
    for qid, g in adc.groupby("query_id"):
        q = vecs[qid]
        exact = sorted(
            ((np.sum((q - v) ** 2), cid) for cid, v in vecs.items() if cid != qid)
        )[:10]
        exact_ids = {cid for _, cid in exact}
        hits += len(exact_ids & set(g["corpus_id"]))
        total += 10
    # ~0.31 measured with the data-derived 8x16 codebooks (64x
    # compression, no re-rank); overfetch 5x/10x + exact re-rank
    # reaches 0.66/0.89 (operators/similarity.py) -- recall at this
    # compression is corpus-dependent, so pin a conservative floor
    # far above the random baseline (10/500 = 0.02)
    assert hits / total >= 0.2, f"ADC recall vs exact L2 too low: {hits/total}"


def test_substring_spans_ground_truth(spark):
    """Diagonal-island spans on a constructed corpus with KNOWN
    answers: a 12-token shared prefix, an exact duplicate (span = doc
    length), and a 6-token overlap that must stay below the
    threshold."""
    from trading212_etl_spark.operators.dedup import substring_span_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu"
    )  # 12 tokens
    docs = spark.createDataFrame(
        [
            (1, base + " one two three"),
            (2, base + " four five six"),
            (3, "alpha beta gamma delta epsilon zeta quite other words here"),
            (4, base + " one two three"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_a, r.doc_b): (r.max_span_tokens, r.n_spans)
        for r in substring_span_pairs(docs).collect()
    }
    assert out[(1, 2)] == (12, 1)
    assert out[(2, 4)] == (12, 1)
    assert out[(1, 4)] == (15, 1)  # exact duplicate: whole doc
    assert not any(3 in pair for pair in out)  # 6-token overlap < 10


def test_dsir_weights_favor_target_tokens(spark):
    """A probe doc written in the target domain's vocabulary must
    outscore an identical-length probe in off-domain vocabulary, with
    the signs matching the log-ratio construction."""
    from trading212_etl_spark.operators.sampling import (
        dsir_importance_weights,
    )

    rows = [(i, "aaa bbb ccc ddd", 1) for i in range(20)]
    rows += [(i, "xxx yyy zzz www", 0) for i in range(20, 40)]
    rows += [(100, "aaa bbb ccc ddd", 0), (101, "xxx yyy zzz www", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, is_t int"
    ).withColumn("source", F.lit("s"))
    w = {
        r.doc_id: r.weight_milli
        for r in dsir_importance_weights(
            docs, F.col("is_t") == 1
        ).collect()
    }
    assert w[100] > 0 > w[101]


def test_hard_negatives_cross_label_and_ranked(spark, sf_dir):
    """Every mined negative carries a label different from its
    query's, and ranks are a dense 1..5 prefix per query."""
    from trading212_etl_spark.registry import QUERIES

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    out = QUERIES["similarity_hard_negatives"](spark, sf_dir)
    j = (
        out.join(
            emb.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
                "label", "ql"
            ),
            "query_id",
        ).join(
            emb.withColumnRenamed("vec_id", "corpus_id").withColumnRenamed(
                "label", "cl"
            ),
            "corpus_id",
        )
    )
    rows = j.collect()
    assert rows and all(r.ql != r.cl for r in rows)
    per_q: dict[int, set[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, set()).add(r.rank)
    assert all(v == set(range(1, len(v) + 1)) for v in per_q.values())


def test_matryoshka_recall_matches_bruteforce_overlap(spark, sf_dir):
    """The registry entry's per-query overlap must equal an
    independently-computed intersection of two cosine_topk_bruteforce
    rankings (full vs 16-dim prefix)."""
    from trading212_etl_spark.registry import QUERIES

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 32)
    full = cosine_topk_bruteforce(emb, q, k=10)
    emb16 = emb.select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 1, 16).alias(
            "embedding"
        ),
    )
    pre = cosine_topk_bruteforce(emb16, emb16.filter(F.col("vec_id") < 32), k=10)
    fs = {(r.query_id, r.corpus_id) for r in full.collect()}
    ps = {(r.query_id, r.corpus_id) for r in pre.collect()}
    expected: dict[int, int] = {}
    for qid, cid in fs:
        expected[qid] = expected.get(qid, 0) + int((qid, cid) in ps)
    got = {
        r.query_id: r.n_overlap
        for r in QUERIES["similarity_matryoshka_recall"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected


def test_cusum_is_nonnegative_clamped(spark, sf_dir):
    """The prefix-minus-running-min factorization must reproduce the
    defining property of Page's clamped recursion: both one-sided
    statistics are >= 0 on every day, and the frame covers every
    order day exactly once."""
    from trading212_etl_spark.registry import QUERIES

    out = QUERIES["orders_cusum_changepoint"](spark, sf_dir).collect()
    assert out
    assert all(r.cusum_pos >= 0 and r.cusum_neg >= 0 for r in out)
    days = [r.day for r in out]
    assert len(days) == len(set(days))


def test_perceptual_dhash_twin_collision_and_tone_invariance(spark):
    """dHash ground truth on constructed images: (a) a 2x NN-upscaled
    twin must collide with its base (the planted-pair mechanism of
    multimodal_perceptual_dhash) even though the payload bytes and
    header dims differ; (b) a strictly monotone tone shift (v // 2,
    built to preserve all sampled gradient orderings) keeps the hash;
    (c) inverting the image flips gradient bits, changing the hash."""
    import numpy as np

    from trading212_etl_spark.operators.multimodal import (
        _bmp_encode,
        perceptual_dhash,
    )

    rng = np.random.default_rng(7)
    # spread values so that v // 2 never merges adjacent sampled
    # pixels (values are multiples of 4 -> ordering survives // 2)
    gray = (rng.integers(0, 64, size=(24, 32)) * 4).astype(np.uint8)
    twin = np.repeat(np.repeat(gray, 2, 0), 2, 1)
    rows = [
        (0, bytearray(_bmp_encode(gray))),
        (1, bytearray(_bmp_encode(twin))),
        (2, bytearray(_bmp_encode((gray // 2).astype(np.uint8)))),
        (3, bytearray(_bmp_encode((255 - gray).astype(np.uint8)))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: (r.dhash_hi, r.dhash_lo)
        for r in perceptual_dhash(df).collect()
    }
    assert out[0] == out[1]  # NN upscale collides
    assert out[0] == out[2]  # monotone tone shift collides
    assert out[0] != out[3]  # inversion must not collide
    assert 0 <= out[0][0] < 2**32 and 0 <= out[0][1] < 2**32  # sign-safe


def test_simhash_hot_bucket_guard(spark, monkeypatch):
    """Degenerate corpus: identical documents share every band's bits,
    so the unguarded per-band self-join emits the O(n²) clique inside
    one bucket (the bucket-skew corpus measured the blowup in r9).
    With max_bucket below the bucket size the op must emit the hub
    star only — hamming 0 from the hub to every member — and stay
    exact for sub-cap corpora."""
    from trading212_etl_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 50)
    n = 120
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "'the same boilerplate line repeated verbatim in every document"
        " of this degenerate corpus slice' AS text",
    )
    got = simhash_near_pairs(docs).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == {(0, i) for i in range(1, n)}
    assert all(r.hamming == 0 for r in got)
    comp = connected_components(
        spark.createDataFrame(
            [(r.doc_a, r.doc_b) for r in got], "doc_a long, doc_b long"
        )
    )
    assert comp.select("component").distinct().count() == 1
    # under the cap: exact clique
    few = docs.limit(6)
    assert simhash_near_pairs(few).count() == 15  # C(6,2)


def test_embedding_near_dup_lsh_hot_bucket_guard(spark, monkeypatch):
    """Degenerate corpus: identical embeddings land in one bucket of
    every hyperplane table; the unguarded gram matmul is O(bucket²)
    FLOPs in a single applyInPandas task. Over the cap the scorer
    must emit the hub star (cos 1.0 to every member); under it, the
    exact clique."""
    n, dim = 96, 8
    monkeypatch.setattr(similarity, "NEAR_DUP_COS", 0.9)
    monkeypatch.setattr(similarity, "DIM", dim)
    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 40)
    vec = ", ".join(["0.5"] * dim)
    emb = spark.range(n).selectExpr(
        "id AS vec_id", f"array({vec}) AS embedding"
    )
    got = embedding_near_dup_pairs_lsh(emb).collect()
    assert {(r.vec_a, r.vec_b) for r in got} == {(0, i) for i in range(1, n)}
    assert all(abs(r.cos_sim - 1.0) < 1e-9 for r in got)
    few = emb.limit(5)
    exact = embedding_near_dup_pairs_lsh(few)
    assert exact.count() == 10  # C(5,2)


def test_simhash_star_keeps_member_pairs_reachable_above_cap(spark, monkeypatch):
    """VERDICT r10 item 2 (the star-guard recall hole): members of an
    over-cap bucket whose hamming to the HUB exceeds ``max_hamming``
    used to lose ALL their pairs — including member↔member clone
    pairs at hamming 0. Star edges must now leave UNFILTERED (true
    hamming, above-threshold included) so downstream clustering still
    connects those members through the hub; strict consumers filter
    ``hamming <= max_hamming`` themselves.

    Construction: n_bands = n_bits (SIMHASH_BANDS monkeypatched to
    SIMHASH_BITS) gives single-bit bands, and 16
    LOW-id far-sketch docs guarantee (w.h.p. under the fixed hash;
    asserted, not assumed) that EVERY bucket holding the 60
    identical high-id clones also holds a far doc with a smaller id
    — so every clone bucket is over-cap with a FAR hub. On the old
    code the entire output is empty: every star edge fails the
    hamming filter and the clones' hamming-0 pairs have no under-cap
    bucket to surface through."""
    from trading212_etl_spark.operators.dedup import (
        connected_components,
        simhash_near_pairs,
    )

    # 16 frozen random-word texts: under the md5 sketch (a) every one
    # of the 48 single-bit clone buckets contains >= 1 far doc, (b)
    # min hamming(far, clone) = 17 and min hamming(far, far) = 16 —
    # all safely above max_hamming
    far_texts = [
        "ynbiqpmz plsgqej ydtzir jdxcvk rdlnktug oqibzrac wzvuatpk xkwcgs hzezro",
        "szycid yopumzgd amntyyaw ixzhsdka auram nxaqhy prhlhvhy janrudfu dxkxwqn",
        "cclfx itgtbsv numzxq roqibal kmnqfrfh afkfeq qvrfozn zsllofy wxouqhpi",
        "sreltp tapir gwprrp uehueqmx vycfy jyaip wznmxzso ldbepg vnyujnq",
        "jdxmpe camrj hqrli digauz zigfjju ctkvmqh hpicrj jswjy nntjno",
        "xlzwxuq oyhub dlphmr shaxg ifymfyzc ttoeea gygff kgrvugf mjalnf",
        "pyiba vspyxl yaipzgx rrvdgsrw vztvcnk lznzi wdygwuzj bsgul gqsuwzqa",
        "emubcrd sbqgbcn chcrnbsd uusbss bhbrejne sjrvf ssugl rwcsb pvrnyk",
        "lmegwb ehzqg uaopomps mcphya qnpmxdv dcmtmdv khwcp szetcr pwges",
        "tliefvak tckrtwbx fwoxnffh deqsc zxdjgvhx cyigmikz gwanb peahnxdt dysgg",
        "npsag piuzfbqp chxlbne mnjviof vleoyho bsahegjr yhkvron cuskqfhn bbpjtv",
        "ryooqsgf utzfdoje rzwub ouxtufta bbght yokos qhujpa ouinr wikyh",
        "ivqvlema piuzowt ravteo fkgbsgc vmzcabv cnodvn rktrfw rfqcm vtpptmra",
        "jvvzfuh huxfec xjanev ieczz oxnezil pyrsnv nukudlt wortxeo rfjgfqli",
        "twyuq ixijxc jovmmydi klzilz frvvif ucdtk cigmm tduvdssu fdxpqvg",
        "aqxbfh bzvew hdkowli ilhglzkh xqnhson coszlosk myzcpage tzwxaj eddmbcox",
    ]
    far = list(enumerate(far_texts))
    clones = [
        (100 + j, "identical boilerplate clone text shared verbatim "
                  "by every member document in the hot bucket")
        for j in range(60)
    ]
    docs = spark.createDataFrame(far + clones, "doc_id long, text string")
    monkeypatch.setattr(dedup, "SIMHASH_BANDS", dedup.SIMHASH_BITS)
    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 50)
    got = simhash_near_pairs(docs).collect()
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in got}
    member_edges = {
        p: h for p, h in pairs.items() if p[0] >= 100 or p[1] >= 100
    }
    # every clone-touching edge is a far-hub star (hub id < 100) with
    # TRUE hamming above the threshold — the construction's premise
    assert member_edges, "no star edges emitted — the recall hole is back"
    assert all(p[0] < 100 for p in member_edges), sorted(member_edges)[:5]
    assert all(h > 3 for h in member_edges.values()), sorted(
        set(member_edges.values())
    )
    # the recall payoff: the hamming-0 clone pairs stay hub-reachable
    # — all 60 clones land in ONE component instead of vanishing
    comp = connected_components(
        spark.createDataFrame(sorted(pairs), "doc_a long, doc_b long")
    ).collect()
    clone_comps = {r.component for r in comp if r.doc_id >= 100}
    clone_docs = {r.doc_id for r in comp if r.doc_id >= 100}
    assert clone_docs == {100 + j for j in range(60)}, len(clone_docs)
    assert len(clone_comps) == 1, clone_comps


def test_embedding_star_keeps_member_pairs_reachable_above_cap(spark, monkeypatch):
    """Embedding twin of the simhash star-recall probe (VERDICT r10
    item 2): an over-cap bucket whose hub is nearly ORTHOGONAL to the
    clone members used to emit zero edges (every hub↔member cosine
    fails the threshold), silently dropping the clones' cos-1.0
    pairs. Star edges must now carry their true below-threshold
    cosine so the members stay hub-reachable. One table × one plane
    makes co-bucketing deterministic: the hub is built with a tiny
    positive component along the plane normal, so it lands in the
    clones' sign bucket while cos(hub, clone) ≈ 0."""
    import numpy as np

    from trading212_etl_spark.operators.dedup import connected_components
    from trading212_etl_spark.operators.similarity import _lsh_tables

    dim, n = 8, 60
    monkeypatch.setattr(similarity, "NEAR_DUP_COS", 0.9)
    monkeypatch.setattr(similarity, "LSH_PLANES", 1)
    monkeypatch.setattr(similarity, "LSH_TABLES", 1)
    monkeypatch.setattr(similarity, "DIM", dim)
    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 40)
    h = np.asarray(_lsh_tables()[0][0])
    clone = h / np.linalg.norm(h)  # dot(clone, h) > 0
    # hub: orthogonal direction + 1% along h -> same sign bucket,
    # cos(hub, clone) ~ 0.01
    u = np.zeros(dim)
    u[0] = 1.0
    u = u - (u @ clone) * clone
    u /= np.linalg.norm(u)
    hub = u + 0.01 * clone
    rows = [(0, [float(x) for x in hub])] + [
        (i, [float(x) for x in clone]) for i in range(1, n + 1)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs_lsh(emb).collect()
    pairs = {(r.vec_a, r.vec_b): r.cos_sim for r in got}
    assert set(pairs) == {(0, i) for i in range(1, n + 1)}, sorted(pairs)[:5]
    # true cosines are FAR below threshold — and still emitted
    assert all(c < 0.9 for c in pairs.values()), sorted(set(pairs.values()))
    comp = connected_components(
        spark.createDataFrame(
            sorted(pairs), "doc_a long, doc_b long"
        )
    )
    assert comp.select("component").distinct().count() == 1


def test_embedding_near_dup_lsh_under_cap_chunked_gram_is_exact(spark, monkeypatch):
    """The r10 under-cap guard (VERDICT r9 item 3): a bucket below
    ``max_bucket`` but above ``gram_cap`` is scored as chunk-pair
    TILES across tasks instead of one O(bucket²) gram task. The tile
    decomposition must be EXACT — same pair set, same cosines as the
    single-task gram — verified here against the brute-force pair op
    on a corpus of distinct vectors that all co-bucket (nonnegative
    vectors share every sign-bit bucket), with gram_cap far below the
    bucket size so every tile shape (diagonal + cross) executes."""
    from trading212_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    n, dim = 90, 8
    monkeypatch.setattr(similarity, "NEAR_DUP_COS", 0.9)
    monkeypatch.setattr(similarity, "DIM", dim)
    monkeypatch.setattr(similarity, "GRAM_CAP", 16)
    # distinct nonnegative vectors -> one bucket per table, varied cos
    emb = spark.range(n).selectExpr(
        "id AS vec_id",
        f"transform(sequence(0, {dim - 1}),"
        " d -> 0.2 + pmod(cast(id AS double) * (d + 3), 7.0)) AS embedding",
    )
    chunked = embedding_near_dup_pairs_lsh(emb).collect()
    exact = embedding_near_dup_pairs(emb).collect()
    got = {(r.vec_a, r.vec_b): r.cos_sim for r in chunked}
    want = {(r.vec_a, r.vec_b): r.cos_sim for r in exact}
    # every vector shares the all-positive-sign bucket in every table,
    # so LSH recall is 1.0 here and the two must agree exactly
    assert got == want and len(want) > 50


def test_substring_spans_hot_window_guard(spark, monkeypatch):
    """Degenerate corpus: one boilerplate 12-token span shared by all
    n docs makes every positional 5-gram window's df = n, so the
    unguarded h-equi-join emits O(n²) matches (12.5× measured on the
    bucket-skew corpus). Over the cap only hub↔member matches
    survive: the hub (min doc id) must still pair with every member
    at the full span length, and member↔member pairs must be absent
    (their only shared windows are over-cap). Under the cap the
    exact all-pairs output is unchanged."""
    from trading212_etl_spark.operators.dedup import substring_span_pairs

    monkeypatch.setattr(dedup, "HOT_BUCKET_CAP", 30)
    n = 60
    # alpha-only span tokens: the corpus tokenizer splits digit-bearing
    # words, which would stretch the expected span length
    span = " ".join(chr(ord("a") + i) * 3 for i in range(12))
    # shared run = 'prefix <12 tokens> suffix' = 14 tokens; the doc-id
    # numbers flanking it differ per doc and cut the run there
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        f"concat('doc ', CAST(id AS STRING), ' prefix {span} suffix ',"
        " CAST(id AS STRING)) AS text",
    )
    got = substring_span_pairs(docs).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == {(0, i) for i in range(1, n)}
    assert all(r.max_span_tokens == 14 for r in got)
    # under the cap: the full C(4,2) clique at the same span length
    few = docs.limit(4)
    exact = substring_span_pairs(few)
    rows = exact.collect()
    assert len(rows) == 6
    assert all(r.max_span_tokens == 14 for r in rows)


def test_hll_union_is_grouping_invariant(spark, sf_dir):
    """Seeded merge-associativity fuzz for the sketch layer under
    events_hll_rollup (r8 verdict item 9): an HLL union is a
    register-wise max, so re-aggregating per-shard sketches must give
    the IDENTICAL estimate no matter how the rows were sharded — the
    exact property that lets the hourly layer roll up to any coarser
    grain at 100 TB. Shard the events by a hash of event_id into k
    shards for several k (and one adversarial shard-by-user split
    where every duplicate user lands in one shard), sketch each
    shard, union — the estimate must be bit-equal to the single-shot
    sketch's."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("e")
    ).first()["e"]
    for shards in (2, 5, 13):
        merged = (
            ev.groupBy((F.xxhash64("event_id") % shards).alias("shard"))
            .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
            .first()["e"]
        )
        assert merged == single, (shards, merged, single)
    # adversarial split: shard BY THE SKETCHED KEY — every duplicate
    # collapses into one shard, the opposite extreme of random
    merged = (
        ev.groupBy((F.col("user_id") % 7).alias("shard"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    assert merged == single, ("by-key", merged, single)


def test_approx_sketches_within_refutable_bounds(spark, sf_dir):
    """Refute-style error bounds for agg_approx_sketches (r8 verdict
    item 9): per group, approx_count_distinct(rsd=0.02) must land
    within 3·rsd of the exact distinct count (99.7% band; a
    deterministic engine either passes always or never), and each
    percentile_approx(accuracy=10000) value must be an ACTUAL column
    value whose rank error is within the documented n/accuracy
    bound (+1 rank slack)."""
    import bisect

    from pyspark.sql import functions as F

    from trading212_etl_spark.registry import QUERIES

    approx = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_approx_sketches"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact_n = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact_n)
    vals = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals.setdefault(r["l_returnflag"], []).append(r["l_extendedprice"])
    for flag, row in approx.items():
        n_exact = exact_n[flag]
        assert abs(row["n_orders_approx"] - n_exact) <= max(
            2, 3 * 0.02 * n_exact
        ), (flag, row["n_orders_approx"], n_exact)
        xs = sorted(vals[flag])
        n = len(xs)
        slack = n / 10000.0 + 1
        for q, col in ((0.5, "median_approx"), (0.9, "p90_approx")):
            v = row[col]
            # the estimate must be a real data value...
            i = bisect.bisect_left(xs, v)
            assert i < n and xs[i] == v, (flag, col, v)
            # ...whose rank is within the documented error of q·n
            lo = bisect.bisect_left(xs, v)
            hi = bisect.bisect_right(xs, v) - 1
            target = q * (n - 1)
            assert lo - slack <= target <= hi + slack, (
                flag, col, v, lo, hi, target, n
            )


def test_guarded_ops_oracle_corpora_under_caps(spark):
    """Cap-precondition for the three r9 star-guarded operators, same
    rationale as test_minhash_lsh_oracle_corpus_under_cap (ADVICE r5):
    each DuckDB oracle models the exact (all-pairs) path only, so
    parity REQUIRES the driver corpus never to push a bucket over the
    4096 default cap. Assert the preconditions directly at the
    driver's sf0.01 so a corpus/testdata change fails HERE with a cap
    message, not as a value diff in a CORRECTNESS row. (Measured
    headroom: simhash max band bucket ~tens, max window df 3-4,
    embedding buckets ~hundreds.)"""
    import numpy as _np

    from trading212_etl_spark.operators.similarity import (
        _bands_arrow_udf,
        _lsh_tables,
    )

    cap = dedup.HOT_BUCKET_CAP
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    # simhash: per-(band_idx, band_bits) bucket sizes
    sk = simhash(docs)
    n_bands = dedup.SIMHASH_BANDS
    width = dedup.SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    banded = sk.select(
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
        ).alias("b")
    )
    max_bucket = (
        banded.groupBy("b.band_idx", "b.band_bits")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_bucket <= cap, (
        f"simhash band bucket grew to {max_bucket} > {cap}: the "
        f"dedup_simhash oracle's all-pairs expansion no longer matches "
        f"the engine's star fallback"
    )
    # substring spans: per-window-hash occurrence counts (df)
    from trading212_etl_spark.operators.textual import tokens as _tokens

    win = docs.select(_tokens("text").alias("__toks")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) < 5 THEN array()"
                " ELSE transform(sequence(1, size(__toks) - 4),"
                " i -> xxhash64(array_join(slice(__toks, i, 5), ' ')))"
                " END"
            )
        ).alias("h")
    )
    max_df = win.groupBy("h").count().agg(F.max("count")).first()[0]
    assert max_df <= cap, (
        f"5-gram window df grew to {max_df} > {cap}: the "
        f"dedup_substring_spans oracle no longer matches the engine's "
        f"hot-window star"
    )
    # embedding near-dup LSH: per-(tbl, bkt) bucket sizes under the
    # entry's hyperplane tables
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    tables = _lsh_tables()
    b = emb.select(
        F.posexplode(
            _bands_arrow_udf(tables)(
                F.col("embedding").cast("array<double>")
            )
        ).alias("tbl", "bkt")
    )
    max_eb = b.groupBy("tbl", "bkt").count().agg(F.max("count")).first()[0]
    assert max_eb <= cap, (
        f"embedding LSH bucket grew to {max_eb} > {cap}: the "
        f"embedding_near_dup_lsh oracle no longer matches the engine's "
        f"star fallback"
    )


def test_write_ivf_cells_salts_hot_cell(spark, tmp_path):
    """The IVF cell sink (sink_ivf_partitioned_ann writes its cells
    through write_parquet) must not write a hot cell from ONE task: a
    25%-hot cell at 100 TB would be one 25 TB writer. With a 1 KB
    advisory size, AQE splits the 900-row cell over several writer
    tasks -> multiple part files. Layout-only: the read-back row set
    and schema are identical."""
    import glob
    import os

    from trading212_etl_spark.sources.writers import write_parquet

    from .test_plans import _confs

    # 8 map tasks whatever the host's core count, so the hot cell's
    # shuffle blocks can be split across writer tasks
    assigned = spark.range(0, 950, 1, 8).selectExpr(
        "id AS vec_id",
        "array(cast(id AS double)) AS c_emb",
        "CASE WHEN id < 900 THEN 1 ELSE 2 END AS cell",
    )
    path = str(tmp_path / "cells")
    with _confs(spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}):
        write_parquet(assigned, path, partition_by=["cell"])
    hot_files = glob.glob(os.path.join(path, "cell=1", "*.parquet"))
    assert len(hot_files) >= 2, (
        f"hot cell written as {len(hot_files)} file(s) — AQE did not "
        "spread the write across tasks"
    )
    back = spark.read.parquet(path)
    assert sorted(back.columns) == ["c_emb", "cell", "vec_id"]
    assert back.count() == 950
    assert back.filter("cell = 1").count() == 900
    # identical row set, not just counts
    assert back.select("vec_id").exceptAll(
        assigned.select("vec_id")
    ).count() == 0


def test_write_ivf_cells_keeps_null_cell_rows(spark, tmp_path):
    """Rows with a NULL cell must survive the IVF cell write (landing
    under the default Hive partition, reading back with cell IS NULL):
    the row set written is identical to the row set assigned."""
    from trading212_etl_spark.sources.writers import write_parquet

    assigned = spark.range(100).selectExpr(
        "id AS vec_id",
        "array(cast(id AS double)) AS c_emb",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 3 END AS cell",
    )
    path = str(tmp_path / "cells_null")
    write_parquet(assigned, path, partition_by=["cell"])
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert back.filter("cell IS NULL").count() == 10
    assert back.select("vec_id").exceptAll(
        assigned.select("vec_id")
    ).count() == 0


def test_pairs_top_k_bound_keeps_clique_connectivity(spark):
    """VERDICT r10 item 5: the exact-pair family's opt-in output bound.
    ``top_k_per_doc`` must (a) truncate a clique's quadratic listing
    to O(n*k) edges, (b) keep every kept row identical to the
    unbounded output (a SUBSET, same jaccard values), and (c) preserve
    clique connectivity — each member's top partner is the clique
    minimum, so downstream connected-components labels are unchanged."""
    from trading212_etl_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    n = 12
    docs = spark.range(1, n + 1).selectExpr(
        "id AS doc_id",
        "'the same boilerplate sentence repeated in every clique member"
        " document body' AS text",
    ).unionByName(
        spark.createDataFrame(
            [(100, "a lonely unrelated document about completely other"
                   " things entirely")],
            "doc_id long, text string",
        )
    )
    full = jaccard_pairs(docs).collect()
    bounded = jaccard_pairs(docs, top_k_per_doc=1).collect()
    full_set = {(r.doc_a, r.doc_b): r.jaccard for r in full}
    b_set = {(r.doc_a, r.doc_b): r.jaccard for r in bounded}
    assert len(full_set) == n * (n - 1) // 2  # the quadratic clique
    # subset with identical values, and truncated to O(n*k)
    assert set(b_set) <= set(full_set)
    assert all(b_set[p] == full_set[p] for p in b_set)
    assert len(b_set) <= 2 * n
    # clique stays ONE component under the bound
    comp = connected_components(
        spark.createDataFrame(sorted(b_set), "doc_a long, doc_b long")
    )
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n


def test_pairs_top_k_bounds_candidate_generation(spark):
    """VERDICT r11 item 2: with ``top_k_per_doc`` set the bound must
    reach CANDIDATE generation, not just the output — and on a corpus
    where candidate pruning actually bites (cliques far larger than
    the hub cap), the kept top-k pairs must be IDENTICAL to the
    unbounded path truncated after full scoring.

    Corpus: two equal-similarity cliques (40 and 25 identical copies;
    hub cap for k=2 is max(k+1, 8) = 8, so both buckets prune) plus
    an unrelated singleton. Proof obligation from
    _hub_candidate_pairs' docstring: h ≥ k+1 hubs reproduce the exact
    kNN subgraph of an equal-similarity clique."""
    import warnings as _w

    from trading212_etl_spark.operators.dedup import (
        _hub_candidate_pairs,
        _shingle_sets,
        _top_k_per_doc,
        containment_pairs,
        jaccard_pairs,
    )
    from pyspark.sql import functions as F

    clique_a = spark.range(1, 41).selectExpr(
        "id AS doc_id",
        "'alpha clique body with plenty of repeated shared shingle"
        " material across each replicated member document' AS text",
    )
    clique_b = spark.range(200, 225).selectExpr(
        "id AS doc_id",
        "'beta clique text entirely different content but again"
        " identical across its own copies of the document body' AS text",
    )
    lone = spark.createDataFrame(
        [(999, "a lonely unrelated document about some other topic")],
        "doc_id long, text string",
    )
    docs = clique_a.unionByName(clique_b).unionByName(lone)

    # (a) pruning bites: hub candidates are a strict, linear subset of
    # the quadratic pair listing (C(40,2)+C(25,2) = 1080 true pairs)
    sh = _shingle_sets(docs)
    n_cand = _hub_candidate_pairs(sh, hubs=8).count()
    assert n_cand < 1080, n_cand
    # hub edges + successor edges: ≤ 2·h per member — O(h·n), not O(n²)
    assert n_cand <= 2 * 8 * 65, n_cand

    # (b) kept top-k pairs unchanged vs the unbounded path + output
    # truncation, values included
    k = 2
    full = jaccard_pairs(docs)
    expect = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _top_k_per_doc(full, k, "jaccard").collect()
    }
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        got_df = jaccard_pairs(docs, top_k_per_doc=k)
        got = {(r.doc_a, r.doc_b): r.jaccard for r in got_df.collect()}
    assert got == expect
    # (c) the truncation is LOUD: a warning names the bound
    assert any("BOUNDED" in str(w.message) for w in caught)

    # (d) containment shares the route through the same skeleton
    c_expect = {
        (r.doc_a, r.doc_b): r.max_containment
        for r in _top_k_per_doc(
            containment_pairs(docs, threshold=0.5, top_k_per_doc=None),
            k,
            "max_containment",
        ).collect()
    }
    c_got = {
        (r.doc_a, r.doc_b): r.max_containment
        for r in containment_pairs(docs, threshold=0.5, top_k_per_doc=k).collect()
    }
    assert c_got == c_expect


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """bloom_build/bloom_maybe_contains contract: every inserted key
    passes (false negatives impossible — the exactness the
    decontaminate_bloom oracle relies on), and the false-positive rate
    on disjoint probes stays near the analytic (1-e^(-kn/m))^k."""
    from trading212_etl_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = spark.range(0, 1000).select(
        F.xxhash64(F.col("id"), F.lit("member")).alias("key")
    )
    bloom = bloom_build(members, "key")
    assert bloom_maybe_contains(members, bloom, "key").count() == 1000
    outsiders = spark.range(0, 20000).select(
        F.xxhash64(F.col("id"), F.lit("outsider")).alias("key")
    )
    fp = bloom_maybe_contains(outsiders, bloom, "key").count()
    # analytic FP at m=2^18, n=1000, k=3 is ~2e-6; 1% is a loose roof
    assert fp <= 200, f"false-positive rate {fp/20000} way above bound"


def test_decontaminate_bloom_matches_exact_and_prunes(spark, sf_dir):
    """The Bloom pre-filter is a plan-level accelerator: output must be
    BIT-IDENTICAL to the plain exact pass, and the pre-filter must
    actually discard most of the corpus-side probe rows."""
    from trading212_etl_spark.operators.dedup import (
        _distinct_shingle_hashes,
        _shingle_hashes,
        bloom_build,
        bloom_maybe_contains,
        decontaminate,
        decontaminate_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 101 != 0)
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    exact = {tuple(r) for r in decontaminate(corpus, bench).collect()}
    got = {tuple(r) for r in decontaminate_bloom(corpus, bench).collect()}
    assert got == exact
    assert exact, "split should plant some contamination"
    # the probe side is the whole corpus's shingle instances; the
    # maybe-set should be a small fraction (true hits + ~0 Bloom FPs)
    probe = _shingle_hashes(corpus)
    bloom = bloom_build(_distinct_shingle_hashes(bench), "shingle")
    probe_rows = probe.count()
    maybe_rows = bloom_maybe_contains(probe, bloom, "shingle").count()
    assert maybe_rows < 0.2 * probe_rows, (maybe_rows, probe_rows)


def test_incremental_minhash_sink_estimator(spark, sf_dir, tmp_path, monkeypatch):
    """Incremental-vs-snapshot dedup (md5 signatures): the
    persisted-signature estimator must (a) find every strong bipartite
    near-dup (exact J >= 0.8 — banding and the estimator are both
    near-certain there), (b) stay calibrated against exact Jaccard on
    the pairs it emits, and (c) emit only (new x snapshot) pairs."""
    from trading212_etl_spark.operators import dedup
    from trading212_etl_spark.operators.dedup import (
        incremental_minhash_pairs,
        jaccard_pairs,
        write_signature_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    snapshot = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "sink")
    write_signature_sink(snapshot, path)
    inc = incremental_minhash_pairs(new, path).collect()
    assert inc, "corpus plants cross-split near-dups"
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    old_ids = {r.doc_id for r in snapshot.select("doc_id").collect()}
    assert all(r.doc_new in new_ids and r.doc_old in old_ids for r in inc)
    # exact bipartite ground truth from the shingle sets (every pair
    # sharing a shingle: the cut drops to 0 for this listing only)
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "JACCARD_THRESHOLD", 0.0)
        listed = jaccard_pairs(docs).collect()
    exact = {
        frozenset((r.doc_a, r.doc_b)): r.jaccard
        for r in listed
        if (r.doc_a in new_ids) != (r.doc_b in new_ids)
    }
    strong = {p for p, j in exact.items() if j >= 0.8}
    found = {frozenset((r.doc_new, r.doc_old)) for r in inc}
    assert strong, "corpus should plant strong cross-split dups"
    missed = strong - found
    assert not missed, f"missed strong near-dups: {missed}"
    # estimator calibration on emitted pairs: n_match/K is an unbiased
    # J estimator with sd <= sqrt(.25/32) ~= 0.088; 5 sd roof per pair
    errs = [
        abs(r.est_jaccard - exact[frozenset((r.doc_new, r.doc_old))])
        for r in inc
        if frozenset((r.doc_new, r.doc_old)) in exact
    ]
    assert errs and max(errs) <= 0.45, (max(errs), len(errs))
    assert sum(errs) / len(errs) <= 0.15, sum(errs) / len(errs)


SCORE_ADVERSARIAL = [
    "",
    "   \t\n ",
    "Hello WORLD, MiXeD Case!",
    "tab\tsep\nnew line\r\nand  double  spaces",
    "café Ünïcode naïve ÀÉÎ ß ø",
    "emoji 😀 and 𝔘𝔫𝔦 text!",
    "a\xa0b c — “quotes” 42x 7",
    "###$$$%%%",
    "form\x0bfeed",
]


def test_score_counts_equal_extract_and_aggregate_forms(spark, sf_dir):
    """score_docs counts symbols by deleting the non-symbols and sums
    token lengths by joining the tokens. Both must equal the
    match-array and per-token forms — DuckDB's, which the oracles
    use, and the Spark forms they replaced — on the corpus and on
    adversarial strings: uppercase (a symbol, being counted on the
    original case), tabs and newlines, empty and whitespace-only
    text, non-ASCII and supplementary-plane characters, a vertical
    tab.

    The two engines agree on every string: the shared regexes spell
    the whitespace class out (RE2's \\s lacks the vertical tab that
    Java's holds), and the oracles' token-length sum over no tokens
    is 0, not list_sum's NULL."""
    import os

    import duckdb

    from trading212_etl_spark.operators.textual import SYMBOL_RE, score_docs, tokens
    from trading212_etl_spark.registry._core import _TOKS

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    corpus = [
        r.text
        for r in load_table(spark, sf001, "documents").select("text").collect()
    ]
    texts = SCORE_ADVERSARIAL + corpus
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    cols = ["n_chars", "n_sym", "n_tokens", "sum_len"]
    got = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in score_docs(docs, "doc_id").select("doc_id", *cols).collect()
    }
    toks = tokens("text")
    replaced = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in docs.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.size(F.regexp_extract_all("text", F.lit(SYMBOL_RE), 0)).alias("n_sym"),
            F.size(toks).alias("n_tokens"),
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).alias("sum_len"),
        ).collect()
    }
    duck = {
        i: tuple(rest)
        for i, *rest in duckdb.execute(
            f"""
            SELECT doc_id, length(text),
                   len(regexp_extract_all(text, '{SYMBOL_RE}')),
                   len(toks),
                   CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                        AS BIGINT)
            FROM (SELECT doc_id, text, {_TOKS} AS toks
                  FROM (SELECT unnest(range(len($texts))) AS doc_id,
                               unnest($texts) AS text))
            """,
            {"texts": texts},
        ).fetchall()
    }
    assert len(got) == len(texts) > len(SCORE_ADVERSARIAL)
    assert got == replaced
    empty, blank, vtab = (
        SCORE_ADVERSARIAL.index(t) for t in ("", "   \t\n ", "form\x0bfeed")
    )
    assert (got[empty], got[blank], got[vtab]) == (
        (0, 0, 0, 0),
        (6, 0, 0, 0),
        (9, 0, 2, 8),
    )
    assert got == duck
