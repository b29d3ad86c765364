"""Semantic tests for the EXT LLM-pipeline operators: the near-dup
detectors must actually find injected near-duplicates (not just run),
LSH must agree with brute force on easy neighbors, and the multimodal
plumbing must produce well-formed Arrow batches."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark.operators import dedup as D  # noqa: E402
from real_timetransactionaldatalakehouse_spark.operators import multimodal as MM  # noqa: E402
from real_timetransactionaldatalakehouse_spark.operators import similarity as S  # noqa: E402
from real_timetransactionaldatalakehouse_spark.sources import load_table  # noqa: E402


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").select("doc_id", "text")


def _with_mutants(docs, n=20, offset=200000):
    toks = F.split(F.col("text"), " ")
    mutated = docs.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    return docs.unionByName(mutated)


def test_minhash_finds_injected_neardups(docs):
    pairs = D.minhash_neardup_pairs(_with_mutants(docs), jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every mutant (doc dropped 2 trailing words) should pair with its original
    expected = {(i, i + 200000) for i in range(20)}
    hits = expected & found
    assert len(hits) >= 15, f"minhash found only {len(hits)}/20 injected near-dups: {sorted(found)[:10]}"
    # signatures must differ across seeds (regression: seed shadowing bug)
    sig = docs.select(D.minhash_signature("text", 8).alias("s")).first()["s"]
    assert len(set(sig)) > 1, "all minhash seeds produced identical values"


def test_minhash_no_false_positive_explosion(docs):
    pairs = D.minhash_neardup_pairs(docs, jaccard_threshold=0.9)
    n_docs = docs.count()
    assert pairs.count() < n_docs  # distinct corpus: near-identity pairs only


def test_simhash_finds_injected_neardups(docs):
    pairs = D.simhash_neardup_pairs(_with_mutants(docs), max_hamming=8)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 200000) for i in range(20)}
    assert len(expected & found) >= 15


def test_simhash_auto_chunks_derivation_and_wide_tier(docs):
    """r11 (VERDICT r10 #3): chunks="auto" derives the banding scheme
    from corpus size.  (a) The derivation ladder: 4x16 single chunks
    while the expected 16-bit bucket is within half the cap (~8.4M
    docs at cap 256; a bigger cap moves the boundary out), then
    C(6,2) / C(8,4) combination schemes.  (b) At small corpus size
    the auto output is IDENTICAL to the explicitly pinned fixed
    scheme (the bit-identity that lets the r10-certified query keep
    its hash).  (c) The growth tiers guarantee d <= 4 (one stronger
    than tier 0's d <= 3): every hamming <= 4 pair tier 0 finds must
    appear in their output, the tiers agree exactly at <= 3 (all
    guarantee it), and every emitted pair passes the exact hamming
    filter."""
    assert D.derive_simhash_chunks(500) == ((16, 16, 16, 16), 1)
    assert D.derive_simhash_chunks(8_000_000) == ((16, 16, 16, 16), 1)
    assert D.derive_simhash_chunks(20_000_000) == (
        (11, 11, 11, 11, 10, 10), 2)
    assert D.derive_simhash_chunks(10**9) == ((8,) * 8, 4)
    assert D.derive_simhash_chunks(20_000_000, max_bucket=1024) == (
        (16, 16, 16, 16), 1)
    assert all(sum(w) == 64 and len(w) - m == (3 if m == 1 else 4)
               for w, m in (D.derive_simhash_chunks(n)
                            for n in (500, 2 * 10**7, 10**9)))

    corpus = _with_mutants(docs)
    auto = {(r.id_a, r.id_b, r.hamming)
            for r in D.simhash_neardup_pairs(corpus, max_hamming=8).collect()}
    fixed = {(r.id_a, r.id_b, r.hamming)
             for r in D.simhash_neardup_pairs(
                 corpus, max_hamming=8,
                 chunks=((16, 16, 16, 16), 1)).collect()}
    assert auto == fixed
    for count, scheme in ((2 * 10**7, ((11, 11, 11, 11, 10, 10), 2)),
                          (10**9, ((8,) * 8, 4))):
        assert D.derive_simhash_chunks(count) == scheme
        wide = {(r.id_a, r.id_b, r.hamming)
                for r in D.simhash_neardup_pairs(
                    corpus, max_hamming=8, corpus_count=count).collect()}
        # shared guarantee band: exact agreement at d <= 3
        assert ({p for p in auto if p[2] <= 3}
                == {p for p in wide if p[2] <= 3}), scheme
        # growth-tier guarantee d <= 4: nothing tier 0 found there
        # may be missed
        assert {p for p in auto if p[2] <= 4} <= wide, scheme
        assert all(h <= 8 for _, _, h in wide)
        # planted near-copies inside the guarantee band all surface
        # (12 of the 20 mutants sit at hamming <= 4 on this corpus;
        # the rest are the documented probabilistic tail)
        planted_found = {(a, b) for a, b, _ in wide
                         if (a, b) in {(i, i + 200000) for i in range(20)}}
        assert len(planted_found) >= 12, (scheme, sorted(planted_found))


def test_lsh_recovers_bruteforce_top1_mostly(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    bf = {r.query_id: r.neighbor_id for r in S.knn_bruteforce(q, emb, k=1).collect()}
    lsh = S.knn_lsh(q, emb, k=1, planes=4, tables=16)
    ls = {r.query_id: r.neighbor_id for r in lsh.collect()}
    agree = sum(1 for k in bf if ls.get(k) == bf[k])
    # 16 tables x 4 planes OR-amplified: top-1 should co-bucket in some table
    assert agree >= 12, f"LSH top-1 agreed on only {agree}/20 queries"


def test_ivf_recovers_bruteforce_topk_mostly(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    bf = {r.query_id: r.neighbor_id for r in S.knn_bruteforce(q, emb, k=1).collect()}
    ivf = {r.query_id: r.neighbor_id for r in
           S.knn_ivf(q, emb, k=1, n_centroids=8, n_probe=3).collect()}
    agree = sum(1 for k in bf if ivf.get(k) == bf[k])
    assert agree >= 10, f"IVF top-1 agreed on only {agree}/20 queries"
    # determinism: same centroids, same result
    ivf2 = {r.query_id: r.neighbor_id for r in
            S.knn_ivf(q, emb, k=1, n_centroids=8, n_probe=3).collect()}
    assert ivf == ivf2


def test_multimodal_feature_batches(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs, n=30)
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.features) == MM.FEATURE_DIM
        assert all(-1.0 <= v <= 1.0 for v in r.features)
    # determinism: same payload -> same features
    again = {r.media_id: r.features for r in MM.extract_features(media).collect()}
    for r in rows:
        assert again[r.media_id] == r.features


def test_multimodal_expr_equals_arrow_kernel(spark, sf_small):
    """The codegen md5 feature expression must be value-identical to
    the Arrow kernel (same FAKE extractor, two execution paths) —
    float32 for float32, including the NULL-payload zero vector."""
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs, n=30).withColumn(
        "payload",
        F.when(F.col("media_id") % 7 == 0, F.lit(None)).otherwise(F.col("payload")),
    )
    via_expr = {r.media_id: r.features
                for r in MM.extract_features(media, impl="expr").collect()}
    via_arrow = {r.media_id: r.features
                 for r in MM.extract_features(media, impl="arrow").collect()}
    assert via_expr == via_arrow
    # python reference on one concrete payload
    row = media.filter(F.col("payload").isNotNull()).limit(1).collect()[0]
    expected = MM.deterministic_fake_features(bytes(row.payload))
    got = via_expr[row.media_id]
    assert all(abs(a - b) < 1e-6 for a, b in zip(got, expected))


def test_multimodal_expr_plan_has_no_python(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs, n=30)
    plan = MM.extract_features(media)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_multimodal_frame_sample(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs, n=30)
    frames = MM.frame_sample(media, every_ms=1000)
    vids = media.filter(F.col("kind") == "video").count()
    assert frames.select("media_id").distinct().count() == vids
    assert frames.filter(F.col("frame_offset_ms") % 1000 != 0).count() == 0


def test_decode_image_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x00")


def test_multimodal_resize_rewrites_meta(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs, n=30)
    out = MM.resize_images(media, 128, 96).collect()
    assert out, "no images in synthetic media"
    for r in out:
        assert r.kind == "image"
        assert (r.meta.width, r.meta.height) == (128, 96)
        assert r.payload is not None  # payload passes through the stub


def test_multimodal_frame_sample_offsets(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs, n=30)
    frames = MM.frame_sample(media, every_ms=500).collect()
    assert frames
    for r in frames:
        assert r.frame_offset_ms == r.frame_idx * 500


def test_embed_neardup_lsh_recall(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    sub = emb.filter(F.col("vec_id") < 80)
    exact = {(r.id_a, r.id_b) for r in
             S.embedding_neardup_pairs(sub, threshold=0.35).collect()}
    approx = {(r.id_a, r.id_b) for r in
              S.embedding_neardup_pairs_lsh(sub, threshold=0.35, planes=4, tables=16).collect()}
    assert exact, "test corpus produced no moderate-similarity pairs"
    # no false positives: every LSH pair passes the same exact filter
    assert approx <= exact
    # recall: the OR-amplified tables should recover most true pairs
    if exact:
        assert len(approx & exact) >= 0.7 * len(exact), (
            f"LSH recovered {len(approx & exact)}/{len(exact)} pairs"
        )


def test_minhash_verified_exact_jaccard(docs):
    """Verified pipeline: candidate pairs carry EXACT jaccard values
    (cross-checked against the direct computation in the SAME
    3-gram-shingle space the estimator targets) and still recover the
    injected mutants."""
    full = _with_mutants(docs)
    verified = D.minhash_verified_neardup_pairs(full, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    expected = {(i, i + 200000) for i in range(20)}
    hits = expected & set(got)
    assert len(hits) >= 15, f"verified pipeline found {len(hits)}/20 mutants"
    # exact-value spot check against the direct jaccard computation
    direct = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(full.filter(
            (F.col("doc_id") < 5) | ((F.col("doc_id") >= 200000) & (F.col("doc_id") < 200005))
        ), shingle_n=3).collect()
    }
    for pair in got:
        if pair in direct:
            assert got[pair] == direct[pair]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_lsh_lookup_equals_banded_join(spark, sf_small):
    """The serving-shaped fused LSH kernel (collect_queries=True) must
    produce EXACTLY the banded-join path's output: same buckets, same
    candidates, same bit-identical scores, same ranks."""
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    fused = S.knn_lsh(q, emb, k=5, planes=4, tables=16, collect_queries=True)
    joined = S.knn_lsh(q, emb, k=5, planes=4, tables=16, collect_queries=False)
    assert _rows(fused) == _rows(joined)


def test_fused_ivf_lookup_equals_inverted_join(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    fused = S.knn_ivf(q, emb, k=5, n_centroids=16, n_probe=4, iterations=0,
                      collect_queries=True)
    joined = S.knn_ivf(q, emb, k=5, n_centroids=16, n_probe=4, iterations=0,
                       collect_queries=False)
    assert _rows(fused) == _rows(joined)


def test_smallq_topk_equals_bruteforce(spark, sf_small):
    """Fused exact kNN == declarative broadcast-NL kNN, bit-for-bit
    (same left-to-right fold order in the kernel)."""
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    fused = S.knn_topk_smallq(q, emb, k=5)
    brute = S.knn_bruteforce(q, emb, k=5)
    assert _rows(fused) == _rows(brute)


# ----------------------------------------------------------- curation (X)

from real_timetransactionaldatalakehouse_spark.operators import sampling as SP  # noqa: E402


def test_hash_split_deterministic_and_complete(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id")
    a = SP.hash_split(docs, "doc_id")
    b = SP.hash_split(docs, "doc_id")
    ra = sorted((r.doc_id, r.split) for r in a.collect())
    rb = sorted((r.doc_id, r.split) for r in b.collect())
    assert ra == rb, "split assignment must be deterministic"
    n = docs.count()
    by = dict(a.groupBy("split").count().rdd.map(tuple).collect())
    assert sum(by.values()) == n, "every row gets exactly one split"
    assert set(by) <= {"train", "val", "test"}
    # 90/5/5 within tolerance on a small corpus
    assert by.get("train", 0) > 0.8 * n


def test_hash_split_seed_changes_assignment_weights_guarded(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id")
    a = {(r.doc_id, r.split) for r in SP.hash_split(docs, "doc_id", seed="v1").collect()}
    b = {(r.doc_id, r.split) for r in SP.hash_split(docs, "doc_id", seed="v2").collect()}
    assert a != b, "different seeds must re-split"
    with pytest.raises(ValueError, match="sum to 1"):
        SP.hash_split(docs, "doc_id", weights={"train": 0.5, "val": 0.1})


def test_cap_per_group_bounds_every_group(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    capped = SP.cap_per_group(docs, ["source", "lang"], "n_chars", 3,
                              tiebreak_cols=["doc_id"])
    sizes = capped.groupBy("source", "lang").count().collect()
    assert all(r["count"] <= 3 for r in sizes)
    # kept rows are the max-n_chars rows of their group
    full = docs.select("source", "lang", "n_chars", "doc_id").collect()
    best: dict[tuple, list] = {}
    for r in full:
        best.setdefault((r.source, r.lang), []).append((-r.n_chars, r.doc_id))
    for key, items in best.items():
        items.sort()
        want = {d for _, d in items[:3]}
        got = {r.doc_id for r in capped.collect()
               if (r.source, r.lang) == key}
        assert got == want


def test_decontaminate_removes_planted_overlap(spark):
    probe = "zqxj" * 12  # 48-char string, not in any synthetic doc
    corpus = spark.createDataFrame(
        [(1, "clean document about nothing in particular at all"),
         (2, "prefix " + probe + " suffix"),
         (3, "another clean one with plenty of words to spare here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "eval question containing " + probe + " verbatim")],
        "doc_id long, text string",
    )
    kept = SP.decontaminate(corpus, bench, k=24, window=8)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 3}, f"doc 2 shares a 48-char substring, got {ids}"


def test_decontaminate_ngram_removes_shared_gram(spark):
    probe = " ".join(f"tok{i}" for i in range(13))  # a 13-token gram
    corpus = spark.createDataFrame(
        [(1, "clean document about nothing in particular at all today really"),
         (2, "prefix words " + probe + " suffix words"),
         (3, "another clean one with plenty of words to spare here today")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "eval question containing " + probe + " verbatim today")],
        "doc_id long, text string",
    )
    kept = SP.decontaminate_ngram(corpus, bench, n=13)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 3}, f"doc 2 shares a 13-gram, got {ids}"
    # a 12-token overlap must NOT trigger at n=13
    kept14 = SP.decontaminate_ngram(
        corpus.withColumn(
            "text",
            F.when(F.col("doc_id") == 2,
                   "prefix words " + " ".join(f"tok{i}" for i in range(12)) + " zz")
            .otherwise(F.col("text")),
        ),
        bench, n=13,
    )
    assert {r.doc_id for r in kept14.collect()} == {1, 2, 3}


def test_chunk_documents_layout(spark):
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    toks = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, "only")],
        "doc_id long, text string",
    )
    out = TX.chunk_documents(df, budget=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 10 tokens, stride 3 -> ceil((10-1)/3) = 3 chunks at 0/3/6
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert c1[0].chunk_text == "w0 w1 w2 w3"
    assert c1[1].chunk_text == "w3 w4 w5 w6"
    assert c1[2].chunk_text == "w6 w7 w8 w9"
    assert all(r.n_tokens == 4 for r in c1)
    # short docs: exactly one (short) chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b"
    assert by_doc[2][0].n_tokens == 2
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens == 1
    # every consecutive pair overlaps by exactly `overlap` tokens
    assert c1[0].chunk_text.split()[-1] == c1[1].chunk_text.split()[0]
    with pytest.raises(ValueError):
        TX.chunk_documents(df, budget=4, overlap=4)


def test_chunk_documents_plan_no_shuffle(spark, sf_small):
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    plan = TX.chunk_documents(docs, 32, 8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "chunking must be document-local (zero shuffle)"


def test_ngram_lm_score_hand_computed(spark):
    """LM scoring on a corpus small enough to verify by hand, plus the
    ranking property the quality gate relies on: documents made of
    common bigrams score higher than documents of rare ones."""
    import math

    from real_timetransactionaldatalakehouse_spark.operators.text import (
        ngram_lm_score,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "z")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_lm_score(df, alpha=0.5).collect()}
    # vocab V = 4 (a, b, c, z); counts: c(a)=3, c("a b")=2, c("a c")=1
    assert set(got) == {1, 2, 3}  # doc 4 has no bigram
    lp_ab = math.log((2 + 0.5) / (3 + 0.5 * 4))
    lp_ac = math.log((1 + 0.5) / (3 + 0.5 * 4))
    assert abs(got[1].avg_logprob - lp_ab) < 1e-6
    assert got[1].n_bigrams == 1 and got[3].n_bigrams == 1
    assert abs(got[3].avg_logprob - lp_ac) < 1e-6
    # common bigram ("a b" seen twice) outranks the rare one
    assert got[1].avg_logprob > got[3].avg_logprob


def test_mix_corpus_rates_and_nesting(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "source", "text")
    w = {"src0": 0.5, "src1": 0.5}
    kept = SP.mix_corpus(docs, w, token_budget=1000)
    rows = kept.collect()
    assert {r.source for r in rows} <= set(w), "non-mixture sources must drop"
    # determinism
    again = sorted(r.doc_id for r in SP.mix_corpus(docs, w, token_budget=1000).collect())
    assert sorted(r.doc_id for r in rows) == again
    # expected token mass per source ~ its share (generous CLT bound:
    # ~25 docs/source at sf0.001 -> wide tolerance)
    for src in w:
        got = sum(r.n_tokens for r in rows if r.source == src)
        assert 0 < got < 3 * w[src] * 1000, f"{src}: {got}"
    # larger budget keeps a superset (hash buckets nest)
    wider = {r.doc_id for r in SP.mix_corpus(docs, w, token_budget=2000).collect()}
    assert set(again) <= wider
    # clamped source contributes everything
    all_src0 = {r.doc_id for r in docs.filter(F.col("source") == "src0").collect()}
    clamped = {r.doc_id for r in SP.mix_corpus(docs, {"src0": 1.0}, token_budget=10**9).collect()}
    assert clamped == all_src0


def test_stratified_sample_deterministic_subset(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "lang")
    a = {r.doc_id for r in SP.stratified_sample(docs, ["lang"], {("en",): 0.3}).collect()}
    b = {r.doc_id for r in SP.stratified_sample(docs, ["lang"], {("en",): 0.3}).collect()}
    assert a == b, "sample must be deterministic"
    all_ids = {r.doc_id for r in docs.collect()}
    assert a <= all_ids
    non_en = {r.doc_id for r in docs.filter(F.col("lang") != "en").collect()}
    assert non_en <= a, "default rate 1.0 keeps every non-en row"
    # widening the rate only ADDS rows (hash buckets nest)
    wider = {r.doc_id for r in SP.stratified_sample(docs, ["lang"], {("en",): 0.6}).collect()}
    assert a <= wider, "nested rates must produce nested samples"


def test_fused_kernels_empty_query_side(spark, sf_small):
    """An empty query batch must short-circuit to an empty result with
    the kNN output schema (regression: the fused kernels crashed on
    ``nq, dim = Q.shape`` when the collected query matrix was 1-D
    empty, while knn_bruteforce returned empty)."""
    emb = load_table(spark, sf_small, "embeddings")
    q0 = emb.filter(F.col("vec_id") < 0)  # empty
    for df in (
        S.knn_topk_smallq(q0, emb, k=5),
        S.knn_lsh(q0, emb, k=5, planes=4, tables=4, collect_queries=True),
        S.knn_ivf(q0, emb, k=5, n_centroids=8, n_probe=2, iterations=0,
                  collect_queries=True),
    ):
        assert df.count() == 0
        assert df.columns == ["query_id", "neighbor_id", "rank", "score"]


def test_simhash_swar_equals_kernel(spark, sf_small):
    """The all-JVM SWAR signature aggregation must be bit-identical to
    the Arrow kernel formulation it replaced, for both token hashes."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    for th in ("xxhash64", "md5_60"):
        hash_fn = D.TOKEN_HASHES[th]
        kern = docs.select(
            F.col("doc_id").alias("id"),
            D._simhash_sig_udf()(
                F.transform(F.array_distinct(D.tokens("text")), hash_fn)
            ).alias("sig"),
        )
        swar = D.simhash_sigs(docs, token_hash=th)
        a = {r.id: r.sig for r in kern.collect()}
        b = {r.id: r.sig for r in swar.collect()}
        assert a == b and a, th


def test_pack_sequences_layout(spark, sf_small):
    """Concat-and-chunk packing invariants: starts are the exclusive
    running token sum in id order; pack_id/pack_pos derive from the
    budget; no single-partition window in the plan."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        pack_sequences,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    budget = 512
    got = {
        r.doc_id: r
        for r in pack_sequences(docs, budget=budget, partitions=4).collect()
    }
    rows = sorted(
        (r.doc_id, len(r.text.split(" "))) for r in docs.collect()
    )
    acc = 0
    for doc_id, n_tok in rows:
        r = got[doc_id]
        assert r.n_tokens == n_tok
        assert r.pack_id == acc // budget, doc_id
        assert r.pack_pos == acc % budget, doc_id
        acc += n_tok
    assert len(got) == len(rows)


def test_repetition_stats_values(spark):
    """Hand-computed repetition ratios, short-doc exclusion included."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),   # bigrams: ab ba ab ba -> 4 total, 2 distinct
            (2, "x y z"),       # xy yz -> no repeats
            (3, "solo"),        # < 2 tokens: no row
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    assert set(got) == {1, 2}
    assert (got[1].n_ngrams, got[1].n_distinct) == (4, 2)
    assert got[1].dup_ngram_ratio == pytest.approx(0.5)
    assert got[1].top_ngram_ratio == pytest.approx(0.5)
    assert (got[2].n_ngrams, got[2].n_distinct) == (2, 2)
    assert got[2].dup_ngram_ratio == 0.0


def test_simhash_wide_doc_no_ansi_overflow_and_null_fallback(spark):
    """ANSI-mode overflow regression (r3 ADVICE): a 65k-distinct-token
    document drives per-bit vote counts past 32768 — with 16-bit SWAR
    lanes the signed SUM threw ARITHMETIC_OVERFLOW *inside* the
    documented supported range.  The 32-bit-lane accumulators must
    (a) compute a signature for docs up to the 65535 cap without
    raising, and (b) actually reach the documented NULL-signature
    fallback (row filtered out) for docs beyond the cap."""
    wide_ok = " ".join(f"t{i}" for i in range(65_000))
    wide_over = " ".join(f"u{i}" for i in range(65_600))
    df = spark.createDataFrame(
        [(1, "small doc"), (2, wide_ok), (3, wide_over)],
        "doc_id long, text string",
    )
    got = {r.id: r.sig for r in D.simhash_sigs(df).collect()}
    assert set(got) == {1, 2}          # 3 dropped by the cap, not an error
    assert got[2] is not None


def test_simhash_wide_lane_counts_match_kernel(spark):
    """The 2x32-bit lane re-assembly must stay bit-identical to the
    Arrow kernel on a vote-heavy doc (counts far above one 16-bit
    lane's old overflow point)."""
    wide = " ".join(f"t{i}" for i in range(40_000))
    df = spark.createDataFrame([(1, wide)], "doc_id long, text string")
    swar = D.simhash_sigs(df).collect()[0].sig
    kern = (
        df.select(
            F.col("doc_id").alias("id"),
            D._simhash_sig_udf()(
                F.transform(
                    F.array_distinct(D.tokens("text")), lambda t: F.xxhash64(t)
                )
            ).alias("sig"),
        ).collect()[0].sig
    )
    assert swar == kern


def test_neardup_clusters_transitive_chain(spark):
    """Connected components must merge a chain A-B, B-C, C-D into ONE
    cluster labeled by the min id, even though A-D was never a pair
    (diameter 3 > 1 round, so this also exercises iteration), and keep
    a disjoint pair separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: (r.cluster_id, r.n_members)
           for r in D.neardup_clusters(pairs).collect()}
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2),
    }


def test_drop_near_duplicates_keeps_cluster_keeper(docs):
    """The curation terminal keeps exactly one doc per near-dup
    cluster: with two mutants per base doc, both mutants (higher ids)
    disappear and every base doc survives."""
    toks = F.split(F.col("text"), " ")

    def mutant(n, offset, drop):
        return docs.filter(F.col("doc_id") < n).select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, F.greatest(F.size(toks) - drop, F.lit(1)))
            ).alias("text"),
        )

    corpus = docs.unionByName(mutant(10, 200000, 2)).unionByName(
        mutant(10, 300000, 4)
    )
    kept = D.drop_near_duplicates(corpus)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # no mutant survives (each is the higher id in its cluster), and
    # every mutated base doc does (it is its cluster's min id)
    assert not {i for i in ids if i >= 200000}
    assert set(range(10)) <= ids
    # base docs that fell to NATURAL near-dup clusters are exactly the
    # non-keeper members of the base corpus's own pair graph
    nat_losers = {
        r.id
        for r in D.neardup_clusters(
            D.minhash_verified_neardup_pairs(docs, jaccard_threshold=0.5)
        ).filter(F.col("id") != F.col("cluster_id")).collect()
    }
    base_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert ids == base_ids - nat_losers


def test_verified_clusters_collapse_equivalence(docs):
    """The exact-dup pre-collapse (verified_neardup_clusters) must be
    output-equivalent to label propagation over the FULL pair graph on
    a degenerate corpus: exact copies (5-cliques of same-fp pairs),
    fuzzy mutants, and exact copies OF a mutant (a clique that joins a
    fuzzy component only through its representative)."""
    toks = F.split(F.col("text"), " ")
    base = docs.filter(F.col("doc_id") < 12)
    mutant = base.filter(F.col("doc_id") < 6).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    copies = base.filter(F.col("doc_id") < 4).crossJoin(
        base.sparkSession.range(1, 5).select(F.col("id").alias("k"))
    ).select(
        (F.col("doc_id") + F.col("k") * 1000000).alias("doc_id"), "text"
    )
    mutant_copies = mutant.filter(F.col("doc_id") < 200003).select(
        (F.col("doc_id") + 9000000).alias("doc_id"), "text"
    )
    corpus = (
        base.unionByName(mutant)
        .unionByName(copies)
        .unionByName(mutant_copies)
    )
    got = {
        r.id: (r.cluster_id, r.n_members)
        for r in D.verified_neardup_clusters(
            corpus, jaccard_threshold=0.5
        ).collect()
    }
    want = {
        r.id: (r.cluster_id, r.n_members)
        for r in D.neardup_clusters(
            D.minhash_verified_neardup_pairs(corpus, jaccard_threshold=0.5)
        ).collect()
    }
    assert got == want
    # sanity: the degenerate structure actually exists — doc 0's
    # component spans its 4 exact copies AND its mutant
    assert got[0][1] >= 6


def test_heavy_hitters_bounds_and_recovery(spark, sf_small):
    """Misra-Gries guarantees: estimates never exceed true counts,
    under-count by at most N/counters, and every key with true count
    above that bound is recoverable; with enough counters the sketch
    is exact and matches the true top-k."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        heavy_hitters,
    )
    from real_timetransactionaldatalakehouse_spark.operators.text import tokenize

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    toks = tokenize(docs).select("token").repartition(4)
    exact = {
        r.token: r.c
        for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    N = sum(exact.values())
    counters = 256
    got = {r.token: r.est_count
           for r in heavy_hitters(toks, "token", k=20, counters=counters).collect()}
    assert got, "no heavy hitters returned"
    for tok, est in got.items():
        assert est <= exact[tok], (tok, est, exact[tok])          # never over
        assert exact[tok] - est <= N // counters + 4, tok         # bounded under
    # with counters >> distinct keys, the sketch is exact: top-k match
    big = {r.token: r.est_count
           for r in heavy_hitters(toks, "token", k=10,
                                  counters=len(exact) + 10).collect()}
    true_top = dict(sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10])
    assert big == true_top


def test_project_embeddings_preserves_neighbors(spark, sf_small):
    """JL projection sanity on PLANTED near-duplicates (the base
    corpus is near-uniform random — all cosines ~0, top-1 is
    meaningless under any projection): each planted near-copy must
    stay its original's top-1 after 64 -> 16 projection, and
    components must be deterministic across runs."""
    emb = load_table(spark, sf_small, "embeddings")
    v = F.col("embedding")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array((F.element_at(v, 1) + F.lit(0.3)).cast("float")),
            F.slice(v, 2, 63),
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    proj = S.project_embeddings(corpus, out_dim=16).withColumnRenamed(
        "projected", "embedding"
    )
    q_prj = proj.filter(F.col("vec_id") >= 10000)
    top1 = {r.query_id: r.neighbor_id
            for r in S.knn_bruteforce(q_prj, proj, k=1).collect()}
    agree = sum(1 for q, n in top1.items() if n == q - 10000)
    assert agree >= 17, f"projection kept only {agree}/20 planted pairs"
    a = S.project_embeddings(emb, out_dim=8).collect()
    b = {r.vec_id: r.projected for r in S.project_embeddings(emb, out_dim=8).collect()}
    assert all(b[r.vec_id] == r.projected for r in a)


# ---------------------------------------------------------------- round-4 wave-4

def test_gopher_rules_flags(spark):
    """Each Gopher rule must trip on its designed violation and pass
    on a clean document."""
    from real_timetransactionaldatalakehouse_spark.operators.text import gopher_rules

    clean = "the quick brown fox jumps over a lazy dog and it runs far " * 10
    rows = [
        (1, clean),                        # passes everything
        (2, "short doc only"),             # word count too low
        (3, "## ### #### " + clean),       # symbols ok? ratio small -> still keep
        (4, ("#" + " # " * 120)),          # symbol ratio + no stopwords
        (5, ""),                           # empty: fails word count, NULL means
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert out[1].gopher_keep
    assert not out[2].rule_word_count and not out[2].gopher_keep
    assert out[3].rule_symbol_ratio  # 3 symbol tokens over ~120 words
    assert not out[4].rule_symbol_ratio and not out[4].rule_stopwords
    assert out[5].n_words == 0 and out[5].mean_word_len is None
    assert not out[5].gopher_keep


def test_bpe_pair_counts_matches_python_reference(spark):
    from collections import Counter

    from real_timetransactionaldatalakehouse_spark.operators.text import (
        bpe_pair_counts,
    )

    corpus = ["low lower lowest", "low low newer", "wider new newer"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id int, text string"
    )
    got = [(r.pair, r.n) for r in bpe_pair_counts(df, top_n=100).collect()]
    freq = Counter(w for t in corpus for w in t.split())
    want = Counter()
    for w, f in freq.items():
        for i in range(len(w) - 1):
            want[w[i:i + 2]] += f
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect


def test_embedding_centroids_exact_and_plain_agree(spark):
    """exact (ordered fold) and plain-sum centroids must agree to
    float tolerance; exact must equal the Python replica bit-for-bit."""
    import pytest as _pytest

    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        embedding_centroids,
    )

    rows = [
        (1, [1.0, 2.0, 3.5], 0),
        (2, [2.0, 0.5, -1.0], 0),
        (3, [0.25, 0.25, 0.25], 1),
        (4, [1.25, -0.75, 0.5], 1),
        (5, [10.0, 20.0, 30.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")
    got = {(r.label, r.dim): (r.centroid, r.n_members)
           for r in embedding_centroids(df).collect()}
    plain = {(r.label, r.dim): r.centroid
             for r in embedding_centroids(df, exact=False).collect()}
    per_label: dict[int, list[tuple[int, list[float]]]] = {}
    for vid, vec, lab in rows:
        per_label.setdefault(lab, []).append((vid, vec))
    for lab, items in per_label.items():
        items.sort()
        for d in range(3):
            acc = 0.0
            for _, vec in items:
                acc += vec[d]
            want = acc / len(items)
            assert got[(lab, d)][0] == want, (lab, d)
            assert got[(lab, d)][1] == len(items)
            assert plain[(lab, d)] == _pytest.approx(want, rel=1e-12)


def test_csv_jsonl_sources_quarantine_corrupt_rows(spark, tmp_path):
    """PERMISSIVE reads must land malformed rows in _corrupt_record;
    corrupt_split separates clean from quarantined; FAILFAST raises."""
    import pytest as _pytest

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from real_timetransactionaldatalakehouse_spark.sources import (
        corrupt_split, read_csv, read_jsonl,
    )

    schema = StructType([
        StructField("id", LongType()), StructField("name", StringType()),
    ])
    csv = tmp_path / "in.csv"
    csv.write_text("id,name\n1,alice\nnot_a_number,bob\n3,carol\n")
    df = read_csv(spark, str(csv), schema)
    clean, bad = corrupt_split(df)
    assert sorted((r.id, r.name) for r in clean.collect()) == [(1, "alice"), (3, "carol")]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and bad_rows[0]._corrupt_record is not None

    jl = tmp_path / "in.jsonl"
    jl.write_text('{"id": 1, "name": "alice"}\n{broken\n{"id": 3, "name": "carol"}\n')
    dj = read_jsonl(spark, str(jl), schema)
    cj, bj = corrupt_split(dj)
    assert sorted((r.id, r.name) for r in cj.collect()) == [(1, "alice"), (3, "carol")]
    assert len(bj.collect()) == 1

    with _pytest.raises(Exception):
        read_csv(spark, str(csv), schema, mode="FAILFAST").collect()


def test_agg_corr_close_to_numpy(spark, sf_small):
    """The exact-moment correlation must agree with numpy's corrcoef
    to float tolerance (same statistic, different summation order)."""
    import numpy as np
    import pytest as _pytest

    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q_agg_corr"](spark, sf_small).collect()
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    li = load_table(spark, sf_small, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    for r in rows:
        sub = li[li.l_returnflag == r.l_returnflag]
        want = np.corrcoef(sub.l_quantity, sub.l_extendedprice)[0, 1]
        assert r.corr_qty_price == _pytest.approx(want, rel=1e-9)


def test_quantize_embeddings_reconstruction(spark):
    """Quantized codes must be within int8 range, reconstruct within
    half a quantization step, and zero vectors must yield NULLs."""
    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        quantize_embeddings,
    )

    rows = [
        (1, [0.5, -1.0, 0.25]),
        (2, [0.0, 0.0, 0.0]),
        (3, [3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert out[2].scale is None and out[2].qvec is None
    for vid, vec in [(1, rows[0][1]), (3, rows[2][1])]:
        r = out[vid]
        step = 1.0 / r.scale
        for x, qc in zip(vec, r.qvec):
            assert -127 <= qc <= 127
            assert abs(x - qc / r.scale) <= step / 2 + 1e-12
    assert out[3].qvec == [127]


def test_grouped_ols_pandas_equals_expr_and_numpy(spark):
    """The applyInPandas OLS kernel and the JVM moment-sum twin must
    agree (1e-9 relative), and both must match numpy's polyfit."""
    import numpy as np
    import pytest as _pytest

    from real_timetransactionaldatalakehouse_spark.operators.fitting import (
        grouped_ols,
    )

    rng = [(g, float(x), 2.0 * g * x + 3.0 + ((x * 7919) % 11) / 10.0)
           for g in range(3) for x in range(25)]
    df = spark.createDataFrame(rng, "g int, x double, y double")
    via_pd = {r.g: r for r in grouped_ols(df, ["g"], "x", "y", impl="pandas").collect()}
    via_ex = {r.g: r for r in grouped_ols(df, ["g"], "x", "y", impl="expr").collect()}
    for g in range(3):
        xs = np.array([x for gg, x, _ in rng if gg == g])
        ys = np.array([y for gg, _, y in rng if gg == g])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert via_pd[g].slope == _pytest.approx(slope, rel=1e-9)
        assert via_pd[g].intercept == _pytest.approx(intercept, rel=1e-9)
        assert via_ex[g].slope == _pytest.approx(via_pd[g].slope, rel=1e-9)
        assert via_ex[g].r2 == _pytest.approx(via_pd[g].r2, rel=1e-9)
        assert via_pd[g].n == 25
    # impl="exact" on quantized (integer) inputs must match the pandas
    # kernel run on the same integer values — the bit-portable path
    # q_trend_slope certifies against the DuckDB oracle
    rng_i = [(g, x, int(round((2.0 * g * x + 3.0 + ((x * 7919) % 11) / 10.0) * 10)))
             for g in range(3) for x in range(25)]
    dfi = spark.createDataFrame(rng_i, "g int, x long, y long")
    via_xc = {r.g: r for r in grouped_ols(dfi, ["g"], "x", "y", impl="exact").collect()}
    via_pdi = {r.g: r for r in grouped_ols(
        dfi.select("g", F.col("x").cast("double").alias("x"),
                   F.col("y").cast("double").alias("y")),
        ["g"], "x", "y", impl="pandas").collect()}
    for g in range(3):
        assert via_xc[g].slope == _pytest.approx(via_pdi[g].slope, rel=1e-9)
        assert via_xc[g].intercept == _pytest.approx(via_pdi[g].intercept, rel=1e-9)
        assert via_xc[g].r2 == _pytest.approx(via_pdi[g].r2, rel=1e-9)
        assert via_xc[g].n == 25
    # degenerate groups: single point and zero x-variance -> NULL fits
    dg = spark.createDataFrame(
        [(0, 1.0, 5.0), (1, 2.0, 1.0), (1, 2.0, 9.0)], "g int, x double, y double"
    )
    for impl in ("pandas", "expr", "exact"):
        out = {r.g: r for r in grouped_ols(dg, ["g"], "x", "y", impl=impl).collect()}
        assert out[0].slope is None and out[0].n == 1
        assert out[1].slope is None and out[1].n == 2


def test_new_operators_handle_empty_inputs(spark):
    """Every round-4 wave operator must run (not raise) on an empty
    frame and return an empty, correctly-typed result."""
    from pyspark.sql import functions as F

    from real_timetransactionaldatalakehouse_spark.operators.fitting import grouped_ols
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        funnel_stages, mode_per_group, session_window_agg, zscore_normalize,
    )
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        contamination_report,
    )
    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        embedding_centroids, quantize_embeddings,
    )
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        bm25_scores, bpe_pair_counts, gopher_rules,
    )

    docs = spark.createDataFrame([], "doc_id int, text string")
    ev = spark.createDataFrame([], "user_id int, ts timestamp, event_type string, v double")
    emb = spark.createDataFrame([], "vec_id int, embedding array<float>, label int")

    assert bm25_scores(docs).count() == 0
    assert bpe_pair_counts(docs).count() == 0
    assert gopher_rules(docs).count() == 0
    assert contamination_report(docs, docs).count() == 0
    assert embedding_centroids(emb).count() == 0
    assert quantize_embeddings(emb).count() == 0
    assert mode_per_group(ev, ["user_id"], "event_type").count() == 0
    assert session_window_agg(ev, "ts", ["user_id"]).count() == 0
    assert zscore_normalize(ev, ["user_id"], "v").count() == 0
    assert grouped_ols(ev.select("user_id", F.col("v").alias("x"), F.col("v").alias("y")),
                       ["user_id"], "x", "y").count() == 0
    assert funnel_stages(
        ev, "user_id", "ts", [("view", F.col("event_type") == "view")]
    ).count() == 0


def test_agg_skew_close_to_python(spark, sf_small):
    """Exact-moment skewness must match the direct centered-moment
    computation to float tolerance."""
    import math

    import pytest as _pytest

    import __spark_entry__ as entrymod
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    got = {r.l_returnflag: r.skew_cents
           for r in entrymod.queries()["q_agg_skew"](spark, sf_small).collect()}
    li = load_table(spark, sf_small, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in li:
        groups[r.l_returnflag].append(round(r.l_extendedprice * 100))
    for f, xs in groups.items():
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum((x - mu) ** 2 for x in xs) / n
        m3 = sum((x - mu) ** 3 for x in xs) / n
        assert got[f] == _pytest.approx(m3 / (m2 * math.sqrt(m2)), rel=1e-9)


def test_multimodal_real_decode_png(spark, sf_small):
    """r4 VERDICT ask #8 (closed r6 via the vendored PNG subset
    decoder): decode_image must decode an actual PNG — through PIL
    when installed, through operators/_png otherwise — and
    real_image_meta must rewrite meta dimensions from the decoded
    pixels through the same Arrow plumbing the fake kernels use.  Runs
    everywhere; no skip."""
    import base64

    # a literal 1x1 PNG (no codec needed to HAVE bytes, only to decode)
    png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
        "AAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    img = MM.decode_image(png)
    assert img.size == (1, 1)

    df = spark.createDataFrame(
        [(1, "image", bytearray(png), {"width": 999, "height": 999,
                                       "duration_ms": None, "codec": None})],
        MM.MEDIA_SCHEMA,
    )
    row = MM.real_image_meta(df).collect()[0]
    assert row.meta.width == 1 and row.meta.height == 1
    assert row.meta.codec == "png"


def test_multimodal_decode_raises_not_implemented_without_codec(spark):
    """The codec-less path for NON-PNG formats must surface as
    NotImplementedError (the documented deployment hook), never
    ImportError."""
    import importlib.util

    import pytest as _pytest

    if importlib.util.find_spec("PIL") is not None:
        _pytest.skip("codec present; covered by the decode test above")
    with _pytest.raises(NotImplementedError):
        MM.decode_image(b"\xff\xd8\xff\xe0\x00\x10JFIF")  # JPEG magic


def test_vendored_png_decoder_filters_and_roundtrip():
    """operators/_png: encode->decode roundtrip recovers exact pixels,
    and each PNG filter type (Sub/Up/Average/Paeth, spec section 6)
    reconstructs correctly against a reference image built by hand."""
    import struct
    import zlib

    from real_timetransactionaldatalakehouse_spark.operators import _png

    # roundtrip: 3x2 RGB gradient through the filter-0 encoder
    pixels = bytes(range(3 * 2 * 3))
    img = _png.decode_png(_png.encode_png(3, 2, "RGB", pixels))
    assert img.size == (3, 2) and img.mode == "RGB" and img.pixels == pixels

    # hand-build a 4-row grayscale image using filters 1..4 so every
    # reconstruction branch runs; expected output computed per spec
    rows = [bytes([10, 20, 30, 40])] * 4
    filtered = bytearray()
    prev = bytes(4)
    for f, row in zip([1, 2, 3, 4], rows):
        line = bytearray(row)
        if f == 1:
            for i in range(3, 0, -1):
                line[i] = (line[i] - line[i - 1]) & 0xFF
        elif f == 2:
            for i in range(4):
                line[i] = (line[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(4):
                a = row[i - 1] if i else 0
                line[i] = (line[i] - (a + prev[i]) // 2) & 0xFF
        elif f == 4:
            for i in range(4):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] - pr) & 0xFF
        filtered += bytes([f]) + line
        prev = row

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    raw = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(filtered)))
           + chunk(b"IEND", b""))
    out = _png.decode_png(raw)
    assert out.size == (4, 4) and out.pixels == b"".join(rows)

    # unsupported subsets raise NotImplementedError, garbage ValueError
    import pytest as _pytest

    pal_ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)  # palette
    pal = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", pal_ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00\x00")) + chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError):
        _png.decode_png(pal)
    with _pytest.raises(ValueError):
        _png.decode_png(b"not a png at all")


def test_embeddings_are_dyadic_43(spark, sf_medium):
    """Contract behind q_embed_centroids' dyadic mode: every embedding
    component is an exact multiple of 2^-43 (float32 with exponent
    >= -20), so scaling by 2^43 yields exact integers.  If a future
    corpus breaks this, the query must fall back to the ordered-fold
    exact mode."""
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    emb = load_table(spark, sf_medium, "embeddings")
    scaled = F.explode("embedding").alias("v")
    bad = (
        emb.select(scaled)
        .select((F.col("v").cast("double") * F.lit(float(2**43))).alias("s"))
        .filter(F.col("s") != F.floor("s").cast("double"))
        .count()
    )
    assert bad == 0


def test_centroids_dyadic_matches_ordered_fold(spark, sf_small):
    """The dyadic split-long centroid must agree with the ordered-fold
    exact centroid to within one accumulation ulp (the fold rounds at
    every add; the dyadic path sums exactly and rounds once — the
    dyadic value is the MORE accurate of the two)."""
    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        embedding_centroids,
    )
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    a = {
        (r.label, r.dim): (r.centroid, r.n_members)
        for r in embedding_centroids(emb, dyadic_bits=43).collect()
    }
    b = {
        (r.label, r.dim): (r.centroid, r.n_members)
        for r in embedding_centroids(emb, exact=True).collect()
    }
    assert a.keys() == b.keys() and len(a) > 0
    for k, (ca, na) in a.items():
        cb, nb = b[k]
        assert na == nb
        assert abs(ca - cb) <= 1e-12 * max(1.0, abs(ca)), (k, ca, cb)


def test_sample_systematic_invariants(spark, sf_small):
    """PPS sampling: sum(n_tickets) == k exactly; selection is a pure
    function of (order, weights) — re-partitioning the input cannot
    move the sample (the retry-stability contract)."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        sample_systematic,
    )

    docs = load_table(spark, sf_small, "documents")
    k = 13
    got = sample_systematic(docs, k=k, weight_col="n_chars").collect()
    assert sum(r.n_tickets for r in got) == k
    assert all(r.n_tickets >= 1 for r in got)
    # layout independence: a different partitioning yields the identical set
    again = sample_systematic(
        docs.repartition(7), k=k, weight_col="n_chars", partitions=3
    ).collect()
    assert {(r.doc_id, r.n_tickets) for r in got} == {
        (r.doc_id, r.n_tickets) for r in again
    }
    # brute-force oracle: single-pass cumulative ticket walk
    rows = sorted((r.doc_id, r.n_chars) for r in docs.collect())
    total = sum(w for _, w in rows)
    cum, expect = 0, {}
    for doc_id, w in rows:
        lo, cum = cum, cum + w
        nt = (cum * k) // total - (lo * k) // total
        if nt >= 1:
            expect[doc_id] = nt
    assert {r.doc_id: r.n_tickets for r in got} == expect


def test_sample_systematic_heavy_weight_multiplicity(spark):
    """A weight above T/k covers several tickets: reported as
    n_tickets > 1, never silently resampled."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        sample_systematic,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, 1), (3, 1)], "doc_id long, w long"
    )
    got = {r.doc_id: r.n_tickets
           for r in sample_systematic(df, k=10, weight_col="w").collect()}
    assert got[1] >= 9
    assert sum(got.values()) == 10


def test_passage_repetition_values(spark):
    """Known corpus: doc B repeats doc A's first chunk; ragged tails
    are dropped; intra-document repeats count too."""
    from real_timetransactionaldatalakehouse_spark.operators.dedup import (
        passage_repetition,
    )

    a = "w0 w1 w2 w3 x0 x1 x2 x3 tail"        # chunks: [w0..w3], [x0..x3]
    b = "w0 w1 w2 w3 y0 y1 y2 y3"             # shares A's first chunk
    c = "z0 z1 z2 z3 z0 z1 z2 z3"             # repeats its own chunk
    d = "short doc"                           # no full chunk -> absent
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_chunks, r.dup_chunks)
           for r in passage_repetition(df, chunk=4).collect()}
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 2)}


def test_vocab_coverage_values(spark):
    """Counts 4/3/2/1 over 10 tokens: 50% needs 2 terms (7 covered),
    90% hits the exact boundary at 3 terms (9*100 == 90*10), 99%
    needs the full 4."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        vocab_coverage,
    )

    df = spark.createDataFrame(
        [(1, "a a a a b b b"), (2, "c c d")], "doc_id long, text string"
    )
    got = {r.target_pct: (r.n_terms, r.tokens_covered)
           for r in vocab_coverage(df, targets=(50, 90, 99)).collect()}
    assert got == {50: (2, 7), 90: (3, 9), 99: (4, 10)}


def test_split_leakage_finds_cross_split_neardups(spark, sf_small):
    """Mutant docs hash to other buckets than their originals, so the
    audit must surface at least one cross-split near-dup pair; every
    reported pair really does straddle the split and really is a
    verified near-dup."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        hash_split, split_leakage,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    weights = {"train": 0.90, "eval": 0.10}
    leaks = split_leakage(
        corpus, jaccard_threshold=0.5, weights=weights
    ).collect()
    assert leaks, "constructed mutants must produce at least one leak"
    split_of = {
        r.doc_id: r.split
        for r in hash_split(corpus, weights=weights).select(
            "doc_id", "split"
        ).collect()
    }
    verified = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in D.minhash_verified_neardup_pairs(
            corpus, jaccard_threshold=0.5
        ).select("id_a", "id_b").collect()
    }
    for r in leaks:
        assert split_of[r.id_a] != split_of[r.id_b]
        assert r.split_a == split_of[r.id_a]
        assert r.split_b == split_of[r.id_b]
        assert tuple(sorted((r.id_a, r.id_b))) in verified
        assert r.jaccard >= 0.5


def test_training_shard_layout_is_a_permutation(spark, sf_small):
    """Every doc appears exactly once; positions within each shard are
    1..n contiguous; the layout is a pure function of (id, seed) —
    re-partitioning cannot move anything, a new seed reshuffles."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        training_shard_layout,
    )

    docs = load_table(spark, sf_small, "documents")
    n = docs.count()
    got = training_shard_layout(docs, shards=8).collect()
    assert len(got) == n
    assert len({r.doc_id for r in got}) == n
    by_shard = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    again = training_shard_layout(docs.repartition(5), shards=8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in got} == {
        (r.doc_id, r.shard, r.pos) for r in again
    }
    other = training_shard_layout(docs, shards=8, seed="shuffle-v2").collect()
    assert {(r.doc_id, r.shard, r.pos) for r in other} != {
        (r.doc_id, r.shard, r.pos) for r in got
    }


def test_grouped_percentiles_exact_equals_plain_aggregate(spark, sf_medium):
    """The distributed order-statistics formulation must be
    bit-identical to Spark's exact percentile aggregate — including
    the two-sided interpolation tree (lo*(1-f) + hi*f; the one-sided
    algebraic twin differs by 1 ulp on real data)."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        grouped_percentiles_exact,
    )

    li = load_table(spark, sf_medium, "lineitem")
    plain = {r["l_returnflag"]: (r["m"], r["p"]) for r in
             li.groupBy("l_returnflag").agg(
                 F.expr("percentile(l_extendedprice, 0.5)").alias("m"),
                 F.expr("percentile(l_extendedprice, 0.9)").alias("p"),
             ).collect()}
    new = {r["l_returnflag"]: (r["med_price"], r["p90_price"]) for r in
           grouped_percentiles_exact(
               li, "l_returnflag", "l_extendedprice",
               {"med_price": 0.5, "p90_price": 0.9}, partitions=5,
           ).collect()}
    assert plain == new


def test_grouped_percentiles_approx_rank_bound(spark, sf_medium):
    """The at-scale form (grouped_percentiles, exact=False — VERDICT
    r8 #4): percentile_approx's documented Greenwald-Khanna contract
    is a RANK bound, so pin exactly that — for every group and every
    quantile p, the returned value must be an actual group element
    whose rank is within n/accuracy (+1 for rank-vs-index off-by-one)
    of floor(p * n).  Also pins the dispatch: exact=True must be the
    certified order-statistics plan, row-identical to
    grouped_percentiles_exact."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        grouped_percentiles,
        grouped_percentiles_exact,
    )

    li = load_table(spark, sf_medium, "lineitem")
    probs = {"p50": 0.5, "p95": 0.95}
    accuracy = 1000
    approx = {r["l_returnflag"]: r for r in grouped_percentiles(
        li, "l_returnflag", "l_extendedprice", probs, accuracy=accuracy,
    ).collect()}
    vals: dict = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals.setdefault(r[0], []).append(float(r[1]))
    assert set(approx) == set(vals)
    for g, xs in vals.items():
        xs.sort()
        n = len(xs)
        for name, p in probs.items():
            v = float(approx[g][name])
            assert v in xs, f"approx returned a non-element for {g}/{name}"
            # rank window of the returned element (duplicates span)
            import bisect

            lo = bisect.bisect_left(xs, v)
            hi = bisect.bisect_right(xs, v) - 1
            target = int(p * n)
            slack = n / accuracy + 1
            assert lo - slack <= target <= hi + slack, (
                g, name, v, lo, hi, target, slack,
            )
    exact_a = sorted(map(tuple, grouped_percentiles(
        li, "l_returnflag", "l_extendedprice", probs, exact=True,
    ).collect()))
    exact_b = sorted(map(tuple, grouped_percentiles_exact(
        li, "l_returnflag", "l_extendedprice", probs,
    ).collect()))
    assert exact_a == exact_b


def test_prefix_sum_family_stable_under_cache_drop(spark, sf_small):
    """The r7 bug class, pinned forever: prefix-sum operators bake
    per-bucket offsets at plan build; a cache drop between build and a
    later action must NOT change any position/sum (r7 fixed it by
    checkpoint-pinning the range layout; r8 makes the bucket a pure
    function of the row via literal boundaries, so determinism holds
    by construction — this test keeps it that way)."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        global_rank,
        grouped_percentiles_exact,
    )
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        pack_sequences,
        sample_systematic,
    )
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        vocab_coverage,
    )

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text", "n_chars"
    )
    ev = load_table(spark, sf_small, "events").select("event_id", "value")
    plans = {
        "rank": global_rank(ev, ["value", "event_id"], rank_col="pos"),
        "pack": pack_sequences(docs, budget=512, partitions=4),
        "pps": sample_systematic(docs, k=17, weight_col="n_chars"),
        "vocab": vocab_coverage(docs, targets=(50, 90, 99)),
        "pct": grouped_percentiles_exact(
            ev.withColumn("g", F.col("event_id") % 3),
            "g", "value", {"p50": 0.5, "p95": 0.95},
        ),
    }
    before = {k: sorted(map(tuple, df.collect())) for k, df in plans.items()}
    spark.catalog.clearCache()  # what bench does between timed runs
    after = {k: sorted(map(tuple, df.collect())) for k, df in plans.items()}
    for k in plans:
        assert before[k] == after[k], f"{k} changed after cache drop"
        assert before[k], f"{k} returned no rows"


def test_derive_planes_scaling(spark, sf_small):
    """planes="auto" (the r8 default for the sign-LSH family) derives
    the plane count from corpus size: ceil(log2(n / target_bucket))
    clamped to [4, 24] — in-bucket pair work grows n^2/2^planes per
    table, so planes must track log2(n) for flat per-bucket cost."""
    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        derive_planes,
        embedding_neardup_pairs_lsh,
    )

    assert derive_planes(0) == 4
    assert derive_planes(100) == 4            # below target_bucket -> lo
    assert derive_planes(128 * 16) == 4       # 2^4 buckets of 128
    assert derive_planes(128 * 17) == 5       # ceil crosses
    assert derive_planes(200_000) == 11       # the 50x replica case
    assert derive_planes(10**9) == 23
    assert derive_planes(10**12) == 24        # hi clamp
    # monotone non-decreasing in n
    last = 0
    for n in [10, 10**3, 10**5, 10**7, 10**9, 10**11]:
        p = derive_planes(n)
        assert p >= last
        last = p
    # auto wiring: explicit corpus_count must produce the same pairs
    # as the counted path, and both run end-to-end
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    a = {(r.id_a, r.id_b) for r in
         embedding_neardup_pairs_lsh(emb, threshold=0.35).collect()}
    b = {(r.id_a, r.id_b) for r in
         embedding_neardup_pairs_lsh(
             emb, threshold=0.35, corpus_count=n).collect()}
    assert a == b and a, "auto-planes path returned no pairs"
    # and the derived config equals an explicit planes=derive_planes(n)
    c = {(r.id_a, r.id_b) for r in
         embedding_neardup_pairs_lsh(
             emb, threshold=0.35, planes=derive_planes(n)).collect()}
    assert a == c


def test_derive_tables_recall_model(spark, sf_small):
    """tables="auto" (r9, VERDICT r8 #3): derive_tables solves
    1 - (1 - match^planes)^tables >= target_recall for the smallest
    table count, match = 1 - acos(threshold)/pi.  Pinned against the
    r8 MEASURED recall sweep (SCALING.md: 2000 vectors, threshold
    0.35, tables=16 -> recall 0.929 / 0.317 / 0.131 at planes
    4/8/10): the model must reproduce each measured point within
    0.06 absolute — the accuracy claim the derivation rests on."""
    import math
    import warnings

    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        derive_planes,
        derive_tables,
        embedding_neardup_pairs_lsh,
    )

    def model(threshold, planes, tables):
        match = 1.0 - math.acos(threshold) / math.pi
        return 1.0 - (1.0 - match ** planes) ** tables

    for planes, measured in [(4, 0.929), (8, 0.317), (10, 0.131)]:
        assert abs(model(0.35, planes, 16) - measured) < 0.06, planes
    # the derivation hits its target where the model says it can:
    # recall at the derived count >= target, and derived-1 < target
    # (minimality) wherever the clamp is not binding
    for threshold in (0.9, 0.95, 0.8):
        for planes in (4, 8, 11, 13):
            t = derive_tables(threshold, planes, target_recall=0.9)
            if t < 64:  # unclamped
                assert model(threshold, planes, t) >= 0.9, (threshold, planes)
                if t > 2:
                    assert model(threshold, planes, t - 1) < 0.9
    # default near-dup design point: threshold 0.9, auto planes at the
    # 50x replica (200k vectors -> planes 11) derives a table count
    # that HOLDS recall >= 0.9 where the fixed 8 tables had fallen to
    # ~0.85 and fixed 16 was overpaying at small n
    assert derive_tables(0.9, derive_planes(200_000)) == 12
    # moderate thresholds at high plane counts cannot reach 0.9 under
    # the 64-table cost cap: the clamp must WARN with the achievable
    # recall instead of silently shipping a low-recall default
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        t = derive_tables(0.35, 10, target_recall=0.9)
        assert t == 64
        assert any("achievable recall" in str(x.message) for x in w)
    # target_recall >= 1.0 is unreachable for ANY finite table count
    # (the model only approaches 1 asymptotically): same clamp+warn
    # path, never a math-domain crash (r9 review fix)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert derive_tables(0.9, 8, target_recall=1.0) == 64
        assert any("achievable recall" in str(x.message) for x in w)
    # composition: tables="auto" on the operator equals the explicit
    # derived count (planes resolves first, then tables reads it)
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    p = derive_planes(n)
    auto = {(r.id_a, r.id_b) for r in embedding_neardup_pairs_lsh(
        emb, threshold=0.9).collect()}
    explicit = {(r.id_a, r.id_b) for r in embedding_neardup_pairs_lsh(
        emb, threshold=0.9, planes=p,
        tables=derive_tables(0.9, p)).collect()}
    assert auto == explicit


def test_embed_neardup_lsh_collapse_exact_equivalence(spark, sf_small):
    """collapse_exact=True must be bit-equal to the plain banding on a
    duplicate-heavy corpus (every vector given one exact copy with a
    shifted id): same pairs, same fold scores - copies share every
    band bucket and every expanded pair's score is the same arithmetic
    over the same vector bytes."""
    from real_timetransactionaldatalakehouse_spark.operators import (
        similarity as S,
    )

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    dup = emb.unionByName(
        emb.select((F.col("vec_id") + 10_000_000).alias("vec_id"),
                   "embedding")
    )
    plain = {(r.id_a, r.id_b): r.score for r in
             S.embedding_neardup_pairs_lsh(
                 dup, threshold=0.35, planes=4, tables=8).collect()}
    fast = {(r.id_a, r.id_b): r.score for r in
            S.embedding_neardup_pairs_lsh(
                dup, threshold=0.35, planes=4, tables=8,
                collapse_exact=True).collect()}
    assert plain and fast
    assert plain == fast  # keys AND bit-identical scores
    # every duplicate pair must be present with its self-cosine
    n_groups = emb.count()
    within = [(a, b) for (a, b) in fast if b - a == 10_000_000]
    assert len(within) == n_groups


def test_embed_neardup_lsh_max_bucket(spark, sf_small):
    """Hot-bucket split cap: a cap above every bucket size is a no-op
    (bit-equal output); a tiny cap yields a SUBSET of the uncapped
    pairs with identical scores (cross-subcell pairs inside oversized
    buckets are the documented recall trade - nothing is invented,
    nothing surviving is rescored)."""
    from real_timetransactionaldatalakehouse_spark.operators import (
        similarity as S,
    )

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    base = {(r.id_a, r.id_b): r.score for r in
            S.embedding_neardup_pairs_lsh(
                emb, threshold=0.35, planes=4, tables=8).collect()}
    nolimit = {(r.id_a, r.id_b): r.score for r in
               S.embedding_neardup_pairs_lsh(
                   emb, threshold=0.35, planes=4, tables=8,
                   max_bucket=10**9).collect()}
    assert nolimit == base
    capped = {(r.id_a, r.id_b): r.score for r in
              S.embedding_neardup_pairs_lsh(
                  emb, threshold=0.35, planes=4, tables=8,
                  max_bucket=8).collect()}
    assert set(capped) <= set(base)
    for k, v in capped.items():
        assert v == base[k]
    assert capped, "tiny cap still finds in-subcell pairs"


def test_minhash_tolerates_null_text(spark):
    """r9 review fix: a NULL-text row must not kill the Arrow MinHash
    kernel (np.asarray(None) raised TypeError and aborted the stage).
    NULL text takes the zero-token degenerate path — same as empty
    text — and the non-null rows still pair normally."""
    base = " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, None),
         (3, base + " trailing"), (4, "")],
        "doc_id long, text string",
    )
    banded = D.minhash_banded(df, repartition=False)
    assert banded.filter(F.col("id") == 1).count() > 0
    pairs = D.minhash_neardup_pairs(df, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 3) in got, got


def test_minhash_bands_must_divide_num_hashes(docs):
    """r9 review fix: floor-division silently banded only the first
    bands*(num_hashes//bands) signature rows, quietly weakening the
    caller's (b, r) recall curve — now a hard error."""
    with pytest.raises(ValueError, match="divide"):
        D.minhash_banded(docs, num_hashes=32, bands=6)
    with pytest.raises(ValueError, match="divide"):
        D.minhash_banded(docs, num_hashes=32, bands=33)


def test_stratified_sample_rejects_mismatched_key_length(spark, sf_small):
    """r9 review fix: zip() silently truncated a rates key longer than
    strata_cols, applying the rate to the whole prefix stratum — a
    ('en','web') key with strata_cols=['lang'] deleted every 'en' row.
    Now a hard error, both directions."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "lang")
    with pytest.raises(ValueError, match="strata_cols"):
        SP.stratified_sample(docs, ["lang"], {("en", "web"): 0.0})
    with pytest.raises(ValueError, match="strata_cols"):
        SP.stratified_sample(docs, ["lang", "source"], {("en",): 0.5})


def test_sample_systematic_empty_input_clean_error(spark):
    """r9 review fix: COUNT=0 buckets carry SUM=NULL, so an empty (or
    all-NULL-weight) input crashed _global_cumsum with int(None)
    before reaching the operators' documented ValueError."""
    empty = spark.createDataFrame([], "doc_id long, w long")
    with pytest.raises(ValueError, match="weight"):
        SP.sample_systematic(empty, k=5, weight_col="w", id_col="doc_id")


def test_verified_clusters_attach_and_release_cache(docs):
    """r9 review fix: the exact-dup member frame is multi-consumer
    (label propagation runs eager jobs between its uses), so it
    persists and is released via the standard _cached_deps contract.
    r14: the collapse is ONE windowed member frame (id, rep, size) —
    groups are a filter over the same cache — so exactly one dep."""
    out = D.verified_neardup_clusters(_with_mutants(docs), jaccard_threshold=0.5)
    deps = getattr(out, "_cached_deps", [])
    assert len(deps) == 1, "the windowed member frame must be attached"
    assert out.count() > 0
    assert all(d.is_cached for d in deps)
    D.release_cached(out)
    assert not any(d.is_cached for d in deps)


def test_winnow_and_chunk_null_text_emit_no_rows(spark):
    """r9 review fix: F.greatest SKIPS null arguments, so NULL-text
    docs produced one fp=NULL winnowing row (clustering every null doc
    into a fake shared-substring group) and one phantom NULL chunk.
    Both paths now emit nothing for NULL text; empty text keeps its
    documented single-gram/single-chunk behavior."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        chunk_documents, winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "some real document text here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "text", k=4, window=3)
    assert fps.filter(F.col("doc_id") == 2).count() == 0
    assert fps.filter(F.col("doc_id") == 1).count() > 0
    chunks = chunk_documents(df, budget=4)
    assert chunks.filter(F.col("doc_id") == 2).count() == 0
    got3 = chunks.filter(F.col("doc_id") == 3).collect()
    assert len(got3) == 1 and got3[0].chunk_text == ""


def test_redact_counts_match_redactions_performed(spark):
    """r9 review fix: each kind counts on the text its replacement
    actually sees (earlier kinds applied), so an ipv4 inside an
    email's local part is not reported as an ipv4 redaction."""
    from real_timetransactionaldatalakehouse_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "reach 1.2.3.4@example.com or 10.0.0.1 today")],
        "doc_id long, text string",
    )
    r = redact_pii(df, "text").collect()[0]
    assert r.n_email == 1
    assert r.n_ipv4 == 1, "the ipv4 consumed by the email must not count"
    assert "[email]" in r.text and "[ipv4]" in r.text
    assert "1.2.3.4" not in r.text and "10.0.0.1" not in r.text


def test_search_ranked_releases_postings_cache(docs):
    """r9 review fix: search_ranked re-attaches the postings cache
    tfidf_scores persisted, so release_cached() actually frees it
    (filter/groupBy had dropped the _cached_deps attribute)."""
    from real_timetransactionaldatalakehouse_spark.operators.text import search_ranked

    out = search_ranked(docs, ["the"], k=5, require_all=False)
    deps = getattr(out, "_cached_deps", [])
    assert deps, "postings cache must be attached to the result"
    assert out.count() >= 0
    D.release_cached(out)
    assert not any(d.is_cached for d in deps)


def test_minhash_null_text_emits_no_rows(spark):
    """r9 ADVICE: NULL-text docs must produce NO band rows and NO
    pairs on the estimate-only path — before the fix every NULL doc
    shared the constant zero-gram signature, so two NULL docs paired
    at jaccard_est ~1.0 while the exact-verify path dropped them."""
    rows = [(1, None), (2, None), (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta")]  # identical: co-buckets in EVERY band
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = D.minhash_banded(df, num_hashes=8, bands=4)
    assert banded.filter(F.col("id").isin(1, 2)).count() == 0
    pairs = D.minhash_neardup_pairs(df, num_hashes=8, bands=4,
                                    jaccard_threshold=0.1)
    ids = {x for r in pairs.collect() for x in (r.id_a, r.id_b)}
    assert 1 not in ids and 2 not in ids
    # the real near-dup pair still surfaces
    assert (3, 4) in {(r.id_a, r.id_b) for r in pairs.collect()}


def test_collapsed_graph_keeps_null_text_docs_singletons(spark):
    """NULL-text docs have no fingerprint, so the exact-dup collapse
    must not group them together: each stays a singleton keep (the
    NULL contract of the minhash family), never a loser, never a
    cluster member, and keyed by its own id for leakage-safe splits."""
    rows = [(1, None), (2, None), (3, None),
            (4, "alpha beta gamma delta epsilon"),
            (5, "zeta eta theta iota kappa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=8, bands=4)
    assert D.neardup_losers(df, **kw).collect() == []
    assert D.verified_neardup_clusters(df, **kw).collect() == []
    keys = {r.doc_id: r["__cluster_key"]
            for r in D.neardup_cluster_keys(df, **kw).collect()}
    assert keys == {i: i for i in range(1, 6)}


def test_valid_embeddings_enforces_cosine_contract(spark):
    """r10: the module-wide 'nonzero-norm, validated upstream' cosine
    contract has a named filter — NULL, wrong-dim, NaN/inf-poisoned,
    and zero vectors drop; healthy rows pass; and the filtered frame
    goes through knn_bruteforce without ANSI DIVIDE_BY_ZERO."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0, 0.0]),
        (5, [1.0, float("nan"), 0.0, 0.0]),
        (6, [1.0, float("inf"), 0.0, 0.0]),
        (7, [1.0, 0.0, 0.0]),  # wrong dim
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    kept = S.valid_embeddings(df, "emb", dim=4)
    assert sorted(r.vec_id for r in kept.collect()) == [1, 2]
    out = S.knn_bruteforce(kept, kept, k=1, id_col="vec_id", vec_col="emb").collect()
    assert {(r.query_id, r.neighbor_id) for r in out} == {(1, 2), (2, 1)}
    # without the dim check, the wrong-dim row passes (zip_with would
    # NULL-pad downstream — caller's choice to allow ragged dims)
    assert 7 in {r.vec_id for r in S.valid_embeddings(df, "emb").collect()}


def test_validate_gate_on_cosine_entry_points(spark):
    """r11 (VERDICT r10 #6): the cosine input contract is now an
    opt-in ``validate`` parameter on the entry-points most exposed to
    raw corpus tables.  A NULL/zero/NaN/inf-poisoned table must pass
    through each entry-point with ``validate=True`` and yield exactly
    the result of running on the manually pre-filtered clean subset —
    no mid-job ANSI DIVIDE_BY_ZERO, no poisoned row surviving."""
    healthy = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.95, 0.05, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    poison = [
        (10, None),
        (11, [0.0, 0.0, 0.0, 0.0]),
        (12, [1.0, float("nan"), 0.0, 0.0]),
        (13, [float("inf"), 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(healthy + poison,
                               "vec_id long, emb array<double>")
    clean = S.valid_embeddings(df, "emb")

    def pairs(frame):
        return {(r.id_a, r.id_b, round(r.score, 9)) for r in frame.collect()}

    # knn_bruteforce (both sides gated)
    got = {(r.query_id, r.neighbor_id)
           for r in S.knn_bruteforce(df, df, k=1, vec_col="emb",
                                     validate=True).collect()}
    want = {(r.query_id, r.neighbor_id)
            for r in S.knn_bruteforce(clean, clean, k=1,
                                      vec_col="emb").collect()}
    assert got == want and not ({10, 11, 12, 13} & {q for q, _ in got})

    # LSH banding
    got = pairs(S.embedding_neardup_pairs_lsh(
        df, threshold=0.9, dim=4, vec_col="emb", validate=True))
    want = pairs(S.embedding_neardup_pairs_lsh(
        clean, threshold=0.9, dim=4, vec_col="emb"))
    assert got == want and (1, 2) in {(a, b) for a, b, _ in got}

    # exact + LSH semantic decontamination (corpus AND eval gated)
    ev = spark.createDataFrame(
        [(100, [1.0, 0.01, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0]),
         (102, [float("nan"), 1.0, 0.0, 0.0])],
        "vec_id long, emb array<double>")
    ev_clean = S.valid_embeddings(ev, "emb")
    for fn, kw in (
        (S.semantic_contamination, {}),
        (S.semantic_contamination_lsh, {"dim": 4}),
    ):
        got = {(r.id, r.n_eval_hits, r.top_eval_id, round(r.top_score, 9))
               for r in fn(df, ev, threshold=0.9, vec_col="emb",
                           eval_vec_col="emb", validate=True, **kw).collect()}
        want = {(r.id, r.n_eval_hits, r.top_eval_id, round(r.top_score, 9))
                for r in fn(clean, ev_clean, threshold=0.9, vec_col="emb",
                            eval_vec_col="emb", **kw).collect()}
        assert got == want, (fn.__name__, got, want)
        assert got and all(eid == 100 for _, _, eid, _ in got)


def test_validate_gate_on_semantic_dedup(spark):
    """r12 (VERDICT r11 #5): semantic_dedup gets the same opt-in
    ``validate`` gate as its three sibling cosine entry-points — a
    poisoned table with validate=True yields exactly the clean
    subset's result, and the default stays off (NULL rows would
    otherwise ANSI-error in cell assignment, so defaults are compared
    on the healthy subset plus the inert zero-norm row)."""
    healthy = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.01, 0.0]),
    ]
    poison = [
        (10, None),
        (11, [0.0, 0.0, 0.0, 0.0]),
        (12, [1.0, float("nan"), 0.0, 0.0]),
        (13, [float("inf"), 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(healthy + poison,
                               "vec_id long, emb array<double>")
    clean = S.valid_embeddings(df, "emb")

    def groups(frame):
        return {(r.id, r.cluster_id, r.n_members, r.keep)
                for r in frame.collect()}

    kw = dict(k=2, threshold=0.9, vec_col="emb")
    got = groups(S.semantic_dedup(df, validate=True, **kw))
    want = groups(S.semantic_dedup(clean, **kw))
    assert got == want, (got, want)
    ids = {t[0] for t in got}
    assert ids and not ({10, 11, 12, 13} & ids)
    # default-off is unchanged: the zero-norm row is inert by the
    # pair-path contract even without the gate
    no_gate = groups(S.semantic_dedup(
        spark.createDataFrame(healthy + [(11, [0.0, 0.0, 0.0, 0.0])],
                              "vec_id long, emb array<double>"), **kw))
    assert no_gate == got


def test_quality_classifier_separates_and_is_deterministic(spark):
    """r10 EXT: classifier-based quality filtering (the learned tier
    above the heuristic gates).  A seed of fluent sentences vs token
    spam must train a model that (a) ranks every held-out fluent doc
    above every held-out spam doc, (b) drops NULL text from scoring,
    and (c) scores identically across two transforms."""
    from real_timetransactionaldatalakehouse_spark.operators import classify as C

    good = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "she walked to the market in the morning and bought fresh bread",
        "a long journey begins with a single step taken in the right spirit",
        "the committee agreed that the proposal would be reviewed next week",
        "he read the letter twice before answering with a careful reply",
        "many travelers have described the valley as quiet and beautiful",
    ]
    bad = [
        "zzz zzz zzz zzz zzz zzz zzz zzz",
        "4543 9921 3321 0983 1123 5567 8893",
        "BUY BUY BUY CLICK CLICK CLICK WIN WIN",
        "asdf asdf asdf asdf asdf asdf asdf asdf",
        "%%% ### @@@ &&& *** !!! ??? $$$",
        "11111 22222 33333 44444 55555 66666",
    ]
    rows = (
        [(i, t, 1) for i, t in enumerate(good[:4])]
        + [(100 + i, t, 0) for i, t in enumerate(bad[:4])]
    )
    labeled = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = C.train_quality_classifier(labeled)

    held = spark.createDataFrame(
        [(200, good[4]), (201, good[5]), (300, bad[4]), (301, bad[5]),
         (400, None)],
        "doc_id long, text string",
    )
    scored = {r.id: r.prob_keep for r in C.score_quality(held, model).collect()}
    assert 400 not in scored  # NULL text: emit-nothing rule
    assert set(scored) == {200, 201, 300, 301}
    assert min(scored[200], scored[201]) > max(scored[300], scored[301]), scored
    assert all(0.0 <= p <= 1.0 for p in scored.values())
    again = {r.id: r.prob_keep for r in C.score_quality(held, model).collect()}
    assert scored == again
    # featurize is the shared projection: width must match the declared names
    feat = C.featurize(held).first()["features"]
    assert len(feat) == len(C.FEATURE_NAMES)


def test_curation_pipeline_with_learned_gate(spark, docs):
    """r10 composition: the full curation stack with the NEW learned
    tier in the middle — exact+near dedup -> classifier gate ->
    PPS subsample weighted by the classifier's own probability.
    Exercises that the stages compose on one frame without schema or
    cache-contract friction, and that the gate actually removes the
    injected spam the dedup tiers cannot."""
    from real_timetransactionaldatalakehouse_spark.operators import classify as C
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    spam = spark.createDataFrame(
        [(500_000 + i, ("spamtok%d " % (i % 3)) * 25) for i in range(30)],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(spam)

    # tier 1: dedup (keep-one; the 3 distinct spam texts survive here)
    deduped = D.drop_near_duplicates(corpus, jaccard_threshold=0.5)
    n_dedup = deduped.count()
    assert deduped.filter(F.col("doc_id") >= 500_000).count() == 3

    # tier 2: learned gate (seed: real docs vs spam)
    labeled = (
        docs.limit(60).withColumn("label", F.lit(1))
        .unionByName(spam.limit(15).withColumn("label", F.lit(0)))
    )
    model = C.train_quality_classifier(labeled)
    scored = C.score_quality(deduped, model)
    gated = deduped.join(
        scored.filter(F.col("prob_keep") > 0.5)
        .select(F.col("id").alias("doc_id")),
        "doc_id", "left_semi",
    )
    assert gated.filter(F.col("doc_id") >= 500_000).count() == 0
    n_gated = gated.count()
    assert 0 < n_gated <= n_dedup

    # tier 3: PPS subsample sized by the classifier probability
    weighted = gated.join(
        scored.select(
            F.col("id").alias("doc_id"),
            (F.col("prob_keep") * 1000).cast("long").alias("w"),
        ),
        "doc_id",
    )
    sampled = Smp.sample_systematic(weighted, k=25, weight_col="w")
    n_sampled = sampled.count()
    assert n_sampled == 25 or n_sampled == sampled.select("doc_id").distinct().count()
    D.release_cached(deduped)


def _toy_quality_model(spark):
    from real_timetransactionaldatalakehouse_spark.operators import classify as C

    good = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "she walked to the market in the morning and bought fresh bread",
        "a long journey begins with a single step taken in the right spirit",
        "the committee agreed that the proposal would be reviewed next week",
    ]
    bad = [
        "zzz zzz zzz zzz zzz zzz zzz zzz",
        "4543 9921 3321 0983 1123 5567 8893",
        "BUY BUY BUY CLICK CLICK CLICK WIN WIN",
        "asdf asdf asdf asdf asdf asdf asdf asdf",
    ]
    labeled = spark.createDataFrame(
        [(i, t, 1) for i, t in enumerate(good)]
        + [(100 + i, t, 0) for i, t in enumerate(bad)],
        "doc_id long, text string, label int",
    )
    return C.train_quality_classifier(labeled)


def test_select_threshold_keep_rate_mode(spark, docs):
    """r11 (VERDICT r10 #5): tau from a target keep-rate must actually
    keep ~that fraction of the scored corpus, and be monotone (a
    larger target keep-rate never yields a larger tau)."""
    from real_timetransactionaldatalakehouse_spark.operators import classify as C

    model = _toy_quality_model(spark)
    scored = C.score_quality(docs, model)
    n = scored.count()
    tau30 = C.select_threshold(scored, target_keep_rate=0.3)
    kept = scored.filter(F.col("prob_keep") >= tau30).count()
    assert abs(kept / n - 0.3) < 0.05, (kept, n, tau30)
    tau80 = C.select_threshold(scored, target_keep_rate=0.8)
    assert tau80 <= tau30
    kept80 = scored.filter(F.col("prob_keep") >= tau80).count()
    assert abs(kept80 / n - 0.8) < 0.05, (kept80, n, tau80)


def test_select_threshold_precision_mode(spark):
    """r11 (VERDICT r10 #5): precision-target tau on a labeled holdout
    — (a) the keep-set at tau meets the target precision, (b) tau is
    minimal on the bin grid (max recall: one grid step lower breaks
    the target), (c) an unattainable target raises instead of
    silently keeping everything."""
    import pytest as _pytest

    from real_timetransactionaldatalakehouse_spark.operators import classify as C

    model = _toy_quality_model(spark)
    held = spark.createDataFrame(
        [(200, "he read the letter twice before answering with a careful reply"),
         (201, "many travelers have described the valley as quiet and beautiful"),
         (202, "the harvest was gathered before the first frost settled in"),
         (300, "%%% ### @@@ &&& *** !!! ??? $$$"),
         (301, "11111 22222 33333 44444 55555 66666"),
         (302, "qwer qwer qwer qwer qwer qwer qwer")],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(200, 1), (201, 1), (202, 1), (300, 0), (301, 0), (302, 0)],
        "doc_id long, label int",
    )
    scored = C.score_quality(held, model)
    bins = 1000
    tau = C.select_threshold(
        scored, target_precision=1.0, labeled_holdout=labels, bins=bins)
    got = {r.id: r.prob_keep for r in scored.collect()}
    y = {200: 1, 201: 1, 202: 1, 300: 0, 301: 0, 302: 0}

    def precision(at):
        keep = [i for i, p in got.items() if p >= at]
        return sum(y[i] for i in keep) / len(keep) if keep else None

    assert precision(tau) == 1.0
    # minimal on the grid: one step lower must break the target (or
    # tau is already the grid floor)
    assert tau == 0.0 or precision(tau - 1.0 / bins) is None \
        or precision(tau - 1.0 / bins) < 1.0
    # unattainable: every holdout label is 0 -> no tau can reach p=0.9
    all_bad = labels.withColumn("label", F.lit(0))
    with _pytest.raises(ValueError):
        C.select_threshold(
            scored, target_precision=0.9, labeled_holdout=all_bad)
    # argument discipline: exactly one target
    with _pytest.raises(ValueError):
        C.select_threshold(scored)
    with _pytest.raises(ValueError):
        C.select_threshold(
            scored, target_keep_rate=0.5, target_precision=0.9,
            labeled_holdout=labels)
    # degenerate inputs fail loudly, not with an opaque TypeError
    # (review finding): empty scored frame in keep-rate mode, and a
    # holdout sharing no ids with the scored frame in precision mode
    empty = scored.filter(F.lit(False))
    with _pytest.raises(ValueError, match="no non-NULL scores"):
        C.select_threshold(empty, target_keep_rate=0.5)
    disjoint = labels.withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000))
    with _pytest.raises(ValueError, match="shares no ids"):
        C.select_threshold(
            scored, target_precision=0.9, labeled_holdout=disjoint)
    # holdout rows absent from scored (e.g. NULL text) are excluded
    # from calibration, per the documented column contract: adding
    # unscorable rows must not move tau
    padded = labels.unionByName(spark.createDataFrame(
        [(900, 1), (901, 0)], "doc_id long, label int"))
    assert C.select_threshold(
        scored, target_precision=1.0, labeled_holdout=padded) == tau


def test_calibrated_gate_feeds_pps_sampling(spark, docs):
    """r11 (VERDICT r10 #5): the docstring's own recommended downstream
    — calibrate tau, gate, then PPS-subsample with prob_keep as the
    weight (sample_systematic needs positive integer weights, so the
    probability is fixed-point scaled).  Deterministic end-to-end."""
    from real_timetransactionaldatalakehouse_spark.operators import classify as C
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    model = _toy_quality_model(spark)
    scored = C.score_quality(docs, model)
    tau = C.select_threshold(scored, target_keep_rate=0.5)
    gated = scored.filter(F.col("prob_keep") >= tau)
    weighted = gated.select(
        F.col("id").alias("doc_id"),
        (F.col("prob_keep") * 10_000).cast("long").alias("w"),
    ).filter(F.col("w") > 0)
    k = 20
    sampled = Smp.sample_systematic(weighted, k=k, weight_col="w")
    rows = sampled.collect()
    assert sum(r.n_tickets for r in rows) == k
    ids = {r.doc_id for r in rows}
    assert len(ids) == len(rows)  # unique docs
    gate_ids = {r.id for r in gated.collect()}
    assert ids <= gate_ids  # sampler only sees gated docs
    again = {r.doc_id for r in
             Smp.sample_systematic(weighted, k=k, weight_col="w").collect()}
    assert ids == again


def test_leakage_safe_split_is_leakage_free_by_construction(spark, docs):
    """r10: cluster-atomic split assignment — the constructive
    counterpart of the split_leakage audit.  With injected near-dup
    mutants, (a) every cluster lands whole in one split, (b) the
    audit's own pair check over the assignment finds ZERO straddling
    pairs at the same threshold, (c) plain hash_split on the same
    corpus DOES leak (the control proving the test can fail), and
    (d) the assignment is deterministic and total."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    corpus = _with_mutants(docs)  # doc i and i+200000 are near-dups
    out = Smp.leakage_safe_split(
        corpus, jaccard_threshold=0.5,
        weights={"train": 0.5, "eval": 0.5}, seed="split-v9",
    )
    got = {r.doc_id: r.split for r in out.collect()}
    assert len(got) == corpus.count()
    # verified near-dup pairs must not straddle
    pairs = D.minhash_verified_neardup_pairs(corpus, jaccard_threshold=0.5)
    straddle = [
        (r.id_a, r.id_b) for r in pairs.collect()
        if got[r.id_a] != got[r.id_b]
    ]
    assert straddle == [], straddle[:5]
    # control: id-hash splitting leaks on this corpus at 50/50
    plain = {
        r.doc_id: r.split
        for r in Smp.hash_split(
            corpus, weights={"train": 0.5, "eval": 0.5}, seed="split-v9"
        ).collect()
    }
    assert any(plain[a] != plain[b] for a, b in
               ((r.id_a, r.id_b) for r in pairs.collect()))
    # deterministic across recomputation
    again = {r.doc_id: r.split for r in Smp.leakage_safe_split(
        corpus, jaccard_threshold=0.5,
        weights={"train": 0.5, "eval": 0.5}, seed="split-v9",
    ).collect()}
    assert got == again
    D.release_cached(out)


def test_leakage_safe_split_tolerates_caller_cluster_id(spark, docs):
    """r10 ADVICE #3: a frame arriving straight out of the dedup tier
    can already carry a ``cluster_id`` column; the split's internal
    cluster label must not collide with it (it joins under the
    reserved ``__lss_cluster_id`` name).  The caller's column must
    survive untouched and the assignment must equal the clean-frame
    run — an ambiguous-column error or a coalesce against the wrong
    cluster_id fails both."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    corpus = _with_mutants(docs)
    kw = dict(jaccard_threshold=0.5,
              weights={"train": 0.5, "eval": 0.5}, seed="split-v9")
    noisy = corpus.withColumn("cluster_id", F.lit("caller-owned"))
    out = Smp.leakage_safe_split(noisy, **kw)
    assert "cluster_id" in out.columns
    rows = out.collect()
    assert rows and all(r.cluster_id == "caller-owned" for r in rows)
    clean = {
        r.doc_id: r.split
        for r in Smp.leakage_safe_split(corpus, **kw).collect()
    }
    assert {r.doc_id: r.split for r in rows} == clean
    D.release_cached(out)


def test_substring_dup_spans_exactsubstr_semantics(spark):
    """r11 EXT: duplicated-substring spans (the ExactSubstr dedup
    class).  Planted: a 10-token run shared by two docs at DIFFERENT
    offsets (stride-aligned passage profiling cannot see this) must
    produce exactly one merged span per doc covering the run; a
    clean doc emits nothing; an intra-doc repeat flags both copies as
    separate spans when split by unique tokens; deterministic."""
    shared = " ".join(f"dup{i}" for i in range(10))
    d1 = "a1 a2 a3 " + shared + " a4 a5"      # run at tokens 4..13
    d2 = "b1 " + shared + " b2 b3 b4 b5 b6"   # run at tokens 2..11
    d3 = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"     # no duplication
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string")
    out = D.substring_dup_spans(df, min_gram=8)
    rows = {r.id: (r.span_start, r.span_end, r.n_grams)
            for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == (4, 13, 3)   # starts 4,5,6 merged; ends at 6+7
    assert rows[2] == (2, 11, 3)
    # intra-doc repetition: two spans, split by the unique gap tokens
    d4 = shared + " x1 x2 " + shared
    out2 = D.substring_dup_spans(
        spark.createDataFrame([(9, d4)], "doc_id long, text string"),
        min_gram=8)
    assert sorted((r.span_start, r.span_end) for r in out2.collect()) \
        == [(1, 10), (13, 22)]
    # deterministic across recomputation
    again = {r.id: (r.span_start, r.span_end, r.n_grams)
             for r in D.substring_dup_spans(df, min_gram=8).collect()}
    assert rows == again


def test_trim_duplicated_spans_removes_planted_runs(spark):
    """r11 EXT: the act side of substring_dup_spans — planted shared
    runs are removed from every carrier, untouched docs pass through
    byte-identical with n_trimmed 0, and an all-duplicate doc trims
    to empty rather than erroring."""
    shared = " ".join(f"dup{i}" for i in range(10))
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5"),
        (2, "b1 " + shared + " b2 b3 b4 b5 b6"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_trimmed)
           for r in D.trim_duplicated_spans(df, min_gram=8).collect()}
    assert out[1] == ("a1 a2 a3 a4 a5", 10)
    assert out[2] == ("b1 b2 b3 b4 b5 b6", 10)
    assert out[3] == (rows[2][1], 0)
    assert out[4] == (None, 0)
    # a doc that IS a duplicated span trims to empty
    two = spark.createDataFrame(
        [(7, shared), (8, shared)], "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_trimmed)
           for r in D.trim_duplicated_spans(two, min_gram=8).collect()}
    assert got == {7: ("", 10), 8: ("", 10)}


def test_max_occ_cap_is_output_preserving(spark):
    """r12 (VERDICT r11 #3): the hot-fingerprint skew guard.  A
    corpus-universal boilerplate gram (planted in 30% of docs) makes
    one COUNT-window partition straggler-sized at scale; max_occ=N
    routes fingerprints with count > N around the window via a
    broadcast heavy-list — and because any fingerprint over the cap
    is duplicated BY CONSTRUCTION, the output must be bit-identical
    to the uncapped run for every N >= 1."""
    boiler = " ".join(f"lic{i}" for i in range(8))  # one full chunk/gram
    rows = [
        (i, (boiler + " " if i % 10 < 3 else "")
            + " ".join(f"w{i}_{j}" for j in range(16)))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, kw in (
        (D.passage_repetition, dict(chunk=8)),
        (D.substring_dup_spans, dict(min_gram=8)),
    ):
        base = sorted(map(tuple, fn(df, **kw).collect()))
        assert base  # the planted boilerplate must actually mark rows
        for cap in (1, 2, 29, 1000):
            capped = sorted(map(tuple, fn(df, max_occ=cap, **kw).collect()))
            assert capped == base, (fn.__name__, cap)
    with pytest.raises(ValueError, match="max_occ"):
        D.passage_repetition(df, chunk=8, max_occ=0).collect()


def test_keep_first_trim_elects_one_survivor(spark):
    """r12 (VERDICT r11 #4): Lee et al.'s keep-one-copy ExactSubstr.
    One cross-doc planted run -> the copy in the LOWEST doc_id
    survives untouched, every other carrier loses exactly the run;
    an intra-doc repeat keeps its earliest offset; keep='none' stays
    the aggressive all-copies default; a precomputed spans frame
    with keep='first' is rejected (no occurrence info)."""
    shared = " ".join(f"dup{i}" for i in range(10))
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5"),
        (2, "b1 " + shared + " b2 b3 b4 b5 b6"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_trimmed)
           for r in D.trim_duplicated_spans(df, min_gram=8,
                                            keep="first").collect()}
    assert out[1] == (rows[0][1], 0)          # survivor: untouched
    assert out[2] == ("b1 b2 b3 b4 b5 b6", 10)
    assert out[3] == (rows[2][1], 0)
    # intra-doc repeat: earliest offset survives
    d4 = shared + " x1 x2 " + shared
    one = spark.createDataFrame([(9, d4)], "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_trimmed)
           for r in D.trim_duplicated_spans(one, min_gram=8,
                                            keep="first").collect()}
    assert got == {9: (shared + " x1 x2", 10)}
    # keep="none" on the same corpus removes every copy (unchanged)
    allgone = {r.doc_id: r.n_trimmed
               for r in D.trim_duplicated_spans(df, min_gram=8).collect()}
    assert allgone == {1: 10, 2: 10, 3: 0}
    with pytest.raises(ValueError, match="spans=None"):
        D.trim_duplicated_spans(
            df, spans=D.substring_dup_spans(df), keep="first")
    with pytest.raises(ValueError, match="keep"):
        D.trim_duplicated_spans(df, keep="latest")
    # max_occ guards the keep='none' window path only; silently
    # dropping it under keep='first' would fake a skew guard
    with pytest.raises(ValueError, match="max_occ"):
        D.trim_duplicated_spans(df, keep="first", max_occ=100)


def test_removable_spans_keep_first_determinism(spark):
    """The survivor election is min (id, start) — a total order — so
    the removable-span table is identical across recomputation and
    row-order permutation."""
    shared = " ".join(f"dup{i}" for i in range(12))
    rows = [(i, f"p{i} " + shared + f" q{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple,
                   D.removable_spans_keep_first(df, min_gram=8).collect()))
    b = sorted(map(tuple, D.removable_spans_keep_first(
        df.orderBy(F.rand(7)), min_gram=8).collect()))
    assert a == b
    assert {t[0] for t in a} == set(range(1, 6))  # doc 0 survives


def test_select_threshold_clamps_at_lowest_populated_bucket(spark):
    """r12 (ADVICE r11): when the ENTIRE holdout meets the precision
    target the sweep used to keep lowering tau through empty bins all
    the way to 0.0 — a disabled gate calibrated from zero evidence
    about the low-score region.  tau must now clamp at the lowest
    score bucket the holdout actually witnessed."""
    from real_timetransactionaldatalakehouse_spark.operators import classify as C

    bins = 1000
    scored = spark.createDataFrame(
        [(1, 0.91), (2, 0.74), (3, 0.655)], "id long, prob_keep double")
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, label int")
    tau = C.select_threshold(
        scored, target_precision=1.0, labeled_holdout=labels, bins=bins)
    assert tau == 655 / bins  # lowest populated bucket, NOT 0.0
    # corpus rows below every holdout score are no longer blanket-kept
    corpus = spark.createDataFrame(
        [(10, 0.05), (11, 0.64), (12, 0.66)], "id long, prob_keep double")
    kept = {r.id for r in corpus.filter(F.col("prob_keep") >= tau).collect()}
    assert kept == {12}


def test_bloom_decontaminate_matches_exact_and_bounds_fps(spark, docs):
    """r12 EXT: Bloom-screened decontamination.  (a) confirm=True
    equals decontaminate_ngram exactly — false positives cost confirm
    work, never correctness; (b) the report's n_confirmed <=
    n_screened with every benchmark carrier confirmed; (c)
    confirm=False (screen-only) drops a superset of the exact drop
    set; (d) the production xxhash64 mode and the SQL-twin md5_60
    mode agree on CONFIRMED contamination (screen FPs may differ —
    different hash families); (e) sizing discipline raises."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    corpus = docs.filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    bench = corpus.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    kw = dict(n=8, m_bits=16384, k=4, hash_fn="md5_60")
    exact = {r.doc_id for r in
             Smp.decontaminate_ngram(corpus, bench).select("doc_id").collect()}
    bloom = {r.doc_id for r in
             Smp.bloom_decontaminate(corpus, bench, **kw)
             .select("doc_id").collect()}
    assert bloom == exact
    rep = Smp.bloom_contamination_report(corpus, bench, **kw).collect()
    assert rep and all(0 <= r.n_confirmed <= r.n_screened for r in rep)
    confirmed = {r.doc_id for r in rep if r.n_confirmed > 0}
    assert set(range(20)) <= confirmed  # every planted carrier confirmed
    screen_only = {r.doc_id for r in
                   Smp.bloom_decontaminate(corpus, bench, confirm=False, **kw)
                   .select("doc_id").collect()}
    assert screen_only <= bloom  # over-dropping, never under-dropping
    fast = {r.doc_id
            for r in Smp.bloom_contamination_report(
                corpus, bench, n=8, m_bits=1 << 20, k=4).collect()
            if r.n_confirmed > 0}
    assert fast == confirmed
    with pytest.raises(ValueError, match="m_bits"):
        Smp.bloom_contamination_report(corpus, bench, m_bits=32)
    with pytest.raises(ValueError, match="hash_fn"):
        Smp.bloom_contamination_report(corpus, bench, hash_fn="sha1")


def test_perplexity_buckets_ccnet_partition(spark, sf_small):
    """r12 EXT: CCNet head/middle/tail bucketing.  (a) NTILE mode
    yields equal-thirds-per-language (within 1 doc); (b) bucket order
    respects the score: every head doc scores >= every tail doc in
    its language; (c) the sketch-cutoff scale mode agrees with NTILE
    on interior documents (boundary ties are the documented sketch
    deviation); (d) label/method discipline raises."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    corpus = (
        load_table(spark, sf_small, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text", "lang")
    )
    nt = TX.perplexity_buckets(corpus).collect()
    assert nt
    by_lang = {}
    for r in nt:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        counts = {}
        for r in rows:
            counts[r.bucket] = counts.get(r.bucket, 0) + 1
        assert set(counts) <= {"head", "middle", "tail"}
        assert max(counts.values()) - min(counts.values()) <= 1, (lang, counts)
        worst_head = min(r.avg_logprob for r in rows if r.bucket == "head")
        best_tail = max(r.avg_logprob for r in rows if r.bucket == "tail")
        assert worst_head >= best_tail
    cu = {r.doc_id: r.bucket for r in TX.perplexity_buckets(
        corpus, method="cutoffs").collect()}
    agree = sum(1 for r in nt if cu[r.doc_id] == r.bucket)
    assert agree / len(nt) > 0.95  # boundaries may differ, interior not
    with pytest.raises(ValueError, match="labels"):
        TX.perplexity_buckets(corpus, n_buckets=4)
    with pytest.raises(ValueError, match="method"):
        TX.perplexity_buckets(corpus, method="exact")


def test_dsir_upweights_target_domain(spark):
    """DSIR semantics on a planted two-domain corpus: documents built
    from the target domain's vocabulary must out-score documents from
    a disjoint vocabulary, target-vocab repeats add weight (bag
    semantics), and the scorer is deterministic."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    tgt_words = "alpha beta gamma delta epsilon zeta".split()
    other_words = "one two three four five six".split()
    corpus_rows = [
        (1, " ".join(tgt_words * 3)),          # pure target vocab
        (2, " ".join(other_words * 3)),        # pure off-domain vocab
        (3, " ".join(tgt_words + other_words)),  # mixed
        (4, " ".join(tgt_words * 6)),          # target vocab, repeated
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    target = spark.createDataFrame(
        [(100 + i, " ".join(tgt_words)) for i in range(5)],
        ["doc_id", "text"],
    )
    # smoothing-light configuration: at the default (4096 buckets,
    # alpha=0.5) a toy corpus is prior-dominated — alpha*m outweighs
    # every real count and all log-ratios hug ln(Tr/Tt) regardless of
    # content.  64 buckets / alpha=0.1 puts the counts in charge, the
    # regime the ordering semantics are defined in.
    kw = dict(n_buckets=64, alpha=0.1)
    out = {
        r["doc_id"]: r
        for r in Smp.dsir_logweights(corpus, target, **kw).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # per-gram normalization: docs differ in length, so rank by mean
    mean = {k: out[k]["logw"] / out[k]["n_grams"] for k in out}
    assert mean[1] > mean[3] > mean[2]
    # pure-target scores positive, pure-off-domain negative in the
    # count-dominated regime
    assert mean[1] > 0 > mean[2]
    # bag semantics: doc 4 is doc 1's gram stream doubled (+1 seam
    # bigram), so its PER-GRAM mean matches doc 1 far closer than the
    # gap to the mixed doc
    assert abs(mean[4] - mean[1]) < abs(mean[1] - mean[3]) / 4
    # n_grams = unigrams + bigrams = n + (n - 1)
    assert out[1]["n_grams"] == 18 + 17
    assert out[4]["n_grams"] == 36 + 35
    again = {
        r["doc_id"]: r["logw"]
        for r in Smp.dsir_logweights(corpus, target, **kw).collect()
    }
    assert {k: v["logw"] for k, v in out.items()} == again


def test_dsir_md5_mode_matches_xxhash_ordering(spark):
    """The md5_60 oracle mode and the xxhash64 scale path bucket grams
    differently, but on a planted corpus with disjoint domain vocab
    both must rank pure-target above pure-off-domain."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta"), (2, "seven eight nine ten seven")],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(9, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    for mode in ("xxhash64", "md5_60"):
        rows = {
            r["doc_id"]: r["logw"]
            for r in Smp.dsir_logweights(corpus, target, hash_fn=mode).collect()
        }
        assert rows[1] > rows[2], mode


def test_c4_line_filter_applies_both_tiers(spark):
    """Every C4 rule on a planted page set: line tier (terminal punct,
    min words, javascript) and page tier (lorem ipsum, curly bracket,
    min surviving lines), with pass-through columns intact and
    row-dropping output."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    good = "\n".join(
        [
            "this line has enough words here.",   # kept
            "too short.",                          # dropped: < 5 words
            "this line has no terminal punctuation at all",  # dropped
            "enable javascript to view this page.",  # dropped: javascript
            'a quoted line with plenty of words ends well"',  # kept
            "another perfectly fine sentence with many words!",  # kept
            "is this a question with enough words?",  # kept
        ]
    )
    lorem = "lorem ipsum dolor sit amet consectetur."
    code = "this page has code with plenty of words { inside }."
    thin = "\n".join(
        ["only one line survives this particular page.", "nope.", "nah"]
    )
    df = spark.createDataFrame(
        [(1, good, "a"), (2, lorem, "b"), (3, code, "c"), (4, thin, "d")],
        ["doc_id", "text", "tag"],
    )
    out = TX.c4_line_filter(df)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1}  # row-dropping: 2 lorem, 3 brace, 4 thin
    r = rows[1]
    assert r["n_lines_in"] == 7 and r["n_lines_kept"] == 4
    assert r["tag"] == "a"  # pass-through column survives
    assert r["clean_text"].splitlines() == [
        "this line has enough words here.",
        'a quoted line with plenty of words ends well"',
        "another perfectly fine sentence with many words!",
        "is this a question with enough words?",
    ]
    # parameter dials: a permissive min_lines keeps the thin page
    relaxed = TX.c4_line_filter(df, min_lines=1)
    assert {r["doc_id"] for r in relaxed.collect()} == {1, 4}


def test_gumbel_topk_matches_python_replica(spark):
    """The Gumbel sample is a pure function of (id, seed, weight):
    a Python replica of the key arithmetic must select the identical
    k rows in the identical order, re-runs are stable, a different
    seed draws a different sample, and the plan is TakeOrdered (no
    global sort)."""
    import hashlib
    import math

    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp
    from real_timetransactionaldatalakehouse_spark.plans import uses_take_ordered

    rows = [(i, float(-i) / 7.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "logw"])

    def key_of(doc_id, logw, seed):
        h = int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:15], 16)
        u = ((h % 1_000_000) + 0.5) / 1_000_000.0
        g = -math.log(-math.log(u))
        # DECIMAL(28,6) rounding (half-up like both engines' casts)
        from decimal import Decimal, ROUND_HALF_UP

        return float(
            Decimal(repr(logw / 1.0 + g)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    expect = sorted(
        ((key_of(i, w, "gumbel-v1"), i) for i, w in rows),
        key=lambda t: (-t[0], t[1]),
    )[:25]
    got = Smp.gumbel_topk(df, "logw", 25).collect()
    assert [(r["sample_key"], r["doc_id"]) for r in got] == expect
    again = Smp.gumbel_topk(df, "logw", 25).collect()
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in got]
    other = Smp.gumbel_topk(df, "logw", 25, seed="gumbel-v2").collect()
    assert {r["doc_id"] for r in other} != {r["doc_id"] for r in got}
    assert uses_take_ordered(Smp.gumbel_topk(df, "logw", 25))
    # temperature flattens: at tau -> inf the weights stop mattering,
    # so the sample approaches the pure-Gumbel (uniform) draw
    flat = Smp.gumbel_topk(df, "logw", 25, temperature=1e12).collect()
    uniform = sorted(
        ((key_of(i, 0.0, "gumbel-v1"), i) for i, w in rows),
        key=lambda t: (-t[0], t[1]),
    )[:25]
    assert {r["doc_id"] for r in flat} == {i for _, i in uniform}


def test_bpe_learn_matches_python_reference(spark):
    """The full BPE training loop against a pure-Python reference
    (Sennrich et al. 2016's get_stats/merge_vocab with the same
    (freq DESC, pair ASC) tiebreak): identical merge sequence,
    identical segmentation, early stop below min_pair_freq."""
    from collections import Counter

    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "low newer low lowest new",
    ]

    def py_bpe(texts, n_merges, min_pair_freq=2):
        freqs = Counter(w for t in texts for w in t.split() if w)
        vocab = {w: list(w) + ["</w>"] for w in freqs}
        merges = []
        for _ in range(n_merges):
            pairs = Counter()
            for w, sym in vocab.items():
                for a, b in zip(sym, sym[1:]):
                    pairs[(a, b)] += freqs[w]
            if not pairs:
                break
            (l, r), n = sorted(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
            if n < min_pair_freq:
                break
            merges.append((l, r, n))
            for w, sym in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                vocab[w] = out
        return merges, vocab

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got, words = TX.bpe_learn(df, n_merges=12, checkpoint_every=4)
    want, pyvocab = py_bpe(texts, 12)
    assert got == want
    # the final symbolized word table agrees with the reference vocab
    spark_vocab = {r["w"]: list(r["sym"]) for r in words.collect()}
    assert spark_vocab == pyvocab
    # segmentation applies the learned rules identically
    seg = TX.bpe_segment(df, got).collect()
    for r in seg:
        expect = [s for w in r["text"].split() if w for s in pyvocab[w]]
        assert list(r["bpe_tokens"]) == expect
    # early stop: an all-unique corpus has no pair at freq >= 2
    uniq = spark.createDataFrame([(0, "ab cd ef")], ["doc_id", "text"])
    m2, _ = TX.bpe_learn(uniq, n_merges=5)
    assert m2 == []


def test_c4_line_filter_handles_crlf(spark):
    """CRLF corpora must behave identically to LF corpora — a trailing
    \r previously failed the terminal-punctuation rule on every line
    and silently dropped whole documents (r12 review finding)."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    lf = "\n".join(
        [
            "this line has enough words here.",
            "another perfectly fine sentence with many words!",
            "is this a question with enough words?",
        ]
    )
    crlf = lf.replace("\n", "\r\n")
    df = spark.createDataFrame([(1, lf), (2, crlf)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in TX.c4_line_filter(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_lines_kept"] == rows[1]["n_lines_kept"] == 3
    assert rows[2]["clean_text"] == rows[1]["clean_text"]


def test_gumbel_topk_rejects_bad_args(spark):
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    df = spark.createDataFrame([(1, 0.5)], ["doc_id", "logw"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="temperature"):
        Smp.gumbel_topk(df, "logw", 5, temperature=0.0)
    with _pytest.raises(ValueError, match="temperature"):
        Smp.gumbel_topk(df, "logw", 5, temperature=-1.0)
    with _pytest.raises(ValueError, match="k must"):
        Smp.gumbel_topk(df, "logw", 0)


def test_drop_repeated_lines_ccnet_semantics(spark):
    """Cross-document line dedup: lines over max_occ occurrences are
    removed everywhere except (keep='first') the global minimum
    (id, pos) occurrence; unique lines and untouched docs pass
    through; intra-doc repeats count toward the occurrence total."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    boiler = "all rights reserved by the example corporation"
    docs = [
        (1, f"{boiler}\nunique first line here\n{boiler}"),   # 2 occurrences
        (2, f"intro line for doc two\n{boiler}"),             # 1 more
        (3, "totally unique document\nwith two lines"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.drop_repeated_lines(df).collect()}
    assert set(out) == {1, 2, 3}
    # keep="first": doc 1 pos 0 survives; doc 1 pos 2 and doc 2 pos 1 drop
    assert out[1]["clean_text"] == f"{boiler}\nunique first line here"
    assert out[2]["clean_text"] == "intro line for doc two"
    assert out[3]["clean_text"] == docs[2][1]
    assert (out[1]["n_lines_in"], out[1]["n_lines_kept"]) == (3, 2)
    assert (out[2]["n_lines_in"], out[2]["n_lines_kept"]) == (2, 1)
    assert (out[3]["n_lines_in"], out[3]["n_lines_kept"]) == (2, 2)
    # keep="none": every occurrence of the boilerplate goes
    none = {r["doc_id"]: r for r in D.drop_repeated_lines(df, keep="none").collect()}
    assert none[1]["clean_text"] == "unique first line here"
    assert none[2]["clean_text"] == "intro line for doc two"
    # max_occ dial: at 3 the boilerplate (3 occurrences) stays whole
    loose = {r["doc_id"]: r for r in D.drop_repeated_lines(df, max_occ=3).collect()}
    assert loose[1]["clean_text"] == docs[0][1]
    # CRLF input behaves like LF
    crlf = spark.createDataFrame(
        [(i, t.replace("\n", "\r\n")) for i, t in docs], ["doc_id", "text"]
    )
    out2 = {r["doc_id"]: r for r in D.drop_repeated_lines(crlf).collect()}
    assert out2[1]["clean_text"] == out[1]["clean_text"]
    # arg discipline
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        D.drop_repeated_lines(df, keep="all")
    with _pytest.raises(ValueError, match="max_occ"):
        D.drop_repeated_lines(df, max_occ=0)
