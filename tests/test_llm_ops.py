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


def test_minhash_no_false_positive_explosion(docs):
    pairs = D.minhash_neardup_pairs(docs, jaccard_threshold=0.9)
    n_docs = docs.count()
    assert pairs.count() < n_docs  # distinct corpus: near-identity pairs only


def test_simhash_finds_injected_neardups(docs):
    pairs = D.simhash_neardup_pairs(_with_mutants(docs))
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 200000) for i in range(20)}
    # 12 of the 20 mutants sit at hamming <= 4 on this corpus
    assert len(expected & found) >= 12


def test_simhash_auto_chunks_derivation_and_wide_tier(docs, monkeypatch):
    """r11 (VERDICT r10 #3): the banding scheme derives from corpus
    size.  (a) The derivation ladder: 4x16 single chunks while the
    expected 16-bit bucket is within half the 256 cap (~8.4M docs),
    then C(6,2) / C(8,4) combination schemes.  (b) The growth tiers
    (forced by pinning the derivation) guarantee d <= 4 (one stronger
    than tier 0's d <= 3): every pair tier 0 finds must appear in
    their output, the tiers agree exactly at <= 3 (all guarantee it),
    and every emitted pair passes the exact hamming filter."""
    assert D.derive_simhash_chunks(500) == ((16, 16, 16, 16), 1)
    assert D.derive_simhash_chunks(8_000_000) == ((16, 16, 16, 16), 1)
    assert D.derive_simhash_chunks(20_000_000) == (
        (11, 11, 11, 11, 10, 10), 2)
    assert D.derive_simhash_chunks(10**9) == ((8,) * 8, 4)
    assert all(sum(w) == 64 and len(w) - m == (3 if m == 1 else 4)
               for w, m in (D.derive_simhash_chunks(n)
                            for n in (500, 2 * 10**7, 10**9)))

    corpus = _with_mutants(docs)
    auto = {(r.id_a, r.id_b, r.hamming)
            for r in D.simhash_neardup_pairs(corpus).collect()}
    for scheme in (((11, 11, 11, 11, 10, 10), 2), ((8,) * 8, 4)):
        monkeypatch.setattr(D, "derive_simhash_chunks", lambda n, s=scheme: s)
        wide = {(r.id_a, r.id_b, r.hamming)
                for r in D.simhash_neardup_pairs(corpus).collect()}
        # shared guarantee band: exact agreement at d <= 3
        assert ({p for p in auto if p[2] <= 3}
                == {p for p in wide if p[2] <= 3}), scheme
        # growth-tier guarantee d <= 4: nothing tier 0 found there
        # may be missed
        assert auto <= wide, scheme
        assert all(h <= 4 for _, _, h in wide)
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
    lsh = S.knn_lsh(q, emb)
    ls = {r.query_id: r.neighbor_id for r in lsh.collect() if r.rank == 1}
    agree = sum(1 for k in bf if ls.get(k) == bf[k])
    # 16 tables x 4 planes OR-amplified: top-1 should co-bucket in some table
    assert agree >= 12, f"LSH top-1 agreed on only {agree}/20 queries"


def test_ivf_recovers_bruteforce_topk_mostly(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    bf = {r.query_id: r.neighbor_id for r in S.knn_bruteforce(q, emb, k=1).collect()}
    ivf = {r.query_id: r.neighbor_id for r in S.knn_ivf(q, emb).collect()
           if r.rank == 1}
    agree = sum(1 for k in bf if ivf.get(k) == bf[k])
    assert agree >= 10, f"IVF top-1 agreed on only {agree}/20 queries"
    # determinism: same centroids, same result
    ivf2 = {r.query_id: r.neighbor_id for r in S.knn_ivf(q, emb).collect()
            if r.rank == 1}
    assert ivf == ivf2


def test_multimodal_feature_batches(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs.filter(F.col("doc_id") < 30))
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


def test_multimodal_expr_equals_python_reference(spark, sf_small):
    """The codegen md5 feature expression must equal the Python
    reference ``deterministic_fake_features`` on every row — float32
    for float32, including the NULL-payload zero vector."""
    import numpy as np

    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs.filter(F.col("doc_id") < 30)).withColumn(
        "payload",
        F.when(F.col("media_id") % 7 == 0, F.lit(None)).otherwise(F.col("payload")),
    )
    rows = MM.extract_features(media).collect()
    assert len(rows) == 30
    assert sum(r.payload is None for r in rows) == 5
    for r in rows:
        ref = MM.deterministic_fake_features(
            bytes(r.payload) if r.payload is not None else None
        )
        assert r.features == np.asarray(ref, dtype=np.float32).tolist(), r.media_id


def test_multimodal_expr_plan_has_no_python(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    media = MM.synthetic_media(spark, docs.filter(F.col("doc_id") < 30))
    plan = MM.extract_features(media)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_embed_neardup_lsh_recall(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    sub = emb.filter(F.col("vec_id") < 80)
    exact = {(r.id_a, r.id_b) for r in
             S.embedding_neardup_pairs(sub).collect() if r.score >= 0.35}
    approx = {(r.id_a, r.id_b) for r in
              S.embedding_neardup_pairs_lsh(sub).collect()}
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
    verified = D.minhash_verified_neardup_pairs(full)
    got = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    expected = {(i, i + 200000) for i in range(20)}
    hits = expected & set(got)
    assert len(hits) >= 15, f"verified pipeline found {len(hits)}/20 mutants"
    # exact-value spot check against the direct 3-shingle jaccard
    sh = full.filter(
        (F.col("doc_id") < 5) | ((F.col("doc_id") >= 200000) & (F.col("doc_id") < 200005))
    ).select("doc_id", F.array_distinct(D.word_shingles("text")).alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    direct = {
        (r.id_a, r.id_b): r.jaccard
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
            (F.size(F.array_intersect("a.s", "b.s")).cast("double")
             / F.size(F.array_union("a.s", "b.s"))).alias("jaccard"),
        ).collect()
    }
    for pair in got:
        if pair in direct:
            assert got[pair] == direct[pair]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


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
    a = [r[0] for r in docs.orderBy("doc_id").select(SP.split_bucket("doc_id", "v1")).collect()]
    b = [r[0] for r in docs.orderBy("doc_id").select(SP.split_bucket("doc_id", "v2")).collect()]
    assert a != b, "different seeds must re-split"
    with pytest.raises(ValueError, match="sum to 1"):
        SP.hash_split(docs, "doc_id", weights={"train": 0.5, "val": 0.1})


def test_cap_per_group_bounds_every_group(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    capped = SP.cap_per_group(docs, ["source", "lang"], "n_chars", 3)
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
    kept = SP.decontaminate(corpus, bench)
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
    kept = SP.decontaminate_ngram(corpus, bench)
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
        bench)
    assert {r.doc_id for r in kept14.collect()} == {1, 2, 3}


def test_chunk_documents_layout(spark):
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    toks = [f"w{i}" for i in range(20)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, "only")],
        "doc_id long, text string",
    )
    out = TX.chunk_documents(df, budget=12).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 20 tokens, stride 12 - 8 = 4 -> ceil((20-8)/4) = 3 chunks at 0/4/8
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert c1[0].chunk_text == " ".join(toks[0:12])
    assert c1[1].chunk_text == " ".join(toks[4:16])
    assert c1[2].chunk_text == " ".join(toks[8:20])
    assert all(r.n_tokens == 12 for r in c1)
    # short docs: exactly one (short) chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b"
    assert by_doc[2][0].n_tokens == 2
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens == 1
    # every consecutive pair overlaps by exactly 8 tokens
    assert c1[0].chunk_text.split()[-8:] == c1[1].chunk_text.split()[:8]
    with pytest.raises(ValueError):
        TX.chunk_documents(df, budget=8)


def test_chunk_documents_plan_no_shuffle(spark, sf_small):
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    plan = TX.chunk_documents(docs, 32)._jdf.queryExecution().executedPlan().toString()
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
    got = {r.doc_id: r for r in ngram_lm_score(df).collect()}
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
        S.knn_lsh(q0, emb),
        S.knn_ivf(q0, emb),
    ):
        assert df.count() == 0
        assert df.columns == ["query_id", "neighbor_id", "rank", "score"]


def test_simhash_swar_equals_kernel(spark, sf_small):
    """The all-JVM SWAR signature aggregation must be bit-identical to
    the Arrow kernel formulation it replaced."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    kern = docs.select(
        F.col("doc_id").alias("id"),
        D._simhash_sig_udf()(
            F.transform(F.array_distinct(D.tokens("text")), D._md5_60)
        ).alias("sig"),
    )
    a = {r.id: r.sig for r in kern.collect()}
    b = {r.id: r.sig for r in D.simhash_sigs(docs).collect()}
    assert a == b and a


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
        for r in pack_sequences(docs, budget=budget).collect()
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
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
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
                F.transform(F.array_distinct(D.tokens("text")), D._md5_60)
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
            D.minhash_verified_neardup_pairs(docs)
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
            corpus
        ).collect()
    }
    want = {
        r.id: (r.cluster_id, r.n_members)
        for r in D.neardup_clusters(
            D.minhash_verified_neardup_pairs(corpus)
        ).collect()
    }
    assert got == want
    # sanity: the degenerate structure actually exists — doc 0's
    # component spans its 4 exact copies AND its mutant
    assert got[0][1] >= 6


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
    proj = S.project_embeddings(corpus).withColumnRenamed(
        "projected", "embedding"
    )
    q_prj = proj.filter(F.col("vec_id") >= 10000)
    top1 = {r.query_id: r.neighbor_id
            for r in S.knn_bruteforce(q_prj, proj, k=1).collect()}
    agree = sum(1 for q, n in top1.items() if n == q - 10000)
    assert agree >= 17, f"projection kept only {agree}/20 planted pairs"
    a = S.project_embeddings(emb).collect()
    b = {r.vec_id: r.projected for r in S.project_embeddings(emb).collect()}
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
    got = [(r.pair, r.n) for r in bpe_pair_counts(df).collect()]
    freq = Counter(w for t in corpus for w in t.split())
    want = Counter()
    for w, f in freq.items():
        for i in range(len(w) - 1):
            want[w[i:i + 2]] += f
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect


def test_embedding_centroids_equal_ordered_fold_replica(spark):
    """The ordered-fold centroids must equal the Python replica (sum in
    id order, then divide) bit-for-bit."""
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


def test_grouped_ols_matches_numpy_polyfit(spark):
    """The exact moment-sum OLS on integer inputs must match numpy's
    polyfit (1e-9 relative), and degenerate groups fit to NULL."""
    import numpy as np
    import pytest as _pytest

    from real_timetransactionaldatalakehouse_spark.operators.fitting import (
        grouped_ols,
    )

    rows = [(g, x, int(round((2.0 * g * x + 3.0 + ((x * 7919) % 11) / 10.0) * 10)))
            for g in range(3) for x in range(25)]
    df = spark.createDataFrame(rows, "g int, x long, y long")
    out = {r.g: r for r in grouped_ols(df, ["g"], "x", "y").collect()}
    for g in range(3):
        xs = np.array([x for gg, x, _ in rows if gg == g], dtype="float64")
        ys = np.array([y for gg, _, y in rows if gg == g], dtype="float64")
        slope, intercept = np.polyfit(xs, ys, 1)
        assert out[g].slope == _pytest.approx(slope, rel=1e-9)
        assert out[g].intercept == _pytest.approx(intercept, rel=1e-9)
        assert out[g].r2 == _pytest.approx(np.corrcoef(xs, ys)[0, 1] ** 2, rel=1e-9)
        assert out[g].n == 25
    # degenerate groups: single point and zero x-variance -> NULL fits
    dg = spark.createDataFrame([(0, 1, 5), (1, 2, 1), (1, 2, 9)], "g int, x long, y long")
    out = {r.g: r for r in grouped_ols(dg, ["g"], "x", "y").collect()}
    assert out[0].slope is None and out[0].intercept is None and out[0].n == 1
    assert out[1].slope is None and out[1].r2 is None and out[1].n == 2


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
        bpe_pair_counts, gopher_rules, search_bm25,
    )

    docs = spark.createDataFrame([], "doc_id int, text string")
    ev = spark.createDataFrame([], "user_id int, ts timestamp, event_type string, v double")
    emb = spark.createDataFrame([], "vec_id int, embedding array<float>, label int")

    assert search_bm25(docs, ["a"]).count() == 0
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
    centroid (a Python left fold in vec_id order) and with the
    correctly rounded mean (``math.fsum``) to within one accumulation
    ulp (the fold rounds at every add; the dyadic path sums exactly
    and rounds once — the dyadic value is the MORE accurate of the
    two)."""
    import math

    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        embedding_centroids,
    )
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    got = {
        (r.label, r.dim): (r.centroid, r.n_members)
        for r in embedding_centroids(emb).collect()
    }
    cells: dict = {}
    for r in sorted(emb.select("vec_id", "label", "embedding").collect()):
        for d, v in enumerate(r.embedding):
            cells.setdefault((r.label, d), []).append(float(v))
    assert got.keys() == cells.keys() and len(got) > 0
    for k, (c, n) in got.items():
        vals = cells[k]
        assert n == len(vals)
        fold = 0.0
        for v in vals:
            fold += v
        for want in (fold / n, math.fsum(vals) / n):
            assert abs(c - want) <= 1e-12 * max(1.0, abs(c)), (k, c, want)


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
        docs.repartition(7), k=k, weight_col="n_chars"
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

    def run(stem):
        return " ".join(f"{stem}{i}" for i in range(8))

    a = f"{run('w')} {run('x')} tail"         # chunks: [w0..w7], [x0..x7]
    b = f"{run('w')} {run('y')}"              # shares A's first chunk
    c = f"{run('z')} {run('z')}"              # repeats its own chunk
    d = "short doc"                           # no full chunk -> absent
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_chunks, r.dup_chunks)
           for r in passage_repetition(df).collect()}
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
           for r in vocab_coverage(df).collect()}
    assert got == {50: (2, 7), 90: (3, 9), 99: (4, 10)}


def test_vocab_coverage_multi_bucket_matches_python(spark, monkeypatch):
    """The coverage curve ranks terms by the NEGATED count (descending
    frequency, ties by token) through the literal-boundary prefix sum.
    With the bucket floor patched low, the negated key spans several
    buckets, and the curve must still equal a Python reference."""
    from real_timetransactionaldatalakehouse_spark.operators import (
        relational as R,
    )
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        vocab_coverage,
    )

    # 600 terms with counts 1..13: many ties, so the token order matters
    counts = {f"t{i:03d}": 1 + (i * 7919) % 13 for i in range(600)}
    df = spark.createDataFrame(
        [(i, " ".join([tok] * n)) for i, (tok, n) in enumerate(counts.items())],
        "doc_id long, text string",
    )
    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {}
    for t in (50, 90, 99):
        cum = 0
        for pos, (_tok, n) in enumerate(ranked, 1):
            cum += n
            if cum * 100 >= t * total:
                want[t] = (pos, cum)
                break
    sampled, sample = [], R._sample_boundaries

    def spy(*args):
        sampled.append(sample(*args))
        return sampled[-1]

    monkeypatch.setattr(R, "_MIN_BUCKET_ROWS", 64)
    monkeypatch.setattr(R, "_sample_boundaries", spy)
    got = {r.target_pct: (r.n_terms, r.tokens_covered)
           for r in vocab_coverage(df).collect()}
    assert sampled and sampled[0], "the vocabulary must span several buckets"
    # the boundaries are negated counts: the first bucket holds the most
    # frequent terms
    assert all(b[0] < 0 for b in sampled[0]), sampled[0]
    assert got == want


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
    leaks = split_leakage(corpus).collect()
    assert leaks, "constructed mutants must produce at least one leak"
    split_of = {
        r.doc_id: r.split
        for r in hash_split(corpus, weights=weights).select(
            "doc_id", "split"
        ).collect()
    }
    verified = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in D.minhash_verified_neardup_pairs(corpus)
        .select("id_a", "id_b").collect()
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
               {"med_price": 0.5, "p90_price": 0.9},
           ).collect()}
    assert plain == new


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
        "rank": global_rank(ev, ["value", "event_id"]),
        "pack": pack_sequences(docs, budget=512),
        "pps": sample_systematic(docs, k=17, weight_col="n_chars"),
        "vocab": vocab_coverage(docs),
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
            S.embedding_neardup_pairs_lsh(emb).collect()}
    nolimit = {(r.id_a, r.id_b): r.score for r in
               S.embedding_neardup_pairs_lsh(emb, max_bucket=10**9).collect()}
    assert nolimit == base
    capped = {(r.id_a, r.id_b): r.score for r in
              S.embedding_neardup_pairs_lsh(emb, max_bucket=8).collect()}
    assert set(capped) <= set(base)
    for k, v in capped.items():
        assert v == base[k]
    assert capped, "tiny cap still finds in-subcell pairs"


def test_vector_operators_on_exact_copies(spark, sf_small):
    """Byte-identical vector copies go through the plain paths.  The
    LSH operator pairs every two copies with the vector's self-cosine
    (the same fold over the same bytes); semantic dedup with no cap
    puts each copy group in one cluster, and every cluster keeps one
    member; zero vectors never pair."""
    emb = load_table(spark, sf_small, "embeddings").filter(
        F.col("vec_id") < 300
    ).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 700000).alias("vec_id"), "embedding"
    )
    copies2 = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 800000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies).unionByName(copies2)
    v = F.col("embedding")
    self_cos = {
        r.vec_id: r.s
        for r in emb.filter(F.col("vec_id") < 40).select(
            "vec_id", (S.dot(v, v) / (S.norm(v) * S.norm(v))).alias("s")
        ).collect()
    }
    groups = {i: [i, i + 700000] + ([i + 800000] if i < 10 else [])
              for i in range(40)}

    pairs = {(r.id_a, r.id_b): r.score
             for r in S.embedding_neardup_pairs_lsh(corpus).collect()}
    for i, ids in groups.items():
        for a in ids:
            for b in ids:
                if a < b:
                    assert pairs.get((a, b)) == self_cos[i], (a, b)

    dim = len(emb.first().embedding)
    zeros = spark.createDataFrame(
        [(900000, [0.0] * dim), (900001, [0.0] * dim)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", F.col("embedding").cast(emb.schema["embedding"].dataType))
    rows = S.semantic_dedup(corpus.unionByName(zeros)).collect()
    cluster = {r.id: r.cluster_id for r in rows}
    assert 900000 not in cluster and 900001 not in cluster
    for ids in groups.values():
        assert len({cluster.get(x) for x in ids}) == 1 and ids[0] in cluster, ids
    keeps: dict = {}
    for r in rows:
        keeps[r.cluster_id] = keeps.get(r.cluster_id, 0) + int(r.keep)
    assert set(keeps.values()) == {1}


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
    banded = D.minhash_banded(df)
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
        SP.sample_systematic(empty, k=5, weight_col="w")


def test_verified_clusters_attach_and_release_cache(docs):
    """r9 review fix: the exact-dup member frame is multi-consumer
    (label propagation runs eager jobs between its uses), so it
    persists and is released via the standard _cached_deps contract.
    r14: the collapse is ONE windowed member frame (id, rep, size) —
    groups are a filter over the same cache — so exactly one dep."""
    out = D.verified_neardup_clusters(_with_mutants(docs))
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
    fps = winnow_fingerprints(df, k=4, window=3)
    assert fps.filter(F.col("doc_id") == 2).count() == 0
    assert fps.filter(F.col("doc_id") == 1).count() > 0
    chunks = chunk_documents(df, budget=12)
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
    r = redact_pii(df).collect()[0]
    assert r.n_email == 1
    assert r.n_ipv4 == 1, "the ipv4 consumed by the email must not count"
    assert "[email]" in r.text and "[ipv4]" in r.text
    assert "1.2.3.4" not in r.text and "10.0.0.1" not in r.text


def test_search_ranked_releases_postings_cache(docs):
    """r9 review fix: search_ranked re-attaches the postings cache
    tfidf_scores persisted, so release_cached() actually frees it
    (filter/groupBy had dropped the _cached_deps attribute)."""
    from real_timetransactionaldatalakehouse_spark.operators.text import search_ranked

    out = search_ranked(docs, ["the"])
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
    pairs = D.minhash_neardup_pairs(df, jaccard_threshold=0.1)
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
    assert D.neardup_losers(df).collect() == []
    assert D.verified_neardup_clusters(df).collect() == []
    keys = {r.doc_id: r["__cluster_key"]
            for r in D.neardup_cluster_keys(df).collect()}
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


def _vec(*head):
    """A 64-dim embedding (the width the LSH operators band) from its
    leading components."""
    return [float(x) for x in head] + [0.0] * (64 - len(head))


def test_validate_gate_on_cosine_entry_points(spark):
    """r11 (VERDICT r10 #6): the cosine input contract is an opt-in
    ``validate`` parameter on the entry-points most exposed to raw
    corpus tables.  A NULL/zero/NaN/inf-poisoned table must pass
    through each entry-point with ``validate=True`` and yield exactly
    the result of running on the manually pre-filtered clean subset —
    no mid-job ANSI DIVIDE_BY_ZERO, no poisoned row surviving."""
    healthy = [
        (1, _vec(1.0)),
        (2, _vec(0.95, 0.05)),
        (3, _vec(0.0, 1.0)),
    ]
    poison = [
        (10, None),
        (11, _vec()),
        (12, _vec(1.0, float("nan"))),
        (13, _vec(float("inf"))),
    ]
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(healthy + poison, schema)
    clean = S.valid_embeddings(df)

    def pairs(frame):
        return {(r.id_a, r.id_b, round(r.score, 9)) for r in frame.collect()}

    # knn_bruteforce (both sides gated)
    got = {(r.query_id, r.neighbor_id)
           for r in S.knn_bruteforce(df, df, k=1, validate=True).collect()}
    want = {(r.query_id, r.neighbor_id)
            for r in S.knn_bruteforce(clean, clean, k=1).collect()}
    assert got == want and not ({10, 11, 12, 13} & {q for q, _ in got})

    # LSH banding
    got = pairs(S.embedding_neardup_pairs_lsh(df, validate=True))
    want = pairs(S.embedding_neardup_pairs_lsh(clean))
    assert got == want and (1, 2) in {(a, b) for a, b, _ in got}

    # exact + LSH semantic decontamination (corpus AND eval gated)
    ev = spark.createDataFrame(
        [(100, _vec(1.0, 0.01)), (101, _vec()),
         (102, _vec(float("nan"), 1.0))], schema)
    ev_clean = S.valid_embeddings(ev)
    for fn in (S.semantic_contamination, S.semantic_contamination_lsh):
        got = {(r.id, r.n_eval_hits, r.top_eval_id, round(r.top_score, 9))
               for r in fn(df, ev, validate=True).collect()}
        want = {(r.id, r.n_eval_hits, r.top_eval_id, round(r.top_score, 9))
                for r in fn(clean, ev_clean).collect()}
        assert got == want, (fn.__name__, got, want)
        assert got and all(eid == 100 for _, _, eid, _ in got)


def test_validate_gate_on_semantic_dedup(spark):
    """r12 (VERDICT r11 #5): semantic_dedup gets the same opt-in
    ``validate`` gate as its three sibling cosine entry-points — a
    poisoned table with validate=True yields exactly the clean
    subset's result, and the default stays off (NULL rows would
    otherwise ANSI-error in cell assignment, so defaults are compared
    on the healthy subset plus the inert zero-norm row).  The healthy
    rows are two exact-copy pairs, so their groups form whatever cells
    the seed sample picks."""
    healthy = [
        (1, _vec(1.0)),
        (2, _vec(1.0)),
        (3, _vec(0.0, 1.0)),
        (4, _vec(0.0, 1.0)),
    ]
    poison = [
        (10, None),
        (11, _vec()),
        (12, _vec(1.0, float("nan"))),
        (13, _vec(float("inf"))),
    ]
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(healthy + poison, schema)
    clean = S.valid_embeddings(df)

    def groups(frame):
        return {(r.id, r.cluster_id, r.n_members, r.keep)
                for r in frame.collect()}

    got = groups(S.semantic_dedup(df, validate=True))
    want = groups(S.semantic_dedup(clean))
    assert got == want, (got, want)
    ids = {t[0] for t in got}
    assert ids and not ({10, 11, 12, 13} & ids)
    # default-off is unchanged: the zero-norm row is inert by the
    # pair-path contract even without the gate
    no_gate = groups(S.semantic_dedup(
        spark.createDataFrame(healthy + [(11, _vec())], schema)))
    assert no_gate == got


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
    out = Smp.leakage_safe_split(corpus)
    got = {r.doc_id: r.split for r in out.collect()}
    assert len(got) == corpus.count()
    # verified near-dup pairs must not straddle
    pairs = D.minhash_verified_neardup_pairs(corpus)
    straddle = [
        (r.id_a, r.id_b) for r in pairs.collect()
        if got[r.id_a] != got[r.id_b]
    ]
    assert straddle == [], straddle[:5]
    # control: id-hash splitting leaks on this corpus at 90/10
    plain = {
        r.doc_id: r.split
        for r in Smp.hash_split(
            corpus, weights={"train": 0.9, "eval": 0.1}
        ).collect()
    }
    assert any(plain[a] != plain[b] for a, b in
               ((r.id_a, r.id_b) for r in pairs.collect()))
    # deterministic across recomputation
    again = {r.doc_id: r.split for r in Smp.leakage_safe_split(corpus).collect()}
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
    noisy = corpus.withColumn("cluster_id", F.lit("caller-owned"))
    out = Smp.leakage_safe_split(noisy)
    assert "cluster_id" in out.columns
    rows = out.collect()
    assert rows and all(r.cluster_id == "caller-owned" for r in rows)
    clean = {
        r.doc_id: r.split
        for r in Smp.leakage_safe_split(corpus).collect()
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
    out = D.substring_dup_spans(df)
    rows = {r.id: (r.span_start, r.span_end, r.n_grams)
            for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == (4, 13, 3)   # starts 4,5,6 merged; ends at 6+7
    assert rows[2] == (2, 11, 3)
    # intra-doc repetition: two spans, split by the unique gap tokens
    d4 = shared + " x1 x2 " + shared
    out2 = D.substring_dup_spans(
        spark.createDataFrame([(9, d4)], "doc_id long, text string"))
    assert sorted((r.span_start, r.span_end) for r in out2.collect()) \
        == [(1, 10), (13, 22)]
    # deterministic across recomputation
    again = {r.id: (r.span_start, r.span_end, r.n_grams)
             for r in D.substring_dup_spans(df).collect()}
    assert rows == again
