"""Text analysis operators (SURVEY.md section 2 X4, north-star EXT):
tokenization, term stats, language-ID, quality scoring, document
fingerprinting.

Design: everything is built-in expression surface (split /
higher-order array functions / regexp / md5) — no Python UDFs, so the
whole pipeline stays in whole-stage codegen and scales linearly with
document count: per-row compute, zero shuffles until an explicit
aggregation.  At 100 TB the hot path is "explode tokens -> groupBy"
whose shuffle carries (token, count) partials only (map-side combine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic.  Ordered: ties resolve to the earlier entry.
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "of", "to", "is"]),
    ("es", ["el", "la", "de", "que", "es"]),
    ("de", ["der", "die", "und", "das", "ist"]),
    ("fr", ["le", "la", "et", "les", "est"]),
    ("zh", ["de5", "shi4", "le5", "zai4", "he2"]),
]

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]

# BPE-ish word/number/symbol splitter (letters run | digits run | one symbol).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_counts(df: DataFrame) -> DataFrame:
    """Corpus term frequencies: explode -> groupBy(token).count().
    Shuffle carries per-partition partial counts only."""
    return (
        df.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def text_stats(df: DataFrame) -> DataFrame:
    """Per-document stats: char/token counts (whitespace + BPE-ish
    regex), distinct-token ratio, mean token length.  All per-row
    expressions — no shuffle."""
    t = tokens("text")
    n_tok = F.size(t).cast("bigint")
    n_distinct = F.size(F.array_distinct(t)).cast("bigint")
    return df.select(
        "doc_id",
        F.length(F.col("text")).cast("bigint").alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        (n_distinct.cast("double") / n_tok.cast("double")).alias("ttr"),
        (
            (F.length(F.col("text")) - n_tok + 1).cast("double")
            / n_tok.cast("double")
        ).alias("avg_token_len"),
    )


def language_id(
    df: DataFrame, keep_cols: bool = False
) -> DataFrame:
    """Stopword-marker language ID (X4).  Scores each language by the
    number of distinct marker tokens present; argmax with fixed
    priority tie-break.  Pure array expressions; at scale this is a
    map-only pass.

    ``keep_cols=True`` appends the scores to the input columns instead
    of projecting down to (doc_id, scores) — the enrichment shape that
    lets pipelines chain map-only annotators in ONE scan instead of
    computing each on its own branch and joining back by id (the r4
    q_corpus_prep shape recomputed the kept-corpus subtree three
    times)."""
    tok_set = F.array_distinct(tokens("text"))
    scores = {
        lang: F.size(F.array_intersect(tok_set, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS
    }
    lead = df.columns if keep_cols else ["doc_id"]
    out = df.select(
        *lead,
        *[scores[lang].cast("int").alias(f"score_{lang}") for lang, _ in LANG_MARKERS],
    )
    # argmax with priority tie-break: iterate in priority order with a
    # strict '>' so the earliest language keeps ties
    guess = F.lit("unknown")
    guess_score = F.lit(0)
    for lang, _ in LANG_MARKERS:
        cond = F.col(f"score_{lang}") > guess_score
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
        guess_score = F.when(cond, F.col(f"score_{lang}")).otherwise(guess_score)
    return out.withColumn("lang_guess", guess)


def quality_score(
    df: DataFrame, keep_cols: bool = False
) -> DataFrame:
    """Heuristic quality score in [0,1] (X4): length saturation,
    stopword ratio, type-token ratio — deterministic double arithmetic
    (same expression shape as the SQL oracle).  ``keep_cols=True``
    appends to the input columns (chainable one-scan enrichment, see
    :func:`language_id`)."""
    t = tokens("text")
    n_tok = F.size(t).cast("double")
    stop_ratio = (
        F.size(
            F.filter(t, lambda x: x.isin(*[F.lit(s) for s in EN_STOPWORDS]))
        ).cast("double")
        / n_tok
    )
    ttr = F.size(F.array_distinct(t)).cast("double") / n_tok
    len_sat = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    lead = df.columns if keep_cols else ["doc_id"]
    return df.select(
        *lead,
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("ttr"),
        len_sat.alias("len_sat"),
        (len_sat * 0.4 + stop_ratio * 0.3 + ttr * 0.3).alias("quality"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint (X4): md5 of whitespace-normalized
    lowercase text — the exact-dedup key that survives cosmetic edits.
    md5 (not xxhash64) so external engines can reproduce it."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return df.select("doc_id", F.md5(norm).alias("fp"))


def winnow_fingerprints(
    df: DataFrame, k: int = 8, window: int = 4
) -> DataFrame:
    """X4: winnowing document fingerprints (Schleimer et al., SIGMOD
    2003 — the MOSS algorithm): hash every char ``k``-gram, slide a
    ``window`` over the hash sequence keeping each window's minimum,
    emit the distinct selected hashes.  Two documents sharing a
    substring of length >= k + window - 1 are guaranteed to share a
    fingerprint — the rolling-hash dedup key that survives insertions
    and reordering, unlike the whole-document md5.

    Pure per-row expressions (no shuffle until the caller aggregates);
    the gram hash is the md5-prefix 60-bit hash so the selection is
    reproducible in ANSI SQL.  At corpus scale the output is the
    inverted fingerprint index: groupBy(fp) finds shared-substring
    clusters with one shuffle of (fp, doc_id) pairs.

    The gram-hash array is MATERIALIZED as its own projection before
    the window scan references it (r6 scale fix): higher-order lambdas
    run interpreted, outside codegen's subexpression elimination, so
    an unbound ``h`` expression inlined into the window lambda was
    re-evaluated once per window position — O(L^2) interpreted md5
    calls per document, measured 51.0 s vs 1.1 s at sf0.1 and >1 h at
    the 50x replica.  The two-projection form is safe from
    CollapseProject re-inlining because ``h`` is referenced more than
    once downstream (the rule refuses to duplicate non-cheap aliases);
    a row-exploded all-codegen variant (explode -> per-row md5 ->
    rowsBetween window min -> distinct) measured 2.7 s — the extra
    doc-keyed exchange loses to the all-map form, recorded here as the
    A/B.

    r13: guarded input-sized fan before the map — one interpreted md5
    per CHARACTER position makes this the heaviest per-row map in the
    repo, and an under-split source serialized all of it on one core
    (standalone q_text_winnow 3.9 s at sf0.1; the winnowing
    decontaminate 5.0 s -> 1.5 s paired once fanned).  No-op on a
    well-split table (sources.fan_out guard)."""
    from ..sources import fan_out

    df = fan_out(df)
    t = F.col("text")
    # NULL text must emit NO fingerprint rows: F.greatest SKIPS null
    # arguments (greatest(NULL, 1) = 1), so without the guard a NULL
    # doc produced one fp=NULL row and groupBy(fp) clustered every
    # null-text doc into one fake shared-substring cluster (r9 review
    # fix; repetition_stats already guarded this class).  A NULL
    # n_grams makes sequence -> transform -> explode emit nothing.
    n_grams = F.when(
        t.isNotNull(), F.greatest(F.length(t) - (k - 1), F.lit(1))
    )
    # hash each k-gram: md5 hex prefix -> 60-bit BIGINT
    h_expr = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(t, i, k)), 1, 15), 16, 10
        ).cast("long"),
    )
    hdf = df.select("doc_id", h_expr.alias("__h"))
    h = F.col("__h")
    # same guard on the second stage: size(NULL) is NULL and greatest
    # would skip it, resurrecting one [NULL] fingerprint for the row
    # the first guard just nulled out
    n_windows = F.when(
        h.isNotNull(), F.greatest(F.size(h) - (window - 1), F.lit(1))
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(h, j, window)),
        )
    )
    return hdf.select("doc_id", F.explode(fps).alias("fp"))


def repetition_stats(
    df: DataFrame,
) -> DataFrame:
    """X4: repetition quality signals — the duplicate-n-gram fraction
    and top-n-gram fraction used by corpus-quality filters (a document
    dominated by a repeated phrase scores high on both and gets
    dropped or down-weighted).

    Output per document: ``n_ngrams`` (total token n-grams),
    ``n_distinct``, ``dup_ngram_ratio`` (= 1 - distinct/total) and
    ``top_ngram_ratio`` (most frequent n-gram's share).  Documents
    with fewer than ``n`` tokens emit no row (no n-grams to score).

    Plan shape: ONE exchange total.  The id-keyed repartition that
    fans the (single-split at bench scale) source out across cores is
    a hash partitioning on ``id`` — which satisfies the clustered
    distribution of BOTH downstream aggregations (``(id, ngram)`` and
    ``(id)`` are supersets of the partitioning key), so the n-gram
    explode, per-gram counting, and per-document ratios all run in the
    same stage with no further shuffle.  Only the source rows cross
    the wire.

    Gram keys are HASHED (r6, VERDICT r5 ask #6): the per-gram count
    groups on ``xxhash64`` of the token slice, never materializing the
    gram string — every output depends only on the grams' equality
    classes, so hashing is output-equivalent modulo 64-bit collisions
    (~L^2/2^64 per document — the same engine-internal-keys argument
    as the LM scorer's model joins; the SQL oracle keeps raw strings).
    Measured at the 50x fair layout: string grams 9.3 s, hashed grams
    6.6 s.  A zero-shuffle all-map variant (array_sort + aggregate
    max-run scan) measured 13-25 s — Spark evaluates higher-order
    lambdas interpreted, outside codegen — and was rejected; the A/B
    is recorded in SCALING.md."""
    # r13: input-sized width (was core count) — interleaved width A/B
    # at bench SF read 4-way 0.44 s vs 32-way 0.57 s; the session
    # layout grows with input so big corpora still fan wide
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(p, "doc_id")
    # Materialize the token array as its own projection BEFORE the
    # gram transform references it (same defect class as the r6
    # winnowing fix): the lambda body runs interpreted, outside
    # codegen's subexpression elimination, so an unbound ``tokens()``
    # split inlined into ``slice`` re-splits the text once per gram
    # position — O(L) splits per document.  Safe from CollapseProject
    # re-inlining because the alias is referenced three times
    # (two sizes + the slice).  Measured 0.49 s -> 0.31 s at sf0.1 on
    # identical output.
    tdf = df.select(F.col("doc_id"), tokens("text").alias("__toks"))
    toks = F.col("__toks")
    n_grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (2 - 1)),
            lambda i: F.xxhash64(F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    exploded = tdf.select(F.col("doc_id"), F.explode(n_grams).alias("ng"))
    per_gram = exploded.groupBy("doc_id", "ng").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    distinct = F.count(F.lit(1))
    return per_gram.groupBy("doc_id").agg(
        total.cast("long").alias("n_ngrams"),
        distinct.cast("long").alias("n_distinct"),
        (F.lit(1.0) - distinct.cast("double") / total.cast("double")).alias(
            "dup_ngram_ratio"
        ),
        (F.max("c").cast("double") / total.cast("double")).alias(
            "top_ngram_ratio"
        ),
    )


#: PII patterns restricted to syntax shared verbatim by Java regex
#: (Spark) and RE2 (DuckDB, Go) — no lookaround, no backrefs — so the
#: redaction pipeline has exact cross-engine twins.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}",
}


def redact_pii(
    df: DataFrame,
) -> DataFrame:
    """X4: PII scrubbing for training corpora — replace emails, IPv4
    addresses and international phone numbers with typed placeholder
    tokens, counting the redactions per document (pipelines
    drop or review documents past a PII-density threshold rather than
    silently shipping heavily-redacted text).

    Pure ``regexp_replace``/``regexp_count`` projection: JVM-side,
    whole-stage codegen, zero shuffle — at 100 TB this runs entirely
    map-side fused with the scan.  Patterns stick to the regex subset
    Java and RE2 share, so results are engine-portable.
    """
    redacted = F.col("text")
    counts = []
    for kind, pat in PII_PATTERNS.items():
        # count on the text this kind's replacement actually sees
        # (after earlier kinds ran), not the original: counting the
        # original double-counts overlapping kinds — an ipv4 inside
        # an email's local part was reported as n_ipv4=1 with zero
        # ipv4 replacements performed, so PII-density thresholds
        # fired on redactions that never happened (r9 review fix)
        counts.append(F.regexp_count(redacted, F.lit(pat)).alias(f"n_{kind}"))
        redacted = F.regexp_replace(redacted, pat, f"[{kind}]")
    keep = [c for c in df.columns if c != "text"]
    return df.select(*keep, redacted.alias("text"), *counts)


#: GPT-2-style pre-tokenizer split, simplified to the Java-regex/RE2
#: shared subset (no lookaheads): contractions, letter runs, digit
#: runs, punctuation runs (each optionally space-prefixed), whitespace.
BPE_SPLIT_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def chunk_documents(
    df: DataFrame,
    budget: int,
) -> DataFrame:
    """Fixed-size token chunking with an 8-token overlap — the RAG /
    context-prep primitive (every embedding-index build chunks
    documents before embedding; the overlap keeps boundary sentences
    retrievable).

    Chunk ``i`` covers tokens ``[i*stride, i*stride + budget)`` with
    ``stride = budget - 8``; the last chunk may be short, and a
    document shorter than ``budget`` yields exactly one chunk.  Unlike
    :func:`sampling.pack_sequences` (which assigns documents into a
    global concatenated layout and needs a distributed prefix sum),
    chunking is document-local: one sequence+explode projection, zero
    shuffles, embarrassingly parallel at any corpus size.

    Output: ``(id, chunk_id, n_tokens, chunk_text)``, deterministic —
    chunk ids are per-document ordinals, not global offsets.
    """
    if budget <= 8:
        raise ValueError("budget must exceed the 8-token overlap")
    stride = budget - 8
    # materialize the token array before the explode references it
    # twice (chunk count + slicing) — Catalyst does not CSE the split
    # across expressions
    toked = df.select(F.col("doc_id"), tokens("text").alias("__t"))
    n = F.size("__t")
    # NULL text: size(NULL) is NULL and F.greatest skips nulls, so the
    # unguarded form emitted one phantom chunk with NULL chunk_text per
    # null doc (r9 review fix — same F.greatest class as the winnowing
    # guard).  NULL n_chunks -> sequence NULL -> explode emits nothing.
    n_chunks = F.when(
        n.isNotNull(),
        F.greatest(
            F.ceil((n - F.lit(8)).cast("double") / F.lit(stride)).cast("long"),
            F.lit(1).cast("long"),
        ),
    )
    return (
        toked.select(
            F.col("doc_id"),
            "__t",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.slice(F.col("__t"), F.col("chunk_id").cast("int") * stride + 1, budget).alias("__c"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("__c").cast("long").alias("n_tokens"),
            F.array_join("__c", " ").alias("chunk_text"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
) -> DataFrame:
    """CCNet-style language-model quality scoring — the standard LLM
    corpus-quality gate: score each document by its mean bigram
    log-likelihood under an add-alpha-smoothed LM trained on the
    corpus itself (pipelines keep the low-perplexity tail or bin by
    score; a held-out reference corpus drops in by training the
    counts on a different DataFrame upstream).

    ``logp(w1 w2) = ln((c(w1,w2) + 0.5) / (c(w1) + 0.5 * V))``
    with ``V`` the corpus vocabulary size.

    Plan shape (r5: ONE tokenize pass; r6: ONE model pass): the corpus
    tokenizes and explodes ONCE into a persisted position stream of
    narrow ``(id, w1_hash, bg_hash-or-null)`` rows (the last position
    of each document carries a null bigram); the unigram AND bigram
    models aggregate together in a single keyed count over a
    (kind, key) fan-out of that cache, and the scoring stream probes
    ONE broadcast of the unfiltered (kind, key) model twice — the
    second probe is a ReusedExchange, so the model aggregates once
    per execution (the r5 shape ran two separate full-stream
    aggregations; the r4 shape re-tokenized the corpus ~4x: measured
    9.9 s -> 4.4 s at the 50x replica, then 1.19 s -> 0.78 s at sf0.1
    from the broadcast reuse).  Gram keys are pre-hashed to
    64-bit ints: the model joins are engine-internal (the oracle joins
    on the raw strings), so narrow hash keys shuffle ~3x less than the
    gram text and hash-join faster.  ``V`` is a one-row aggregate
    collected at plan build.

    The position stream is not cached (r10, measured): in a cold-cache
    execution it has only TWO consumers (the fused model agg — its
    second broadcast probe is a ReusedExchange — and the scoring
    pass), so caching traded ONE extra tokenize+explode for a
    24-byte-per-token cache write plus read-back, and the recompute
    was cheaper or equal at every scale measured: sf0.1 steady 0.63 s
    vs 0.70 s, sf0.1 cold 0.63 s vs 2.19 s, 50x replica 5.35 s vs
    5.31 s (parity).  The mean
    accumulates as an exact DECIMAL sum of the per-bigram logs
    (``functions.dsum`` discipline), so the result is engine-portable
    despite float logs: each row's logp is identical IEEE double math
    in any engine and the decimal sum is order-independent.

    Output: ``(id, n_bigrams, avg_logprob)`` for documents with at
    least one bigram.
    """
    spark = df.sparkSession
    t = tokens("text")
    from ..sources import fan_out

    # the fan is an opportunistic spread before the tokenize+explode
    # map — on an already-well-split corpus fan_out skips the exchange
    # that would shuffle the full text for nothing.
    # r13: input-sized target (the fan_out default), not core count —
    # width A/B at bench SF: 4-way 0.88 s / 8-way 0.73 s vs 32-way
    # 1.17 s on the whole scorer
    toked = fan_out(df).select(
        F.col("doc_id"), t.alias("__t"), F.size(t).alias("__n")
    )
    # one explode over ALL n positions: w1 everywhere, bg null at the
    # last position (so unigram counts cover every token while the
    # scoring/bigram stream filters to bg IS NOT NULL)
    pos_idx = F.sequence(F.lit(1), F.col("__n"))  # the filter pins __n >= 1
    doc_tok = toked.filter(F.col("__n") >= 1).select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                pos_idx,
                lambda i: F.struct(
                    F.xxhash64(F.element_at(F.col("__t"), i)).alias("w1"),
                    F.when(
                        i < F.col("__n"),
                        F.xxhash64(
                            F.element_at(F.col("__t"), i),
                            F.element_at(F.col("__t"), i + F.lit(1)),
                        ),
                    ).alias("bg"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg"))

    # BOTH models in ONE pass over the position stream (r6): each
    # position fans into a (kind=0, w1) and a (kind=1, bg) key row and
    # a single keyed count aggregates them together — the map-side
    # combine collapses the doubled stream to vocabulary size
    # immediately, so fusing halves the number of full position-stream
    # aggregations (the r5 shape ran a w1 agg and a bg agg separately).
    kv = doc_tok.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("kind"), F.col("w1").alias("key")),
                F.struct(F.lit(1).alias("kind"), F.col("bg").alias("key")),
            )
        ).alias("kv")
    ).select("kv.kind", "kv.key").filter(F.col("key").isNotNull())
    model = kv.groupBy("kind", "key").agg(F.count(F.lit(1)).alias("__c"))
    # vocabulary size: one scalar, collected at plan build
    v = model.filter(F.col("kind") == 0).count()

    # BOTH scoring lookups probe ONE broadcast of the unfiltered model
    # keyed by (kind, key) — the two joins' build subtrees are
    # canonically identical, so the second is a ReusedExchange and the
    # model aggregates ONCE per execution (r6).  The previous
    # filtered-view pair (uni/bi) made the persisted model a cold-
    # cache RACE: two consumers inside one job each re-aggregated the
    # full position stream (block-store first-writer-wins, no cross-
    # stage wait) — measured 1.19 s -> 0.78 s at sf0.1 on identical
    # output.  The broadcast build also runs BEFORE the probe stage,
    # so the persisted position stream is populated sequentially and
    # the scoring pass reads it back instead of re-tokenizing.
    m_bi = model.select(
        F.col("kind").alias("__kb"), F.col("key").alias("__keyb"),
        F.col("__c").alias("__cb"),
    )
    m_uni = model.select(
        F.col("kind").alias("__ku"), F.col("key").alias("__keyu"),
        F.col("__c").alias("__c1"),
    )
    m_bi, m_uni = F.broadcast(m_bi), F.broadcast(m_uni)
    scored = (
        doc_tok.filter(F.col("bg").isNotNull())
        .join(
            m_bi,
            (F.col("__kb") == F.lit(1)) & (F.col("__keyb") == F.col("bg")),
        )
        .join(
            m_uni,
            (F.col("__ku") == F.lit(0)) & (F.col("__keyu") == F.col("w1")),
        )
        .select(
            "doc_id",
            F.log(
                (F.col("__cb") + F.lit(0.5))
                / (F.col("__c1") + F.lit(0.5 * v))
            ).alias("__logp"),
        )
    )
    from ..functions import dsum

    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (dsum("__logp", 6) / F.count(F.lit(1)).cast("double")).alias("avg_logprob"),
    )


def token_count_bpe(text: Column | str) -> Column:
    """Pre-tokenizer token count — the budget unit LLM pipelines cost
    documents in (whitespace counts under-estimate code/punctuation-
    heavy text).  Pure ``regexp_extract_all`` + ``size`` projection:
    map-side, codegen, zero shuffle; engine-portable pattern."""
    c = F.col(text) if isinstance(text, str) else text
    # group 0 = whole match (Spark defaults to group 1; the pattern's
    # only group is non-capturing)
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), F.lit(0)))


def tfidf_scores(
    df: DataFrame,
) -> DataFrame:
    """TF-IDF weights per (document, term) — the ranked-retrieval /
    keyword-importance primitive: ``tf = count(term in doc)``,
    ``idf = ln((1 + N) / (1 + df)) + 1`` (smoothed, sklearn's form —
    never divides by zero, engine-portable as plain ln arithmetic).

    Plan: one explode -> (doc, term) partial-agg count, a term-keyed
    document-frequency agg over the DISTINCT (doc, term) pairs (reuses
    the first agg's output, no second pass over raw text), and a
    broadcast-friendly join of the tiny (term, df) table back onto the
    pair counts.  The corpus size N rides in as a broadcast one-row
    aggregate (no driver action — the operator stays fully lazy).
    Shuffles carry (doc, term, count) rows only — at 100 TB the raw
    text crosses the wire zero times.
    """
    n_row = F.broadcast(
        df.agg(F.countDistinct(F.col("doc_id")).cast("double").alias("__n"))
    )
    pairs = (
        df.select(F.col("doc_id"), F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pairs = pairs.persist()
    docfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((1.0 + F.col("__n")) / (1.0 + F.col("df"))) + 1.0
    # the (term, df, idf) side broadcasts EXPLICITLY (r6): its eager
    # broadcast build runs before the probe stage and populates the
    # pairs cache sequentially — left to stats-blind planning the join
    # can fall back to SMJ, whose two shuffle stages race the cold
    # cache and re-aggregate the postings twice in one job
    out = (
        pairs.join(
            F.broadcast(docfreq.crossJoin(n_row).withColumn("idf", idf)),
            "term",
        )
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf").cast("double") * F.col("idf")).alias("tfidf"),
        )
    )
    from .dedup import _attach_cached

    return _attach_cached(out, [pairs])


def search_ranked(
    df: DataFrame,
    terms: list[str],
) -> DataFrame:
    """Keyword search over the corpus: the top 10 documents containing
    all the query terms, ranked by summed TF-IDF.
    The inverted-index read path: the (doc, term) table is filtered to
    the query terms FIRST (a tiny IN-list reaching the agg), so only
    matching postings flow into the ranking — never a corpus scan per
    query at serving time (persist ``tfidf_scores`` output as the
    materialized index for repeated queries)."""
    from .dedup import _attach_cached

    base = tfidf_scores(df)
    scores = base.filter(F.col("term").isin([t for t in terms]))
    agg = scores.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("tfidf").alias("score"),
    )
    agg = agg.filter(F.col("n_matched") == len(set(terms)))
    out = agg.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)
    # re-attach the postings cache tfidf_scores persisted: .filter()/
    # .groupBy() return fresh DataFrames without _cached_deps, so
    # without this the persisted (doc, term, tf) table could never be
    # released in a long-lived serving session (r9 review fix)
    return _attach_cached(out, getattr(base, "_cached_deps", []))


def search_bm25(
    df: DataFrame,
    terms: list[str],
) -> DataFrame:
    """BM25 keyword search: the top 10 documents containing all the
    query terms, ranked by summed BM25 weight (k1 = 1.2, b = 0.75).

    The term filter pushes BELOW the pair aggregation (r6): because
    doc length is computed map-side (``size(tokens)``) before the
    explode, a posting row is self-sufficient — so non-query terms
    drop at the scan and the shuffle carries ONLY query-term postings
    (at 100 TB: a handful of rows per matching doc instead of the full
    inverted index).  Corpus stats (N, avgdl) come from a map-only
    pass over the token counts — one broadcast row, no keyed shuffle —
    and per-term document frequency is a COUNT window over the
    filtered postings themselves (identical values: df counts docs
    containing the term; the postings are at most a few rows per
    matching doc, so the window's term-keyed exchange is trivial, the
    corpus scans exactly twice — once for stats, once for postings —
    and there is no self-join and nothing persisted)."""
    toks = tokens("text")
    # r13 notes (both measured, left alone): a guarded core-count fan
    # of this scan REGRESSED 1.5x paired at bench SF — the explode+isin
    # filter drops non-query terms inside codegen, so the scan stage is
    # too light to amortize the exchange; and replacing the stats
    # pass's size(split(..)) with length/translate separator-count
    # arithmetic ALSO regressed ~1.2x paired (translate's char-map scan
    # beats no split-array allocation on this data).
    pairs = (
        df.select(F.col("doc_id"), toks.alias("__t"))
        .select(
            "doc_id", F.size("__t").alias("dl"), F.explode("__t").alias("term")
        )
        .filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = F.broadcast(
        df.select(F.size(toks).alias("__dl"))
        .filter(F.col("__dl") > 0)
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            (
                F.sum("__dl").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__avgdl"),
        )
    )
    from pyspark.sql import Window

    withdf = pairs.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log(
        1.0 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf = F.col("tf").cast("double")
    norm = tf + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl").cast("double") / F.col("__avgdl"))
    scores = withdf.crossJoin(corpus).select(
        "doc_id", (idf * (tf * (1.2 + 1.0)) / norm).alias("bm25")
    )
    agg = scores.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("bm25").alias("score"),
    )
    agg = agg.filter(F.col("n_matched") == len(set(terms)))
    return agg.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)


def gopher_rules(
    df: DataFrame,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, published as the
    MassiveText filter set) — per-document named booleans plus an
    overall ``gopher_keep`` flag:

    - word count within [50, 100,000];
    - mean word length within [3, 10];
    - symbol-to-word ratio (``#`` and ellipsis) below 0.1;
    - at least 2 distinct common-stopword hits.

    All JVM expression surface (split + higher-order array functions +
    regexp counts): map-only, zero shuffles, whole-stage codegen — the
    filter costs one pass at any corpus size.  The mean-word-length
    ratio divides two exact integers per row (deterministic,
    engine-portable); documents with zero words fail the word-count
    rule and get a NULL mean rather than a divide-by-zero (ANSI-safe
    conditional).
    """
    toks = F.filter(tokens("text"), lambda t: t != "")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    mean_len = F.when(
        n_words > 0, sum_len.cast("double") / n_words.cast("double")
    )
    n_symbols = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"#|\.\.\."), F.lit(0))
    )
    symbol_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words.cast("double")
    )
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    stop_hits = F.size(F.array_intersect(toks, stop_arr))
    out = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_len,
            "symbol_ratio": symbol_ratio,
            "stopword_hits": stop_hits,
            "rule_word_count": (n_words >= 50) & (n_words <= 100_000),
            "rule_mean_word_len": F.coalesce(
                (mean_len >= 3.0) & (mean_len <= 10.0),
                F.lit(False),
            ),
            "rule_symbol_ratio": F.coalesce(
                symbol_ratio < 0.1, F.lit(False)
            ),
            "rule_stopwords": stop_hits >= 2,
        }
    )
    return out.withColumn(
        "gopher_keep",
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio")
        & F.col("rule_stopwords"),
    )


def bpe_pair_counts(
    df: DataFrame,
) -> DataFrame:
    """The first merge-selection step of BPE tokenizer training: count
    adjacent SYMBOL pairs across the corpus, weighted by word
    frequency (Sennrich et al. 2016).  ``vocab_topn`` seeds the word
    list; this operator ranks the candidate merges.

    Plan: explode tokens -> (word, freq) count agg (the corpus's only
    full shuffle, carrying word partials); then per WORD — a set whose
    cardinality is vocabulary-sized, not corpus-sized — generate its
    adjacent char pairs with a higher-order transform and re-aggregate
    ``freq`` per pair.  At 100 TB the pair stage runs over |vocab|
    rows (millions, not trillions); every merge iteration after the
    first re-runs only the pair stage over the updated symbol
    sequences.

    An under-split source fans out to session parallelism before the
    explode (``sources.fan_out``, split-count
    guarded — a no-op on a well-split table): a single-row-group file
    otherwise runs the whole tokenize+explode+partial-count in ONE
    task (measured 3.2 s single-threaded vs 0.3 s fanned at the 50x
    replica).
    """
    from ..sources import fan_out

    df = fan_out(df)
    words = (
        df.select(F.explode(F.filter(tokens("text"), lambda t: t != "")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # length-1 words have no pair (guard: Spark's sequence(1, 0) would
    # count DOWN, not produce an empty list)
    pairs = words.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(50)
    )


def token_entropy(
    df: DataFrame,
) -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats) — the
    repetitiveness/diversity signal quality pipelines threshold on
    (low entropy = boilerplate/keyword stuffing; complements
    ``repetition_stats``' n-gram ratios).

    ``H = -sum(p_t * ln p_t)`` over the document's term frequencies.
    Cross-engine exactness: libm ``ln`` differs from the JVM's by a
    last ulp on some inputs (measured: 44/500 of the ratios here), so
    each term's contribution is rounded to 6 decimals via an exact
    DECIMAL cast before the (commutative, order-independent) decimal
    sum — the same engine-portable-float-log convention
    ``ngram_lm_score`` uses; 6 decimals is far below any thresholding
    use and far above the ulp noise.  Plan: one explode -> (doc,
    term) count agg, a doc-keyed total, and one more doc-keyed agg —
    shuffles carry term-count partials only, no per-document arrays.
    """
    pairs = (
        df.select(F.col("doc_id"), F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tot = pairs.groupBy("doc_id").agg(F.sum("tf").alias("n_tokens"))
    p = F.col("tf").cast("double") / F.col("n_tokens").cast("double")
    contrib = (p * F.log(p)).cast("decimal(18,6)")
    return (
        pairs.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            (-F.sum(contrib).cast("double")).alias("entropy_nats"),
        )
    )


def vocab_coverage(
    df: DataFrame,
) -> DataFrame:
    """Tokenizer-design coverage curve: for each target percentage
    (50, 90, 99),
    the smallest vocabulary (terms taken in descending corpus
    frequency) that covers at least that share of all token
    occurrences — the standard diagnostic for sizing a vocab /
    choosing a BPE merge count over a new corpus.

    Output: one row per target, ``(target_pct, n_terms,
    tokens_covered)`` — all exact integers: the coverage test is
    ``cum * 100 >= target_pct * total`` so no float division enters
    the result.

    Scale shape: the corpus pass is the :func:`token_counts` partial
    aggregation (the only full-data shuffle); everything after runs
    on the VOCABULARY (millions of rows at web scale, not billions),
    ranked + running-summed by the same two-phase prefix sum as
    :func:`sampling._global_cumsum` — no single-partition window even
    at a 10^8-term vocab.  The final per-target reduction is one
    global min-aggregate producing one row per target.
    """
    from .dedup import _attach_cached
    from .sampling import _global_cumsum

    counts = token_counts(df)
    # descending frequency: rank by -n ascending, ties by token
    ranked, _, total = _global_cumsum(
        counts, "n", [-F.col("n"), F.col("token")]
    )
    # min pos satisfying the coverage test; cum is monotone in pos, so
    # min(cum | test) is the running total AT that pos
    aggs = []
    for t in (50, 90, 99):
        hit = F.col("__cum") * 100 >= F.lit(int(t)) * F.lit(total)
        aggs.append(F.min(F.when(hit, F.col("__pos"))).alias(f"__n{t}"))
        aggs.append(F.min(F.when(hit, F.col("__cum"))).alias(f"__c{t}"))
    one = ranked.agg(*aggs)
    per_target = F.array(*[
        F.struct(
            F.lit(int(t)).alias("target_pct"),
            F.col(f"__n{t}").alias("n_terms"),
            F.col(f"__c{t}").alias("tokens_covered"),
        )
        for t in (50, 90, 99)
    ])
    out = one.select(F.explode(per_target).alias("r")).select(
        F.col("r.target_pct").alias("target_pct"),
        F.col("r.n_terms").cast("long").alias("n_terms"),
        F.col("r.tokens_covered").cast("long").alias("tokens_covered"),
    )
    from .dedup import _attach_layout

    return _attach_layout(
        _attach_cached(out, getattr(ranked, "_cached_deps", [])),
        getattr(ranked, "_layout_frames", []),
    )

