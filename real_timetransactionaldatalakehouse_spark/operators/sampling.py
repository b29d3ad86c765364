"""Corpus curation operators for training-data pipelines (EXT,
SURVEY.md section 2 X): deterministic split assignment, per-group
balancing caps, and benchmark decontamination.

These are the steps between "deduped corpus" and "training shards" in
an LLM data pipeline.  The design constraints at 100 TB:

- splits must be DETERMINISTIC functions of a stable id — never
  ``rand()`` — so reprocessing a partition, adding a source, or
  re-running a failed task cannot move a document across the
  train/eval boundary (the classic contamination-by-retry bug);
- balancing caps are top-k-per-group, which Spark executes with a
  partial WindowGroupLimit below the exchange — the shuffle carries at
  most k rows per group per map task;
- decontamination joins on winnowing fingerprints (60-bit ints), so
  the wide stage moves fingerprints, never documents, and the
  benchmark side is small enough to broadcast.

All hashing is the md5-prefix 60-bit form (``dedup._md5_60``) so every
operator here has an exact ANSI-SQL / DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .relational import topk_per_group
from .text import tokens, winnow_fingerprints


def split_bucket(id_col, seed: str = "split-v1", buckets: int = 1000):
    """Deterministic bucket in [0, buckets) from a stable id: the
    md5-prefix hash of ``id || ':' || seed``.  Changing ``seed``
    produces an independent re-split; same seed is stable forever.
    DuckDB twin: ``('0x' || substr(md5(id || ':' || seed), 1, 15))
    ::BIGINT % buckets``."""
    from .dedup import _md5_60

    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))
    return F.pmod(_md5_60(key), F.lit(buckets))


def _split_expr(id_col: str, weights: dict[str, float], seed: str):
    """The :func:`hash_split` CASE expression as a plain Column over
    ``id_col`` — a pure map-side function of (id, seed), so any frame
    that carries an id can compute that id's split WITHOUT joining the
    labeled corpus back (r14: :func:`split_leakage` attaches both
    endpoints' splits this way, deleting two corpus-wide joins)."""
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    bucket = split_bucket(id_col, seed)
    expr = None
    hi = 0.0
    names = list(weights)
    for name in names[:-1]:
        hi += weights[name]
        cond = bucket < int(round(hi * 1000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return F.lit(names[0]) if expr is None else expr.otherwise(names[-1])


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Assign every row to a named split (train/val/test by default)
    by deterministic hash bucket — map-only, no shuffle, stable under
    reprocessing and appends.  ``weights`` maps split name to a
    fraction; fractions are cumulated over the dict's insertion order
    onto 1000 hash buckets."""
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    return df.withColumn("split", _split_expr(id_col, weights, "split-v1"))


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    rates: dict[tuple, float],
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a hash-chosen
    fraction of rows per stratum (e.g. cap overrepresented languages
    in a mixture).  Same determinism argument as :func:`hash_split`
    — the keep/drop decision is a pure function of (id, seed), so
    re-running any partition reproduces the identical sample, and a
    row's fate never depends on partition layout or visit order
    (``df.sample`` cannot promise either).  ``rates`` maps a stratum
    key tuple to its keep-rate; other strata keep every row.  Map-only;
    no shuffle."""
    bucket = split_bucket("doc_id", "sample-v1")
    keep = None
    for key, rate in rates.items():
        key = key if isinstance(key, tuple) else (key,)
        if len(key) != len(strata_cols):
            # zip() would silently truncate: a key one element
            # longer than strata_cols applies its rate to the
            # whole prefix stratum — deterministic deletion of the
            # WRONG strata (r9 review fix: hard error instead)
            raise ValueError(
                f"rates key {key!r} has {len(key)} element(s) but "
                f"strata_cols has {len(strata_cols)}: {strata_cols}"
            )
        match = None
        for c, v in zip(strata_cols, key):
            cond = F.col(c) == F.lit(v)
            match = cond if match is None else match & cond
        thresh = bucket < int(round(rate * 1000))
        keep = F.when(match, thresh) if keep is None else keep.when(match, thresh)
    return df.filter(keep.otherwise(F.lit(True)))


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
) -> DataFrame:
    """Token-budget data mixing — the mixture primitive of LLM
    pretraining: given target mixture ``weights`` (source -> share of
    ``token_budget``), keep a deterministic hash-chosen subset of each
    source whose EXPECTED token mass is its share.  Sources absent
    from ``weights`` are dropped (they are not in the mixture).

    Rate-based, not prefix-sum-based, on purpose: the published
    mixing recipes sample source ``s`` at rate ``w_s * B / tokens_s``
    — a map-only filter after one metadata-sized per-source token
    total (|sources| rows collected).  An exact greedy cut would need
    a per-source running token sum, i.e. one reducer per source — the
    classic skew shape at corpus scale — to remove sampling error
    that is already ~1/sqrt(docs-per-source).  Rates clamp at 1.0
    (a source whose total is under its share contributes everything).

    Keep/drop is a pure function of (id, seed) (:func:`split_bucket`
    at 100,000-bucket granularity): retry-stable, layout-independent,
    and re-running with a larger budget keeps supersets (hash buckets
    nest).  Output adds ``n_tokens``.
    """
    import math

    n_tok = F.size(tokens("text")).cast("long")
    with_tok = df.withColumn("n_tokens", n_tok)
    totals = {
        r["s"]: r["t"]
        for r in with_tok.groupBy(F.col("source").alias("s"))
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
        if r["s"] in weights
    }
    bucket = split_bucket("doc_id", "mix-v1", 100_000)
    keep = None
    for src, w in weights.items():
        total = totals.get(src)
        if not total:
            continue
        # mirrored exactly by the oracle SQL: FLOOR(LEAST(w*B/total, 1.0)*buckets)
        thresh = math.floor(min(w * token_budget / total, 1.0) * 100_000)
        cond = F.col("source") == F.lit(src)
        keep = F.when(cond, bucket < thresh) if keep is None else keep.when(cond, bucket < thresh)
    if keep is None:
        return with_tok.filter(F.lit(False))
    return with_tok.filter(keep.otherwise(F.lit(False)))


def cap_per_group(df: DataFrame, group_cols: list[str], order_col: str,
                  k: int) -> DataFrame:
    """Per-group balancing cap: keep at most ``k`` rows per group in a
    deterministic preference order (e.g. cap each (source, lang) cell
    so one crawl domain cannot dominate a mixture).  Executes as
    top-k-per-group — partial WindowGroupLimit keeps the shuffle at
    k rows per group per map task regardless of group skew."""
    return topk_per_group(
        df, group_cols, order_col, k, tiebreak_cols=["doc_id"]
    ).drop("rank")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Remove corpus documents sharing any winnowing fingerprint with a
    benchmark/eval set — the overlap step of training-data
    decontamination.  Winnowing guarantees any shared substring of
    length >= k + window - 1 chars produces a shared fingerprint, so
    verbatim eval leakage of that length cannot survive.

    Plan shape: both sides reduce to (fp, id) pairs; the benchmark
    side (eval sets are thousands of docs, not billions — a size the
    CALLER controls) broadcasts into a semi-join marking contaminated
    ids.  The contaminated-id side of the final anti-join is NOT
    force-broadcast (r9 review fix): its size is corpus-determined —
    one boilerplate passage shared with an eval doc can mark a large
    fraction of a duplicate-heavy crawl — so AQE decides at runtime:
    broadcast when small (the common case, same plan as before), a
    shuffled anti-join instead of a driver/executor OOM when not.
    Fingerprints (60-bit ints) shuffle; documents never shuffle for
    the semi side.
    """
    def fps(df: DataFrame) -> DataFrame:
        # winnow_fingerprints keys on "doc_id" — normalize the id name
        # (r13: the under-split fan lives in winnow_fingerprints
        # itself, shared with q_text_winnow; this operator measured
        # 5.1 s -> 1.5 s at sf0.1 from it, paired)
        src = df.select("doc_id", "text")
        return winnow_fingerprints(src, k=24, window=8)

    b_fp = fps(benchmark).select("fp").distinct()
    contaminated = (
        fps(corpus).join(F.broadcast(b_fp), "fp", "left_semi")
        .select("doc_id").distinct()
    )
    return corpus.join(contaminated, "doc_id", "left_anti")


def _gram_hashes(
    df: DataFrame,
    out_id: str,
    text_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """Distinct token n-gram hashes per document, ``(out_id, __h)``
    rows — the shared reduction of :func:`decontaminate_ngram` and
    :func:`contamination_report`.

    Hashes the token SLICES directly (r6): building the n-word concat
    string per position only to hash it paid the string churn for
    nothing — ``xxhash64`` over the array slice has the same equality
    classes (elementwise), and only hash equality matters for these
    engine-internal joins (measured 0.83 s -> 0.63 s at sf0.1 on the
    decontaminate pass, identical output).  The token array is
    materialized as its own projection so the interpreted transform
    lambda does not re-split the text per position (the winnowing-fix
    defect class).  Documents shorter than ``n`` tokens keep
    word_shingles' whole-document gram via the whole-array hash.

    The input spreads through the split-count guard
    (``sources.fan_out``: no-op unless the exchange at least doubles
    the gram-build parallelism)."""
    from ..sources import fan_out
    from .text import tokens

    # r13: input-sized spread (the fan_out default), not core count —
    # in-session width A/B on the 13-gram decontaminate at bench SF:
    # 4/8-way ~0.63-0.64 s vs 32-way >= 0.75 s; the session layout
    # grows with input, well-split tables skip at the guard
    src = fan_out(df)
    toks = tokens(text_col)
    tdf = src.select(F.col(id_col).alias(out_id), toks.alias("__toks"))
    tk = F.col("__toks")
    grams = F.when(
        F.size(tk) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                lambda i: F.xxhash64(F.slice(tk, i, n)),
            )
        ),
    ).otherwise(F.array(F.xxhash64(tk)))
    return tdf.select(out_id, F.explode(grams).alias("__h"))


def decontaminate_ngram(
    corpus: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Token n-gram overlap decontamination — the GPT-3/Pile-style
    variant of :func:`decontaminate`: drop any corpus document sharing
    a word 13-gram with the benchmark/eval set.  Winnowing (above)
    guarantees on raw substrings; n-gram overlap is the published
    standard for benchmark leakage and catches re-tokenized rewording
    the character fingerprints can miss at their guarantee length.

    Plan shape: both sides reduce to distinct xxhash64 n-gram hashes
    (only hash EQUALITY matters — the join is engine-internal, so the
    fastest native 64-bit hash wins); the benchmark side (eval sets
    are thousands of docs, not billions — caller-bounded) broadcasts
    into a semi-join marking contaminated ids.  The contaminated-id
    anti-join is left to AQE (r9 review fix, same reasoning as
    :func:`decontaminate`): the set is corpus-determined and
    unbounded under boilerplate overlap, so it broadcasts at runtime
    when small and shuffles instead of OOMing when not.  N-gram
    hashes shuffle; documents never shuffle for the semi side.

    The gram build is per-row CPU-heavy (n token concats per
    position), so an under-split corpus is fanned out first (measured
    4x at bench scale, where one parquet file arrives as ONE split);
    a well-split table skips the exchange.
    """
    b = _gram_hashes(
        benchmark, "__bid", "text", "doc_id", 13
    ).select("__h").distinct()
    contaminated = (
        _gram_hashes(corpus, "doc_id", "text", "doc_id", 13)
        .join(F.broadcast(b), "__h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return corpus.join(contaminated, "doc_id", "left_anti")


def pack_sequences(
    df: DataFrame,
    budget: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document to the
    fixed-size context window that holds its FIRST token when the
    corpus is concatenated in a deterministic order — the standard
    pretraining packing layout (documents stream into ``budget``-token
    windows; the window id is the running token offset divided by the
    budget).

    Output: ``(id, n_tokens, pack_id, pack_pos)`` where ``pack_pos``
    is the document's first-token offset inside its window.  Writers
    shard by ``pack_id`` and emit windows independently.

    Scale shape: the global running token sum uses the same two-phase
    prefix-sum as :func:`relational.global_rank` — literal-boundary
    buckets (a pure function of the row: identical layout under any
    re-execution or cache drop, no pinned materialization), window-
    cumsum within buckets, add per-bucket offsets from a metadata-
    sized collect (one SUM row per bucket).  No single-partition
    window anywhere; the only full-data exchange is the window's hash
    partition on the bucket id.  Documents pack in ``doc_id`` order,
    a total order, so the layout is retry-stable like every other
    curation op here (no ``rand()``).
    """
    from pyspark.sql import Window

    from .dedup import _attach_cached
    from .text import tokens

    n_tok = F.size(tokens("text")).cast("long")
    base = df.select(F.col("doc_id"), n_tok.alias("n_tokens")).persist()
    from .relational import _bucketed_layout, _partition_offset_expr

    bexpr, per_bucket, keyed = _bucketed_layout(
        base, [F.col("doc_id")], [F.sum("__t").alias("t")],
        extra_cols=[F.col("n_tokens").alias("__t")],
    )
    keyed.unpersist()
    offsets, acc = [], 0
    for b in sorted(per_bucket):
        offsets.append((b, acc))
        if per_bucket[b] is not None and per_bucket[b][0] is not None:
            acc += int(per_bucket[b][0])
    w = Window.partitionBy("__b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    start = (
        F.sum("n_tokens").over(w) + _partition_offset_expr(offsets)
        - F.col("n_tokens")
    )
    out = (
        base.withColumn("__b", bexpr)
        .withColumn("pack_id", F.floor(start / F.lit(budget)))
        .withColumn("pack_pos", start % F.lit(budget))
        .drop("__b")
    )
    from .dedup import _attach_layout

    return _attach_layout(_attach_cached(out, [base]), [base])


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """The AUDIT side of :func:`decontaminate_ngram` — the per-eval-doc
    leakage report decontamination pipelines publish next to the drop:
    for each benchmark document, how many corpus documents share at
    least one token n-gram with it and how many distinct shared grams
    there are.  Benchmark docs with zero overlap appear with zeros
    (the report must prove absence, not just list hits).

    Plan: same gram-hash reduction as the decontaminate pass — the
    benchmark side broadcasts, the corpus grams stream through ONE
    inner hash join, and everything after the join is
    (bench_id, corpus_id, gram) partial aggregation.  Corpus text
    never shuffles.
    """
    b = _gram_hashes(benchmark, "__bid", "text", "doc_id", 13)
    hits = (
        _gram_hashes(corpus, "__cid", "text", "doc_id", 13)
        .join(F.broadcast(b), "__h")
        .groupBy("__bid")
        .agg(
            F.countDistinct("__cid").alias("n_contaminating_docs"),
            F.countDistinct("__h").alias("n_shared_grams"),
        )
    )
    return (
        benchmark.select(F.col("doc_id").alias("__bid"))
        .join(hits, "__bid", "left")
        .select(
            F.col("__bid").alias("doc_id"),
            F.coalesce("n_contaminating_docs", F.lit(0)).alias("n_contaminating_docs"),
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        )
    )


def _global_cumsum(
    df: DataFrame,
    value_col: str,
    order_cols: list[Column],
):
    """Global 1-based position and INCLUSIVE running sum of
    ``value_col`` over a total order, without ever funneling the data
    through a single-partition window: range-shuffle on the order
    keys, ``row_number``/``sum`` windows within each partition, then
    add per-partition (rows, sum) offsets computed from a
    metadata-sized collect (one row per partition) — the same
    two-phase prefix sum as :func:`relational.global_rank` and
    :func:`pack_sequences`.

    ``order_cols`` are Column expressions, each ascending with nulls
    first (negate a key to descend), and must form a TOTAL order
    (unique tiebreak) so positions are well-defined.

    Returns ``(out, total_rows, total_sum)``; ``out`` carries the
    input columns plus ``__pos`` and ``__cum``.  Bucketing is by
    LITERAL boundaries (:func:`relational._bucketed_layout`): the
    bucket is a pure function of the row, so positions and running
    sums are identical under any re-execution or cache drop — the
    input is persisted (releasable via :func:`dedup.release_cached`)
    purely as an optimization, since the offset pass and the output
    pass both read it.
    """
    from pyspark.sql import Window

    from .relational import _bucketed_layout, _partition_offset_expr

    src = df.persist()
    bexpr, per_bucket, keyed = _bucketed_layout(
        src,
        order_cols,
        [F.count(F.lit(1)).alias("c"), F.sum("__v").alias("s")],
        extra_cols=[F.col(value_col).cast("long").alias("__v")],
    )
    keyed.unpersist()  # offsets collected; output plan reads src
    row_offsets, sum_offsets = [], []
    rows_acc = total_sum = 0
    for b in sorted(per_bucket):
        row_offsets.append((b, rows_acc))
        sum_offsets.append((b, total_sum))
        if per_bucket[b] is not None:
            # SUM over zero rows (or an all-NULL value column) is
            # NULL even when the COUNT field is present — guard the
            # sum element like pack_sequences guards its count, so an
            # empty/degenerate input reaches the operators' documented
            # ValueError instead of int(None) (r9 review fix)
            rows_acc += int(per_bucket[b][0] or 0)
            total_sum += int(per_bucket[b][1] or 0)
    w = Window.partitionBy("__b").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = (
        src.withColumn("__b", bexpr)
        .withColumn(
            "__pos", F.row_number().over(w) + _partition_offset_expr(row_offsets)
        )
        .withColumn(
            "__cum",
            F.sum(F.col(value_col).cast("long")).over(w)
            + _partition_offset_expr(sum_offsets),
        )
        .drop("__b")
    )
    from .dedup import _attach_cached, _attach_layout

    out = _attach_layout(_attach_cached(out, [src]), [src])
    return out, rows_acc, total_sum


def sample_systematic(
    df: DataFrame,
    k: int,
    weight_col: str,
) -> DataFrame:
    """Systematic probability-proportional-to-size (PPS) sampling:
    pick ``k`` documents with inclusion probability proportional to a
    positive INTEGER weight (quality score, token count, boost
    factor) using exact integer arithmetic — the deterministic,
    retry-stable alternative to exponential-race weighted reservoirs
    (Efraimidis–Spirakis), whose float ``u^(1/w)`` keys are not
    bit-portable across engines or libm versions.

    Lay the documents on a line in ``doc_id`` order, each covering an interval of length equal
    to its weight; drop ``k`` evenly spaced tickets on the line and
    keep every document whose interval contains a ticket.  With
    cumulative weight ``C_i`` and total ``T``, doc ``i`` is selected
    iff ``floor(C_i*k/T) > floor((C_i - w_i)*k/T)`` — pure integer
    ops, so Spark and any ANSI engine agree bit-for-bit.  A document
    with ``w_i > T/k`` can cover several tickets (``n_tickets > 1``):
    the standard PPS multiplicity, reported rather than resampled.

    Output: ``(id, weight, cum_weight, n_tickets)`` for selected
    documents only; ``sum(n_tickets) == k`` exactly.

    Scale shape: one range shuffle (the two-phase prefix sum above),
    a metadata-sized per-partition totals collect, and a map-side
    filter.  No single-partition stage at any size.  Guards ``T * k``
    against int64 overflow — at corpus scales beyond ~2^63/T tickets,
    switch the ticket arithmetic to DECIMAL(38,0).
    """
    # r14 (optimization, guide §2.3/§6): _global_cumsum PERSISTS its
    # input and re-reads it per execution, so project down to the
    # columns the ticket arithmetic actually reads (id, weight) BEFORE
    # the persist — the bench plan showed the FULL documents row (text
    # included) scanned from parquet and cached for a computation that
    # consumes 16 bytes/row
    cum_df, _, total = _global_cumsum(
        df.select("doc_id", weight_col), weight_col, [F.col("doc_id")]
    )
    if total <= 0:
        raise ValueError(f"total weight must be positive, got {total}")
    if total > (2**63 - 1) // max(k, 1):
        raise OverflowError(
            f"T*k = {total}*{k} overflows int64; use DECIMAL ticket math"
        )
    w = F.col(weight_col).cast("long")
    # ticket index at the doc's interval end vs start: integer div on
    # non-negative longs == floor division in both engines
    hi_t = F.expr(f"(__cum * {k}) div {total}")
    lo_t = F.expr(f"((__cum - CAST({weight_col} AS BIGINT)) * {k}) div {total}")
    out = (
        cum_df
        .withColumn("__nt", (hi_t - lo_t).cast("long"))
        .filter(F.col("__nt") >= 1)
        .select(
            F.col("doc_id"),
            w.alias("weight"),
            F.col("__cum").alias("cum_weight"),
            F.col("__nt").alias("n_tickets"),
        )
    )
    from .dedup import _attach_cached, _attach_layout

    return _attach_layout(
        _attach_cached(out, getattr(cum_df, "_cached_deps", [])),
        getattr(cum_df, "_layout_frames", []),
    )


def split_leakage(df: DataFrame) -> DataFrame:
    """Train/eval LEAKAGE audit — the check that must pass after
    :func:`hash_split` and near-dup ingestion compose: find verified
    near-duplicate pairs whose endpoints landed in DIFFERENT splits.
    Whole-document hash splitting is immune to exact duplicates only
    if dedup ran first and caught everything; near-duplicates (the
    trimmed/mutated copies MinHash exists for) can still straddle the
    boundary and leak eval content into training.  Publishing this
    audit next to the split table is standard practice for the same
    reason decontamination ships :func:`contamination_report`.

    Plan: split assignment is the map-only hash bucket; pair
    generation is :func:`dedup.minhash_verified_neardup_pairs`
    (banded candidates -> exact Jaccard, never the pair space); each
    endpoint's split is COMPUTED on the pair row (:func:`_split_expr`
    over ``id_a``/``id_b`` — r14, guide §2.4 "remove shuffles
    outright").  The pre-r14 shape joined the hash-labeled corpus
    back by id twice; since the split is a pure function of (id,
    seed) and every pair endpoint comes from ``df`` by construction,
    those joins — two corpus-wide scans plus exchanges in the audit's
    execution — attached values the pair row could derive itself.

    Output: ``(id_a, id_b, jaccard, split_a, split_b)`` with
    ``split_a != split_b`` — empty means the split is leakage-free at
    the audited threshold.
    """
    from .dedup import minhash_verified_neardup_pairs

    weights = {"train": 0.90, "eval": 0.10}
    pairs = minhash_verified_neardup_pairs(df)
    return (
        pairs.select(
            "id_a", "id_b", "jaccard",
            _split_expr("id_a", weights, "split-v1").alias("split_a"),
            _split_expr("id_b", weights, "split-v1").alias("split_b"),
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


def leakage_safe_split(df: DataFrame) -> DataFrame:
    """The CONSTRUCTIVE counterpart of :func:`split_leakage` (r10):
    assign splits so near-duplicate leakage cannot occur BY
    CONSTRUCTION — every verified near-dup CLUSTER is split-atomic
    (all members inherit one split), so no pair at or above the
    audited threshold can straddle train/eval.  The audit finds
    leakage after the fact; this prevents it up front — publish both
    (the audit over this function's output is empty by construction
    at the same threshold/parameters, and pytest pins that).

    Plan: :func:`dedup.verified_neardup_clusters` labels the documents
    that participate in any near-dup cluster (banded candidates ->
    exact Jaccard -> hash-min components; never the pair space); the
    split bucket is computed from the CLUSTER id for members and from
    the document id for the un-clustered majority — both map-only hash
    expressions over :func:`split_bucket`, so the only join is the
    cluster-label attach (cluster table is |near-dup docs|-sized, tiny
    relative to the corpus).  Determinism: a pure function of
    (text-derived cluster structure, id, seed) — stable under
    reprocessing; appending NEW near-dups of an eval doc later lands
    them in the eval cluster's split, never in train.

    Caveat the docstring owes the caller: cluster-atomic assignment
    biases split SIZES when clusters are huge (a 1M-doc boilerplate
    clique lands whole in one split) — run the dedup keep-one tier
    first (the corpus-prep composition does), after which clusters are
    near-singletons and the weights hold to within hash noise.
    """
    from .dedup import _attach_cached, neardup_cluster_keys

    # r14 (guide §2.4): the assigner only needs each doc's effective
    # cluster key (coalesce(cluster_id, own id)), so it attaches the
    # light per-doc key table instead of the full cluster table —
    # skipping the n_members aggregation and its joins, which this
    # function's plan carried but never read.  The key column rides
    # the dunder convention (r10 ADVICE #3), so a caller frame that
    # already carries ``cluster_id`` is never referenced or shadowed.
    keys = neardup_cluster_keys(df)
    keyed = df.join(keys, "doc_id").withColumn(
        "__split_key", F.col("__cluster_key").cast("string")
    )
    out = hash_split(
        keyed, id_col="__split_key", weights={"train": 0.90, "eval": 0.10},
        ).drop("__cluster_key", "__split_key")
    # deps ride the RETURNED frame, not the intermediate (the same
    # propagate-don't-drop rule drop_near_duplicates gained this round)
    return _attach_cached(out, getattr(keys, "_cached_deps", []))


def training_shard_layout(
    df: DataFrame,
    shards: int,
) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global
    sort: every example gets a shard and a position inside it, such
    that readers streaming shard 0..N-1 in position order see a fixed
    pseudo-random permutation of the corpus — the layout step between
    "curated corpus" and "training shards".

    Shard and order both derive from the md5-prefix hash of
    ``(id, seed)`` (:func:`split_bucket` discipline): re-running any
    partition, appending a source, or changing executor counts cannot
    move an example (``rand()``/``repartition`` order can and do).

    Scale shape: shard assignment is map-only; the position is ONE
    keyed window per shard (parallelism = ``shards``, each reducer
    sorts its shard's (hash, id) pairs — choose ``shards`` >= cluster
    cores so no reducer holds more than corpus/shards rows).  No
    global sort, no single-partition stage, text never shuffles if
    the caller projects ids first and joins the layout back.

    Output: ``(id, shard, pos)`` — ``pos`` is 1-based within shard.
    """
    from pyspark.sql import Window

    from .dedup import _md5_60

    h_shard = split_bucket("doc_id", "shuffle-v1:shard", shards)
    order_h = _md5_60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle-v1:pos"))
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__oh").asc(), F.col("doc_id").asc()
    )
    return (
        df.select(F.col("doc_id"), h_shard.alias("shard"),
                  order_h.alias("__oh"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )

