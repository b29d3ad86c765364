"""Deduplication operators (SURVEY.md section 2 X1/X2, north-star EXT):
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each):

- exact: hash-groupBy on the text (or md5 fingerprint at 100 TB so the
  shuffle carries 16 bytes, not documents).
- MinHash: signatures are computed *per row* with higher-order array
  functions (array_min over transform) — no explode, no shuffle for
  signature construction.  Only the LSH band table shuffles: B rows per
  doc of (band_id, band_hash), then a self-join *within buckets* —
  candidate pairs only, never the quadratic cross product.
- SimHash: 64-bit signature per row (bit-majority over token hashes),
  banded into 4x16-bit chunks for candidate generation.
- Jaccard: token-set intersection/union per candidate pair.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .text import tokens


def _md5_60(tok: Column) -> Column:
    """60-bit token hash from the md5 hex prefix — engine-portable
    (DuckDB: ``('0x' || substr(md5(t),1,15))::BIGINT``), so the
    operators that hash with it have exact cross-engine SQL twins."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def release_cached(df: DataFrame) -> None:
    """Unpersist the intermediate DataFrames an operator cached while
    building ``df`` (attached as ``df._cached_deps``).  Long-lived
    sessions call this after the terminal action; one-shot jobs can
    skip it (executor caches die with the session).

    Contract: every attached dep is ``persist()``-based and IS freed
    here (the r8 prefix-sum rework moved that family off
    localCheckpoint, so its layouts release again).  The one remaining
    checkpoint user — :func:`neardup_clusters`' per-round lineage
    truncation — keeps its checkpointed blocks INTERNAL (never
    attached): those are reclaimed by RDD garbage collection or
    session end, the documented price of iterative truncation."""
    for dep in getattr(df, "_cached_deps", []):
        dep.unpersist()


def _attach_cached(df: DataFrame, deps: list[DataFrame]) -> DataFrame:
    df._cached_deps = deps
    return df


def _attach_layout(df: DataFrame, frames: list[DataFrame]) -> DataFrame:
    """Mark ``df`` as a BUILD-JOB query: constructing its plan ran
    real data passes (boundary samples / offset collects in the
    prefix-sum family).  PLAN-CONTRACT-ONLY since r8: ``frames``
    point at the frame(s) those build passes read so test_plans can
    inspect them; the attribute does NOT affect bench timing.  Since
    the literal-boundary rework the prebuilt plan re-executes its
    full data path on every run, so bench.run_df times these queries
    like any other and the build collects are declare-time constants
    (the q_knn_ivf centroid precedent).  The (currently unused)
    rebuild-timing escape hatch is ``df._rebuild_bench`` — set THAT
    if a future operator's prebuilt plan would skip data work on
    re-execution (bench.run_rebuild keys on it)."""
    df._layout_frames = frames
    return df


def exact_dedup(
    df: DataFrame,
) -> DataFrame:
    """X1: one row per distinct text; keeper = min id, n_copies kept
    for lineage.  Single hash-shuffle on the dedup key.

    The key is a 128-bit md5 of the text computed map-side, so the
    exchange carries (fp, id) — tens of bytes per row — instead of the
    documents themselves; at 100 TB a raw-text groupBy key IS the
    corpus.  128 bits keep the birthday collision probability under
    1e-18 at 10^10 documents, so no collision-verify pass is needed.
    Output: (fp, keeper_id, n_copies); a caller that needs the text
    joins the fingerprints back to the corpus on ``md5(text)``."""
    return (
        df.select(F.md5(F.col("text")).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(text_col: str) -> Column:
    """Sliding word 3-grams as strings, per row (no explode).

    Built by zipping 3 SHIFTED views of the token array: every
    shifted view is a higher-order-function ARGUMENT, evaluated once
    per row — unlike the prior index-transform form, whose lambda body
    held the unbound token split and re-evaluated it at every position
    (interpreted HOF lambdas get no subexpression elimination; same
    defect class as the r6 winnowing fix, measured 0.36 s -> 0.15 s at
    sf0.1 on the shingle build).  ``concat_ws`` skips the NULLs
    ``zip_with`` pads past the shorter side, and the final ``slice``
    restores the ``max(L - n + 1, 1)`` shingle count (short documents
    emit their whole token array as one shingle, as before)."""
    n = 3
    t = tokens(text_col)
    sh = t
    for j in range(1, n):
        shifted = F.slice(t, j + 1, F.greatest(F.size(t) - F.lit(j), F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    # degenerate docs: split() never returns an EMPTY array for
    # non-NULL text (split('', ' ') == ['']), so empty text flows
    # through the slice as ONE shingle — concat_ws over [''] plus the
    # NULL zip-padding yields the single empty-string gram the DuckDB
    # shingle CTEs also emit (two whitespace-only docs stay jaccard
    # 1.0).  NULL text propagates NULL.  (A size==0 special case here
    # was unreachable dead code — r9 review fix removed it; output is
    # expression-for-expression identical on every reachable input.)
    return F.slice(sh, 1, F.greatest(F.size(t) - (n - 1), F.lit(1)))


def _splitmix64(x):
    """Vectorized splitmix64 finalizer over a uint64 numpy array."""
    import numpy as np

    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9))
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB))
    return x ^ (x >> np.uint64(31))


def _minhash_sig_udf(num_hashes: int, shingle_n: int):
    """Arrow-batched MinHash kernel over per-row token-hash arrays.

    Rolling ``shingle_n``-gram hashes are combined arithmetically from
    the token hashes (the string shingle never materializes), then each
    of the ``num_hashes`` seeded permutations is a vectorized splitmix
    mix + segment-min (``np.minimum.reduceat``) over the whole Arrow
    batch at once.  Duplicate shingles need no dedup pass — they cannot
    change a minimum.  The HOF-expression equivalent interprets
    num_hashes x |shingles| lambda steps per row."""
    import numpy as np

    @F.pandas_udf(ArrayType(LongType()))
    def sig(th: pd.Series) -> pd.Series:
        # Defensive backstop only: minhash_banded filters NULL text
        # before the kernel (r9 ADVICE — NULL docs must emit no band
        # rows, not cluster together on a shared zero-gram signature),
        # so a None slot here means a caller bypassed the front end;
        # degrade to zero tokens instead of crashing the stage.  Note
        # this is NOT the empty-text path: '' tokenizes to one
        # ''-token and hashes normally.
        arrs = [np.asarray(a if a is not None else [], dtype="int64") for a in th]
        lens = np.array([max(len(a) - (shingle_n - 1), 1) for a in arrs])
        flat = np.concatenate(arrs).view(np.uint64) if arrs else np.empty(0, np.uint64)
        # rolling n-gram combine; rows shorter than n keep their 1+ tokens
        grams = np.zeros(int(lens.sum()), dtype=np.uint64)
        offsets = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        pos = 0
        tok_off = 0
        for i, a in enumerate(arrs):
            n_tok = len(a)
            n_g = int(lens[i])
            g = flat[tok_off:tok_off + n_tok]
            if n_tok == 0:
                grams[pos:pos + n_g] = np.uint64(0)
            else:
                acc = g[:n_g].copy()
                for j in range(1, shingle_n):
                    if n_tok >= n_g + j:
                        acc = acc * np.uint64(1_000_003) + g[j:j + n_g]
                grams[pos:pos + n_g] = acc
            pos += n_g
            tok_off += n_tok
        out = np.empty((len(arrs), num_hashes), dtype="int64")
        for s in range(num_hashes):
            seed = np.uint64((s * 0x9E3779B97F4A7C15 + 1) & 0xFFFFFFFFFFFFFFFF)
            mixed = _splitmix64(grams ^ seed)
            out[:, s] = np.minimum.reduceat(mixed, offsets).view(np.int64)
        return pd.Series(list(out))

    return sig


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    include_fp: bool = False,
) -> DataFrame:
    """The shared signature+banding front end of MinHash LSH:
    ``(id, sig, band, bhash)`` — ``bands`` small rows per document.

    Token hashing stays JVM-native (one xxhash64 per token); the
    rolling-shingle + all-seeds minima run in one Arrow batch kernel
    (see ``_minhash_sig_udf``).  Under-split inputs are spread to the
    session's tuned layout purely for Arrow batch sizing — a
    well-split 100 TB input (already >= half the target partitions)
    skips the exchange (r3 VERDICT "What's wrong" #2).
    Used by :func:`minhash_neardup_pairs` (batch pair generation) and
    the streaming near-dup ingest (band-index probes).

    ``include_fp=True`` adds ``fp`` (map-side xxhash64 of the raw
    text, one long per row): identical texts have identical
    signatures, so downstream pair stages use ``fp_a == fp_b`` as an
    exact-duplicate shortcut — estimate and exact shingle Jaccard are
    both exactly 1.0 without touching the arrays.  This is what keeps
    pair generation linear-per-pair on duplicate-heavy crawls (a
    50-copy boilerplate clique otherwise pays an array comparison for
    every one of its O(m^2) bucket pairs).  Off by default so the
    streaming band-index schema is unchanged.
    """
    if bands <= 0 or num_hashes % bands != 0:
        # floor-division would silently band only the first
        # bands*(num_hashes//bands) signature rows — computing hashes
        # that never influence recall, so the caller's (b, r) curve is
        # quietly wrong (and bands > num_hashes plans a zero-argument
        # xxhash64 that fails analysis opaquely).  r9 review fix.
        raise ValueError(
            f"bands must divide num_hashes: got num_hashes={num_hashes}, "
            f"bands={bands}"
        )
    rows_per_band = num_hashes // bands
    # NULL text emits NO rows (filtered before the spread, so NULL rows
    # never shuffle): a NULL doc has no shingle set, and the exact
    # word-shingle Jaccard the verified paths share propagates NULL and
    # drops NULL pairs anyway — leaving NULLs in gave every NULL doc the
    # IDENTICAL zero-gram signature, so the estimate-only paths
    # (minhash_neardup_pairs, the streaming band index) reported
    # NULL-NULL pairs as ~1.0 near-duplicates while the verified paths
    # dropped them: divergent degenerate semantics (r9 ADVICE).  Same
    # emit-nothing rule as the winnow/chunk operators.
    nonnull = df.filter(F.col(text_col).isNotNull())
    spread = nonnull
    # r13: target the session's INPUT-SIZED shuffle layout, not core
    # count — the Arrow kernel amortizes per-task round trips over
    # batch size, so few large batches beat many tiny ones until the
    # data outgrows them (interleaved in-session A/B at bench SF:
    # 4-way 0.48 s vs 32-way 0.62 s on the whole pair query; the
    # layout grows with input, so big corpora still fan wide and
    # well-split 100 TB tables skip the exchange at the guard below)
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # spread only when it at least DOUBLES the kernel parallelism (same
    # rule as sources.fan_out): re-shuffling the text for a fractional
    # gain measured slower (3.66 s vs 3.46 s at the 10x replica's
    # 10 -> 37 case)
    if df.rdd.getNumPartitions() * 2 <= target:
        spread = nonnull.repartition(target)
    fp_cols = [F.xxhash64(F.col(text_col)).alias("fp")] if include_fp else []
    hashed = spread.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("th"),
        *fp_cols,
    )
    carry = ["fp"] if include_fp else []
    sig = hashed.select(
        "id", _minhash_sig_udf(num_hashes, shingle_n)(F.col("th")).alias("sig"),
        *carry,
    )
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]).alias("bhash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("id", "sig", *carry, F.explode(band_cols).alias("bb")).select(
        "id", "sig", *carry,
        F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"),
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    with_same_fp: bool = False,
) -> DataFrame:
    """X2: MinHash+LSH near-duplicate pairs with estimated Jaccard.

    shingle -> per-row signature -> band hashes -> explode B rows/doc
    -> groupBy band bucket self-join -> distinct candidate pairs ->
    signature-agreement estimate >= threshold.

    The only shuffles are the band-bucket join (B small rows per doc)
    and the final distinct — this is the formulation that survives
    100 TB corpora; the quadratic pair space is never materialized.

    A 1024-member cap guards the self-join against degenerate band
    buckets: a cluster of m byte-identical boilerplate docs co-buckets
    in EVERY band and contributes O(m^2) pairs x bands.  Run exact
    dedup first (the corpus-prep composition does); the cap is the
    backstop that keeps one viral boilerplate from serializing a
    quadratic partition through a single executor.
    """
    banded = minhash_banded(df, text_col, id_col, include_fp=True)
    # Exact-duplicate shortcut: identical texts carry identical
    # signatures, so their agreement estimate is 1.0 by construction —
    # emit the literal instead of comparing 2*32 signature array
    # elements.  On duplicate-heavy crawls (the replica's 50-copy
    # cliques, real boilerplate) the same-fp pairs DOMINATE the bucket
    # pair stream, and this turns their per-pair cost into a long
    # compare.  Output-equivalent modulo xxhash64 text collisions —
    # the same engine-internal-key argument as the gram pipelines.
    same_fp = F.col("p.a.fp") == F.col("p.b.fp")
    est = F.when(same_fp, F.lit(1.0)).otherwise(
        _sig_agreement_est(F.col("p.a.sig"), F.col("p.b.sig"), 32)
    )
    # Bucket-local pair generation (see _bucket_pairs): ONE shuffle
    # groups each band bucket's members, the cap drops degenerate
    # buckets as a size filter, and candidate pairs are emitted
    # JVM-side inside the bucket row — the signature kernel runs once
    # with nothing persisted and no broadcast pass.  The estimate
    # filter still runs BEFORE the pair-dedup shuffle: a pair
    # co-bucketing in several bands is scored redundantly (cheap,
    # map-side), but the distinct only shuffles surviving pairs.
    pairs = _bucket_pairs(banded, ["band", "bhash"], 1024)
    out_cols = ["id_a", "id_b", "jaccard_est"] + (
        ["same_fp"] if with_same_fp else []
    )
    return (
        pairs.select(
            F.least(F.col("p.a.id"), F.col("p.b.id")).alias("id_a"),
            F.greatest(F.col("p.a.id"), F.col("p.b.id")).alias("id_b"),
            est.alias("jaccard_est"),
            same_fp.alias("same_fp"),
        )
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select(*out_cols)
    )


def _sig_agreement_est(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """MinHash Jaccard estimate: fraction of agreeing signature rows —
    the ONE definition the single-corpus and cross-corpus pair paths
    and the streaming ingest's index probe share."""
    return (
        F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
                lambda x: x == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )


def minhash_cross_pairs(
    left: DataFrame,
    right: DataFrame,
) -> DataFrame:
    """X2 cross-corpus: MinHash+LSH near-duplicate pairs BETWEEN two
    corpora — "which incoming documents near-duplicate something the
    corpus already has", the dedupe-the-new-crawl primitive and the
    batch twin of the streaming ingest's persisted band-index probe
    (``streaming/jobs.py`` near-dup ingest).

    Both sides band with the SAME seeded hash family, tag their side,
    and union into one band table; candidate generation is the same
    bucket-local half-triangle as the single-corpus path (ONE groupBy
    shuffle of B small rows per doc — never a pair space, never a
    join of banded tables), keeping only cross-side pairs.  Same-side
    duplicates are ignored by construction: dedupe each corpus with
    :func:`minhash_neardup_pairs` first if that matters.  Id spaces
    may overlap freely across sides — the output keys are
    (left_id, right_id), not least/greatest.

    Output: ``(left_id, right_id, jaccard_est)`` with the signature-
    agreement estimate >= ``jaccard_threshold``.  Dropping the matched
    incoming docs is one anti-join on ``right_id`` (the
    neardup-free composition pattern)."""
    kwargs = dict(
        text_col="text", id_col="doc_id", num_hashes=32,
        bands=8, shingle_n=3, include_fp=True,
    )
    both = (
        minhash_banded(left, **kwargs).withColumn("side", F.lit(0))
        .unionByName(minhash_banded(right, **kwargs).withColumn("side", F.lit(1)))
    )
    # same exact-duplicate shortcut as minhash_neardup_pairs: an
    # incoming doc byte-identical to a corpus doc scores 1.0 without
    # the array comparison (the dominant case when re-crawls re-ingest
    # unchanged pages)
    est = F.when(F.col("p.a.fp") == F.col("p.b.fp"), F.lit(1.0)).otherwise(
        _sig_agreement_est(F.col("p.a.sig"), F.col("p.b.sig"), 32)
    )
    pairs = _bucket_pairs(both, ["band", "bhash"], 1024)
    return (
        pairs.filter(F.col("p.a.side") != F.col("p.b.side"))
        .select(
            F.when(F.col("p.a.side") == 0, F.col("p.a.id"))
            .otherwise(F.col("p.b.id")).alias("left_id"),
            F.when(F.col("p.a.side") == 0, F.col("p.b.id"))
            .otherwise(F.col("p.a.id")).alias("right_id"),
            est.alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= 0.5)
        .dropDuplicates(["left_id", "right_id"])
        .select("left_id", "right_id", "jaccard_est")
    )


def _bucket_pairs(banded: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Unordered candidate pairs within each bucket, as one exploded
    struct column ``p`` with fields ``a``/``b`` (the non-key columns of
    ``banded``).

    One groupBy collects each bucket's members; buckets above
    ``max_bucket`` are dropped by a size filter (same semantics as the
    hot-bucket anti-join, without the extra counting pass or broadcast
    — the member list IS the count).  Pairs are generated JVM-side per
    bucket row with an index-driven half-triangle (i < j positions), so
    the quadratic space exists only transiently inside a row, bounded
    by ``max_bucket^2``.  Collection order within a bucket is partition
    order (nondeterministic) — callers must emit order-insensitive
    outputs (least/greatest id, symmetric measures)."""
    payload = [c for c in banded.columns if c not in keys]
    g = banded.groupBy(*keys).agg(
        F.collect_list(F.struct(*payload)).alias("__m")
    )
    g = g.filter(F.size("__m") >= 2)
    if max_bucket:
        g = g.filter(F.size("__m") <= max_bucket)
    m = F.col("__m")
    half = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(m) - 1),
            lambda i: F.transform(
                F.slice(m, i + 1, F.size(m)),
                lambda b: F.struct(F.element_at(m, i).alias("a"), b.alias("b")),
            ),
        )
    )
    return g.select(F.explode(half).alias("p"))


def _simhash_sig_udf(bits: int = 64):
    """Arrow-batched SimHash kernel over per-row token-hash arrays.

    Packed single-pass formulation: unpack the whole flattened batch to
    an (n_tokens x 64) bit matrix once (``np.unpackbits``, LSB-first to
    mirror ``(h >> b) & 1``), segment-sum the ones per document in ONE
    ``np.add.reduceat`` along axis 0, and take the majority as
    ``2*ones > n_tokens``.  The previous per-bit loop shifted and
    reduced the flat array 64 times — this is the kernel the r1 bench
    flagged (3.4 s steady, no warm gain); one pass cuts the arithmetic
    ~64x to two linear scans."""
    import numpy as np

    @F.pandas_udf(LongType())
    def sig(th: pd.Series) -> pd.Series:
        arrs = [np.asarray(a, dtype="int64") for a in th]
        if not arrs:
            return pd.Series(np.empty(0, dtype="int64"))
        lens = np.array([max(len(a), 1) for a in arrs])
        flat = np.concatenate(
            [a if len(a) else np.zeros(1, "int64") for a in arrs]
        ).view(np.uint64)
        offsets = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        # (n_tokens, 64) bit matrix, column j == bit j of the hash
        bit_mat = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        ones = np.add.reduceat(bit_mat, offsets, axis=0, dtype=np.int64)
        sig_bits = (2 * ones > lens[:, None]).astype(np.uint8)
        packed = np.packbits(sig_bits, axis=1, bitorder="little")
        return pd.Series(packed.view(np.int64).ravel())

    return sig


#: SWAR lane mask: 3 x 21-bit counting lanes per 64-bit accumulator
#: (bits k, k+21, k+42 of the token hash share accumulator k), so 22
#: accumulators cover all 64 vote counts instead of the previous 32
#: two-lane ones (measured 0.43 s -> 0.35 s on the sf0.1 signature
#: stage, bit-identical output).  Lane safety under ANSI mode (SUM
#: over BIGINT throws ARITHMETIC_OVERFLOW rather than wrapping) comes
#: from the pre-explode size cap in :func:`simhash_sigs`: oversized
#: documents are dropped BEFORE aggregation, so per-lane counts are
#: <= 65535 and the top lane's sum stays under 65535 * 2^42 < 2^58.
#: (Four 16-bit lanes would overflow the signed accumulator at 32768
#: votes — inside the supported range — which is why r3 used 32-bit
#: lanes; the pre-cap makes the narrower lanes safe AND stops burning
#: hash/aggregation work on rows destined for the old post-agg
#: NULL-signature fallback.)
_SWAR_MASK = (1 << 0) | (1 << 21) | (1 << 42)
_SWAR_LANE = (1 << 21) - 1


def simhash_sigs(df: DataFrame) -> DataFrame:
    """SimHash signatures ``(id, sig)`` of ``text`` keyed by
    ``doc_id``, over md5-prefix token hashes (:func:`_md5_60`),
    computed entirely JVM-side in whole-stage codegen — no Python
    worker in the plan.

    Formulation: explode the distinct token hashes to rows, then ONE
    hash aggregation per document computes 22 SWAR accumulators —
    ``sum((h >> k) & _SWAR_MASK)`` packs the per-bit vote counts for
    bits ``k``, ``k+21`` and ``k+42`` into three 21-bit lanes of one
    BIGINT — and the 64 majority bits are re-assembled in a single
    projection (bit 63's count lives in accumulator 21's top lane).
    Replaces the Arrow ``pandas_udf`` kernel, whose serialization
    round trip has a fixed ~0.2 s cost per query at bench scale and
    adds a Python dependency to an otherwise-codegen plan; outputs are
    bit-identical (equivalence-tested), and the 22-accumulator layout
    is bit-identical to the r3 32x2-lane one at 30%% fewer
    aggregation-buffer updates per row (0.43 s -> 0.35 s at sf0.1).

    An UNDER-SPLIT input is hash-repartitioned BY id first so the
    tokenize+SWAR map stage uses the cores and the aggregation reuses
    that one exchange (text crosses the wire once).  A well-split
    input (the 100 TB case) takes NO pre-exchange at all: explode is
    narrow, so each document's token rows stay in its input partition
    and the map-side partial aggregation collapses them to ONE
    23-accumulator row per document before the shuffle — measured 3x
    faster than the unconditional keyed repartition at the 10x
    replica (0.45 s vs 1.40 s).  The threshold is stricter than
    ``fan_out``'s 2x because the avoided exchange here carries the
    full text: the pre-exchange fires only when it would QUADRUPLE
    the map parallelism (measured: at a 3.7x gain the exchange still
    lost 3x; at 32x — the single-row-group bench file — it wins
    outright).  Documents with more than 65535 DISTINCT tokens emit no
    signature (and are excluded from banding) — chunk such documents
    upstream if they matter, or use the kernel path.  The cap is
    enforced BEFORE the explode (r6; previously a post-aggregation
    NULL-out), which both avoids hashing/aggregating rows destined to
    be dropped and is what keeps the 21-bit lanes overflow-safe under
    ANSI mode (see ``_SWAR_MASK``).
    """
    spark = df.sparkSession
    # map-stage parallelism targets cores (the md5/tokenize work is
    # CPU-bound); reduce-side stages keep the session's data-sized
    # shuffle partitioning
    p = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    if df.rdd.getNumPartitions() * 4 <= p:
        df = df.repartition(p, "doc_id")
    # materialized so the size cap and the explode share one
    # array_distinct(tokens()) evaluation
    arr = (
        df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(tokens("text")).alias("__arr"),
        )
        .filter(F.size("__arr") <= 0xFFFF)
    )
    hashed = arr.select("id", F.explode("__arr").alias("tok")).select(
        "id", _md5_60(F.col("tok")).alias("h")
    )
    aggs = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), k).bitwiseAND(F.lit(_SWAR_MASK))
            ).alias(f"acc{k}")
            for k in range(22)
        ],
    )
    terms = []
    for b in range(64):
        # bits b = k + 21*j for k in 0..20, j in 0..2 cover 0..62;
        # bit 63 rides accumulator 21's lane 2 (21 + 42 = 63)
        k, j = (b % 21, b // 21) if b < 63 else (21, 2)
        cnt = F.shiftrightunsigned(F.col(f"acc{k}"), 21 * j).bitwiseAND(
            F.lit(_SWAR_LANE)
        )
        terms.append(
            F.when(
                cnt * 2 > F.col("n"),
                F.lit(2**b if b < 63 else -(2**63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    return aggs.select("id", sig.alias("sig"))


#: The simhash banding ladder: (chunk bit-widths over the 64-bit
#: signature, combination size m).  Band keys are every m-combination
#: of chunks, so a pair at hamming d <= len(widths) - m is GUARANTEED
#: a shared band (pigeonhole).  Tier 0 is the classic 4x16 single-chunk
#: banding (guarantee d <= 3, 16-bit keys, 4 band rows/doc); the growth
#: tiers guarantee d <= 4 — the operator's certified operating point —
#: at 20+ / 32-bit keys and C(6,2) = 15 / C(8,4) = 70 band rows/doc.
_SIMHASH_CHUNK_LADDER = (
    ((16, 16, 16, 16), 1),
    ((11, 11, 11, 11, 10, 10), 2),
    ((8, 8, 8, 8, 8, 8, 8, 8), 4),
)


def derive_simhash_chunks(corpus_count: int) -> tuple[tuple[int, ...], int]:
    """Derive the simhash banding scheme from corpus size (r11,
    VERDICT r10 #3).

    The fixed 4x16-bit scheme's expected bucket size is n / 2^16 —
    ~153 at 10M unique docs, i.e. the ``max_bucket=256`` cap
    starts truncating EVERY bucket just past that point and recall
    collapses (measured at the duplicate-choked 50x replica: capped
    recall 0.30, SCALING.md r10).  Rule: a tier stays selected while
    the EXPECTED bucket under its smallest band key is at most half
    the cap — tier 0 (4x16, keys 2^16) up to ~8.4M docs at the
    default cap, tier 1 (6 chunks 11/11/11/11/10/10, all C(6,2) = 15
    pair-combinations, keys >= 2^20) up to ~134M, then tier 2 (8x8-bit
    chunks, all C(8,4) = 70 4-combinations, 32-bit keys: expected
    bucket 0.23 at 10^9 docs).  The growth tiers band m chunks per
    key, so the pigeonhole guarantee is d <= c - m = 4 — one STRONGER
    than tier 0's d <= 3, and exactly the operator's hamming <= 4
    band; recall above the guarantee is
    probabilistic in every tier (documented below).  The published
    shape for this is the block-permutation scheme of Manku et al.,
    "Detecting Near-Duplicates for Web Crawling" (WWW'07);
    combination banding is its join-friendly equivalent.

    Cost honesty: tiers 1/2 emit 15/70 band rows per doc vs 4 — the
    combinatorial price every simhash multi-block scheme pays, still
    linear in n, against which the 16-bit scheme is not slower but
    DEAD at corpus scale (every bucket capped).  The 256 cap still
    applies per (combo, key) as the adversarial-skew backstop.
    """
    for widths, m in _SIMHASH_CHUNK_LADDER:
        min_key_bits = sum(sorted(widths)[:m])
        if corpus_count <= (256 // 2) << min_key_bits:
            return widths, m
    return _SIMHASH_CHUNK_LADDER[-1]


def simhash_neardup_pairs(
    df: DataFrame,
) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 4): chunk banding ->
    candidate join -> exact hamming filter.  The banding scheme
    derives from corpus size via :func:`derive_simhash_chunks` (r11):
    4x16-bit single-chunk bands below ~8M docs (bit-identical to the
    r10 fixed scheme, including band ordering), then C(6,2) / C(8,4)
    combination bands with >= 20 / 32-bit keys; the corpus size is
    one eager ``count()`` at construction.

    Recall bound (pigeonhole): with chunk widths ``w_1..w_c`` banded
    on all m-combinations, two signatures at hamming distance
    d <= c - m ALWAYS share an untouched combination and are
    guaranteed candidates (tier 0: d <= 3; the growth tiers: d <= 4).
    For c - m < d <= 4 a pair is found unless its differing
    bits spread across too many chunks — a known, documented recall
    gap of chunk banding; the standard fix when it matters is more
    chunks / larger m at higher candidate volume.

    Chunk buckets with more than 256 members drop before the
    self-join: a chunk value shared by hundreds of documents
    is uninformative for near-dup detection yet contributes O(m^2)
    candidate pairs — the unbounded version is exactly the query that
    falls over at corpus scale (one hot bucket = one quadratic
    executor-killing partition; measured at the 50x replica the
    uncapped run DIES at ~98 s where the cap finishes in 2.8 s —
    SCALING.md r10).  Pairs whose every common chunk is hot are the
    accepted recall cost; the measured discipline is: exact-dedup
    FIRST (duplicate-choked buckets cost ALL the non-identical
    recall).

    Tokens hash with the md5-prefix hash, which is reproducible in
    ANSI SQL, so the whole pipeline (signature -> banding -> hamming)
    has an exact DuckDB twin.

    Signatures come from :func:`simhash_sigs` (all-JVM SWAR
    aggregation; its one exchange carries either the text — severely
    under-split inputs — or the per-document accumulator partials,
    whichever is cheaper, see its docstring); banding and pair
    generation add one exchange each, so the whole operator is three
    shuffles and zero Python stages.
    """
    # eager plan execution at CONSTRUCTION time (ADVICE r11): the
    # upstream plan runs here for the count and again for signatures —
    # persist an expensive lazy upstream first
    widths, m = derive_simhash_chunks(df.count())
    sig_df = simhash_sigs(df)
    offsets = [sum(widths[:i]) for i in range(len(widths))]

    def _chunk(i: int):
        return F.shiftrightunsigned(F.col("sig"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    # every m-combination of chunks is one band; an m=1 combo list is
    # exactly the classic per-chunk banding (same combo order, same
    # key values — bit-identical band table to the fixed r10 scheme).
    # m>1 keys concatenate the member chunks into ONE long (disjoint
    # bit ranges, <= 33 key bits at the auto tiers): the narrow
    # (id, combo, key) band discipline every banded operator here uses
    import itertools as _it

    combos = list(_it.combinations(range(len(widths)), m))
    bands = []
    for ci, combo in enumerate(combos):
        key = _chunk(combo[0])
        for idx in combo[1:]:
            key = F.shiftleft(key, widths[idx]).bitwiseOR(_chunk(idx))
        bands.append(
            F.struct(F.lit(ci).alias("chunk"), key.cast("long").alias("ck"))
        )
    band_arr = F.array(*bands)
    banded = sig_df.select("id", "sig", F.explode(band_arr).alias("cc")).select(
        "id", "sig", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck")
    )
    # bucket-local pair generation (one shuffle, kernel runs once,
    # nothing persisted — see _bucket_pairs); the hamming filter runs
    # BEFORE the pair-dedup shuffle so the distinct only carries pairs
    # that already passed
    pairs = _bucket_pairs(banded, ["chunk", "ck"], 256)
    return (
        pairs.select(
            F.least(F.col("p.a.id"), F.col("p.b.id")).alias("id_a"),
            F.greatest(F.col("p.a.id"), F.col("p.b.id")).alias("id_b"),
            F.bit_count(F.col("p.a.sig").bitwiseXOR(F.col("p.b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 4)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def minhash_verified_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 end-to-end: MinHash-banded candidate generation with a
    loosened estimate gate (0.3), then EXACT shingle-set Jaccard
    verification at the real threshold (0.5) — the standard
    candidates-then-verify shape.

    The verify runs in the SAME space the estimator targets (the word
    3-gram sets :func:`minhash_banded` hashes): a MinHash signature
    estimates shingle Jaccard, so verifying token 1-gram sets would
    gate candidates against a similarity the estimator never
    measured.  The exact
    Jaccard only ever runs on the candidate pairs (linear in
    candidates, joined back to shingle sets by id — two key shuffles);
    the estimate gate sits 0.2 below the verify threshold so estimator
    variance (~1/sqrt(32 hashes)) does not drop true pairs.

    Exact-duplicate pairs (``same_fp`` from the candidate stage) skip
    the shingle join entirely: identical texts have identical distinct
    shingle sets, so their exact Jaccard is the literal 1.0 — the
    same value the array path computes, without moving two shingle
    arrays per pair.  On duplicate-heavy corpora the same-fp pairs are
    nearly ALL candidate pairs (every m-copy clique contributes
    O(m^2) of them), so the verify stage's array traffic drops to the
    genuinely-fuzzy remainder.
    """
    cand = minhash_neardup_pairs(
        df, text_col, id_col, jaccard_threshold=0.3, with_same_fp=True,
    ).select("id_a", "id_b", "same_fp")
    # SINGLE-PASS verify (r6): explode each candidate pair to its two
    # endpoint ids, join the shingle table ONCE, and regroup the pair
    # to compute the exact Jaccard from the two collected arrays
    # (intersection/union are symmetric, so collect_list order is
    # irrelevant).  The previous shape — exact/fuzzy branch split over
    # a PERSISTED candidate table plus a PERSISTED shingle table
    # joined once per side — had two consumers racing each cold cache
    # inside one job, so the signature pipeline and the shingle build
    # each computed ~twice per execution (block-level first-writer-
    # wins, no cross-stage wait); one consumer per subplan needs no
    # cache at all and drops the verify from two key joins to one
    # (measured 1.88 s -> 1.24 s at sf0.1, identical output).
    # Same-fp pairs keep the literal-1.0 shortcut STRUCTURALLY, not
    # just in the CASE: they explode to a single NULL endpoint, which
    # the left join cannot match, so no shingle array is ever attached
    # to an exact-duplicate pair — on the 50x replica's 50-copy
    # cliques (~6.1M same-fp pairs) routing them through the array
    # join instead measured 80 s vs 20 s for the whole leakage audit.
    # coalesce to array(): a NULL-text endpoint would otherwise carry a
    # NULL tok that collect_list DROPS, leaving a 1-element list whose
    # element_at(.., 2) is an out-of-bounds ERROR under ANSI mode; an
    # empty shingle set instead degrades the pair to jaccard 0/NaN and
    # the threshold filter drops it (try_element_at below is the same
    # guard for the structurally-empty same_fp groups)
    # r13: the shingle build (zip_with chain over every token) is the
    # verify side's CPU stage and runs at SCAN parallelism — on the
    # single-split bench file it serialized ~0.9 s per execution inside
    # the toks broadcast build.  Same guarded input-sized spread as the
    # signature kernel; no-op on a well-split input.
    from ..sources import fan_out

    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.coalesce(
            F.array_distinct(word_shingles(text_col)),
            F.array().cast("array<string>"),
        ).alias("tok"),
    )
    sides = cand.select(
        "id_a", "id_b", "same_fp",
        F.explode(
            F.when(
                # a single NULL endpoint of the id's own type (ids may
                # be strings): F.when with no otherwise is NULL
                F.col("same_fp"),
                F.array(F.when(F.lit(False), F.col("id_a"))),
            ).otherwise(F.array(F.col("id_a"), F.col("id_b")))
        ).alias("id"),
    )
    grouped = (
        sides.join(toks, "id", "left")
        .groupBy("id_a", "id_b", "same_fp")
        .agg(F.collect_list("tok").alias("__tt"))
    )
    inter = F.size(F.array_intersect(F.try_element_at("__tt", F.lit(1)),
                                     F.try_element_at("__tt", F.lit(2))))
    union = F.size(F.array_union(F.try_element_at("__tt", F.lit(1)),
                                 F.try_element_at("__tt", F.lit(2))))
    return (
        grouped.select(
            "id_a", "id_b",
            F.when(F.col("same_fp"), F.lit(1.0))
            .otherwise(inter.cast("double") / union.cast("double"))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def jaccard_pairs(
    df: DataFrame,
) -> DataFrame:
    """Token-set Jaccard similarity over all pairs, so callers bound
    the input (the declared query takes ids below 30); at scale
    candidates come from MinHash LSH instead of a cross join."""
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(tokens("text")).alias("tok"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    union = F.size(F.array_union(F.col("a.tok"), F.col("b.tok")))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def neardup_clusters(
    pairs: DataFrame,
) -> DataFrame:
    """Connected components over the near-dup pair graph — the step
    that turns pairwise detections into actionable duplicate CLUSTERS
    (a fuzzy-dedup pipeline keeps one document per component, so it
    needs doc -> component, not pairs).

    Hash-min label propagation: every node starts with its own id as
    label; each round takes the min of its own and its neighbors'
    labels; at fixpoint the label is the component's min id — a
    deterministic, order-independent cluster id.  Rounds needed =
    graph diameter, and near-dup components are dense (near-cliques:
    mutual shingle overlap), so 2-3 rounds is typical; the 25-round
    cap is a guard, not a budget.  For adversarial long-chain graphs
    switch to pointer-jumping (large-star/small-star), which is
    O(log n) rounds at higher per-round cost.

    Scale shape per round: one edges->labels hash join + one groupBy
    min — both shuffle on node id, and AQE coalesces as components
    collapse.  The per-round convergence count is a scalar action, and
    ``localCheckpoint`` truncates the iterative lineage so round k's
    plan does not replay rounds 1..k-1.  Output: ``(id, cluster_id,
    n_members)`` for every node in the pair graph (singletons never
    enter ``pairs`` and are their own implicit cluster).
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(25):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src").agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"],
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_min") < F.col("label"), F.lit(False))
                 ).alias("__changed"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter("__changed").limit(1).count()
        labels = stepped.drop("__changed")
        if changed == 0:
            break
    edges.unpersist()
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labels.join(sizes, "label")
        .select("id", F.col("label").alias("cluster_id"), "n_members")
    )


def verified_neardup_clusters(df: DataFrame) -> DataFrame:
    """X2 cluster terminal, degenerate-graph-safe: near-dup CLUSTERS
    over a corpus, with every EXACT-duplicate group pre-collapsed to
    one representative node before label propagation.

    Why: a group of m byte-identical documents is an m-clique of
    same-fp pairs — O(m^2) edges that teach label propagation nothing
    (the component outcome is decided by the group's min id alone).
    On duplicate-heavy inputs the cliques dominate the edge table and
    concentrate on few labels; measured at the 50x replica (every doc
    a 50-copy clique) the uncollapsed composition spent ~10 minutes in
    four straggler reducers, while the collapsed graph is 2500x
    smaller on pure cliques and propagates in seconds.

    Exactly output-equivalent to ``neardup_clusters`` over the full
    pair graph of :func:`minhash_verified_neardup_pairs`: MinHash
    signatures, band buckets, estimates, and exact Jaccard all depend
    only on the TEXT, so a cross-group pair exists between any two
    copies iff it exists between the group representatives, and the
    same-fp clique edges contribute exactly "the group is connected".
    Components therefore expand 1:1: ``cluster_id`` is the component
    min over representative ids, which equals the min over ALL member
    ids because each representative is its group's min; ``n_members``
    is the sum of group sizes over the component's representatives.
    Exact-dup groups (size >= 2) whose representative has no fuzzy
    edge are their own clusters; singleton texts outside the pair
    graph stay implicit keeps, as in ``neardup_clusters``.

    Plan (r14 shape): one (fp, id) window (the fp is a map-side md5 —
    the exchange never carries text — and min/count over the fp
    partition yield rep + group size in the same pass), one semi join
    to keep representative documents, the banded pair pipeline over
    DISTINCT texts only, label propagation on the collapsed graph,
    then ONE narrow join to expand members back (per-rep cluster/size
    info unions on the metadata-sized side first).  Every shuffle
    carries (fp/id, counts) rows; the anti-join side of the expansion
    is |distinct-texts|-sized.
    """
    memb, comp = _collapsed_graph(df, "text", "doc_id")
    groups = memb.filter(F.col("id") == F.col("__rep")).select("__rep", "__n")
    sizes = (
        comp.join(groups, "__rep")
        .groupBy("cluster_id")
        .agg(F.sum("__n").alias("n_members"))
    )
    # r14 (optimization, guide §2.4): expand members back through ONE
    # corpus-sized join instead of two — the per-REP info (cluster id +
    # size for graph reps, self-cluster + group size for lone exact-dup
    # groups) unions first on the metadata-sized side, then members
    # attach once.  The pre-r14 shape joined `member` separately for the
    # graph and lone branches and unioned the two corpus-sized results.
    lone = (
        groups.filter(F.col("__n") >= 2)
        .join(comp.select("__rep"), "__rep", "left_anti")
        .select(
            "__rep",
            F.col("__rep").alias("cluster_id"),
            F.col("__n").alias("n_members"),
        )
    )
    rep_info = comp.join(sizes, "cluster_id").select(
        "__rep", "cluster_id", "n_members"
    ).unionByName(lone)
    out = memb.join(rep_info, "__rep").select("id", "cluster_id", "n_members")
    return _attach_cached(out, [memb])


def _collapsed_graph(
    df: DataFrame,
    text_col: str,
    id_col: str,
):
    """Shared build for the cluster-family terminals: exact-dup
    collapse, banded verified pairs over the representatives, hash-min
    label propagation.  Returns ``(memb, comp)``:

    - ``memb`` — PERSISTED ``(id, __rep, __n)``, one row per input
      document: its exact-dup group representative (min id over equal
      texts) and the group size.  r14 (guide §2.3/§2.4): computed with
      ONE window over the text fingerprint instead of the pre-r14
      groupBy + join-back — one corpus scan and one keyed exchange
      where the old shape paid two scans, two exchanges and a
      corpus-sized sort-merge join; group reps are
      ``filter(id == __rep)`` over the same cached frame.  Callers
      attach ``memb`` as a cached dep (release via
      :func:`release_cached`).
    - ``comp`` — ``(__rep, cluster_id)`` for representatives in the
      verified pair graph (label propagation runs its eager jobs at
      construction, as before).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("__fp")
    # NULL text has no fingerprint: key it by its own id (a ':' never
    # occurs in an md5 hex digest) so every NULL doc stays a singleton,
    # as the module's NULL contract requires, instead of one exact-dup
    # group of all NULL docs
    fp = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    memb = (
        df.select(fp.alias("__fp"), F.col(id_col).alias("id"))
        .select(
            "id",
            F.min("id").over(w).alias("__rep"),
            F.count(F.lit(1)).over(w).alias("__n"),
        )
        .persist()
    )
    reps = df.join(
        memb.filter(F.col("id") == F.col("__rep"))
        .select(F.col("id").alias(id_col)),
        id_col, "left_semi",
    )
    pairs = minhash_verified_neardup_pairs(reps, text_col, id_col)
    comp = neardup_clusters(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("__rep"), "cluster_id"
    )
    return memb, comp


def neardup_losers(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The drop SET of :func:`drop_near_duplicates`: every non-keeper
    member of each near-dup cluster, as a single ``(id_col)`` frame.

    r14 (guide §2.4): terminals that only need WHO to drop never read
    ``n_members``, so the cluster-size aggregation and its joins are
    dead weight in their plans (Catalyst cannot prune inner joins).
    A member's keep/drop bit needs one value — its effective cluster
    id, ``coalesce(component min over its rep, its rep)`` — computed
    by ONE left join of the member table against the component
    labels: members of graph clusters compare against the component
    min; members of lone exact-dup groups against their group rep;
    singletons are their own rep and never match the filter.  Output
    is row-identical to
    ``verified_neardup_clusters(...).filter(id != cluster_id)``.
    """
    memb, comp = _collapsed_graph(df, text_col, id_col)
    losers = (
        memb.join(comp, "__rep", "left")
        .filter(
            F.col("id") != F.coalesce(F.col("cluster_id"), F.col("__rep"))
        )
        .select(F.col("id").alias(id_col))
    )
    return _attach_cached(losers, [memb])


def neardup_cluster_keys(df: DataFrame) -> DataFrame:
    """Every document's effective near-dup cluster key, one row per
    input doc: ``(id_col, __cluster_key)`` where the key is the
    verified-cluster id for cluster members and the document's own id
    otherwise — exactly the ``coalesce(cluster_id, id)`` that
    :func:`sampling.leakage_safe_split` hash-buckets on.

    r14 (guide §2.4): same argument as :func:`neardup_losers` — the
    split assigner never reads ``n_members``, so this path skips the
    cluster-size aggregation and expands through one left join
    (members of lone exact-dup groups key on their group rep, which
    IS the cluster id the full table would report; singletons key on
    themselves, the same value the coalesce fallback would produce).
    """
    memb, comp = _collapsed_graph(df, "text", "doc_id")
    keys = memb.join(comp, "__rep", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("cluster_id"), F.col("__rep")).alias("__cluster_key"),
    )
    return _attach_cached(keys, [memb])


def drop_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-curation terminal for X2: remove every non-keeper member
    of each near-dup cluster (keeper = the component's min id), so
    mutual near-dups A~B~C keep exactly one document even when the
    A~C pair itself was below threshold.  Pipeline: exact-dup collapse
    -> verified MinHash pairs over distinct texts -> connected
    components -> expand -> anti-join the losers (see
    :func:`verified_neardup_clusters` for why the collapse is load-
    bearing on duplicate-heavy corpora).

    The clusters' persisted build frames ride along as
    ``_cached_deps`` on the RETURNED frame (r10 review fix: they were
    attached to the intermediate clusters frame and dropped here, so
    no caller could ever free them — a per-micro-batch leak in the
    streaming ingest tier).  Long-lived callers release via
    :func:`release_cached` once the output has executed.

    r14: the drop set comes from :func:`neardup_losers` (row-identical
    to filtering the full cluster table) so the plan never computes
    the cluster-size aggregation this terminal ignores."""
    losers = neardup_losers(df, text_col, id_col)
    return _attach_cached(
        df.join(losers, id_col, "left_anti"),
        getattr(losers, "_cached_deps", []),
    )


def _mark_duplicated(grams: DataFrame) -> DataFrame:
    """Mark each gram/passage row with ``__dup`` = "its fingerprint
    occurs more than once anywhere in the corpus".

    One ``COUNT() OVER (PARTITION BY __fp)`` window — the
    single-consumer shape :func:`passage_repetition` measured fastest
    (0.63 s -> 0.32 s at sf0.1 vs agg+join).  Known limit: a
    corpus-universal boilerplate gram (a license header in 10% of all
    documents) makes one window partition straggler-sized, and AQE
    cannot split a window partition the way it splits a skewed join.
    """
    from pyspark.sql import Window

    return grams.withColumn(
        "__dup", F.count(F.lit(1)).over(Window.partitionBy("__fp")) > 1
    )


def passage_repetition(
    df: DataFrame,
) -> DataFrame:
    """Inter-document PASSAGE-level duplication profile — the
    boilerplate/near-template signal MassiveText- and
    RefinedWeb-style curation filters on (headers, navigation
    chrome, license blurbs shared verbatim across documents that
    whole-document dedup cannot see).

    Each document's token stream is cut into non-overlapping
    8-token passages (stride == 8; the ragged tail is
    dropped so both engines see identical chunk sets), every passage
    is fingerprinted, and a global occurrence count per fingerprint
    marks which passages appear more than once ANYWHERE in the
    corpus.  Output, one row per document with at least one full
    chunk: ``(id, n_chunks, dup_chunks)``; a downstream gate drops or
    trims documents whose ``dup_chunks / n_chunks`` exceeds a
    threshold.

    Scale shape: passages are built and hashed map-side, so the
    occurrence-count shuffle carries (fp, id) pairs — never text —
    exactly like :func:`exact_dedup`'s fingerprint path.  The
    occurrence count is a COUNT window over the fp partition (r6),
    not an aggregate joined back: the fingerprint stream then has ONE
    consumer, where the join shape recomputed the whole
    tokenize+chunk+hash explode for each join side (no persist, two
    cold consumers — measured 0.63 s -> 0.32 s at sf0.1, identical
    output); the final per-document rollup is one more narrow shuffle
    on the id.  A pathologically hot fingerprint (one passage shared
    by a large fraction of all documents) skews the window partition
    where the old agg's map-side combine would not (see
    :func:`_mark_duplicated`).  Passages hash with :func:`_md5_60`,
    which keeps the exact DuckDB twin.
    """
    # r13: same under-split spread as _sliding_grams — the chunk-hash
    # build is the CPU stage; guarded, so a well-split input skips it
    from ..sources import fan_out

    df = fan_out(df)
    t = tokens("text")
    base = (
        df.select(F.col("doc_id"), t.alias("__t"))
        .withColumn("__nc", (F.size("__t") / 8).cast("int"))
        .filter(F.col("__nc") >= 1)
    )
    fps = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("__nc") - 1),
                lambda i: _md5_60(
                    F.concat_ws(" ", F.slice("__t", i * 8 + 1, 8))
                ),
            )
        ).alias("__fp"),
    )
    return (
        _mark_duplicated(fps)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__dup"), 1).otherwise(0))
            .cast("long").alias("dup_chunks"),
        )
    )


def substring_dup_spans(
    df: DataFrame,
) -> DataFrame:
    """Exact duplicated-SUBSTRING spans — the ExactSubstr dedup class
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22, which builds a corpus suffix array) re-expressed
    Spark-first as sliding-gram banding: every 8-token
    window of every document is fingerprinted; a window whose
    fingerprint occurs more than once ANYWHERE in the corpus
    (cross-document or within one) marks its token range duplicated;
    per document the marked ranges merge (overlapping or adjacent)
    into maximal spans.

    Output: ``(id, span_start, span_end, n_grams)``, one row per
    merged span, token positions 1-based inclusive.  This is the
    REPORT side of the report/act split every gate here follows:
    trimming is a downstream slice of the token array around the
    spans, and dropping is a threshold on
    ``sum(span lengths) / doc length``.

    vs :func:`passage_repetition`: stride-8 passages only see
    duplication ALIGNED to chunk boundaries — a duplicated paragraph
    starting mid-chunk contributes nothing — while the sliding window
    here detects duplicated regions of >= 8 tokens at ANY offset (the
    ExactSubstr property), at ~8x the gram rows.
    Both are linear in corpus tokens; this one is the thorough pass,
    the passage profile is the cheap screen.

    Scale shape: gram fingerprints build map-side from each row's
    token array (one HOF ``transform`` + ``posexplode``; the text
    never re-tokenizes per position), so the one data-sized shuffle
    carries ``(fp, id, start)`` rows — never text.  Occurrence
    marking is the same single-consumer COUNT window as
    :func:`passage_repetition` (same skew limit, see
    :func:`_mark_duplicated`); the span merge is a per-document prefix window (partition by id,
    order by start — classic gaps-and-islands), linear and
    skew-bounded by document length.  Grams hash with
    :func:`_md5_60`, which keeps the exact DuckDB twin.
    """
    hits = (
        _mark_duplicated(_sliding_grams(df))
        .filter(F.col("__dup"))
        .select("id", "start", (F.col("start") + 7).alias("end"))
    )
    return _merge_islands(hits)


def _sliding_grams(df: DataFrame) -> DataFrame:
    """Map-side sliding 8-token gram fingerprints: one row per
    (doc, window start), schema ``(id, start, __fp)``, start 1-based.
    One HOF ``transform`` + ``posexplode`` per row — the text never
    re-tokenizes per position, and the downstream shuffle carries
    fingerprints, never text (the exact_dedup discipline)."""
    L = 8
    # r13 (optimization): the per-position hash build is the CPU-heavy
    # stage of the whole operator (md5 over an L-token slice at every
    # position), and an under-split source (single-row-group parquet,
    # gzip text) serializes it on one core — measured at sf0.1 the
    # 2-task gram stage held ~1.9 s of the query's ~2.3 s wall.  Spread
    # to the session's input-sized shuffle layout behind the standard
    # split-count guard (in-session width A/B at bench SF: 4/8/16-way
    # ~0.50-0.53 s vs 32-way 0.56 s; a well-split 100 TB input skips
    # the exchange entirely — sources.fan_out rule).
    from ..sources import fan_out

    df = fan_out(df)
    base = df.select(F.col("doc_id").alias("id"), tokens("text").alias("__t")).filter(
        F.size("__t") >= L
    )
    return base.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - L + 1),
                lambda i: _md5_60(F.concat_ws(" ", F.slice("__t", i, L))),
            )
        ).alias("__pos0", "__fp"),
    ).select("id", (F.col("__pos0") + 1).alias("start"), "__fp")


def _merge_islands(hits: DataFrame) -> DataFrame:
    """Merge marked token ranges ``(id, start, end)`` into maximal
    spans — classic gaps-and-islands over a per-document prefix
    window (partition by id, order by start), linear and skew-bounded
    by document length.  Output: ``(id, span_start, span_end,
    n_grams)``."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("start")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "__new",
        F.when(prev_max.isNull() | (F.col("start") > prev_max + 1), 1)
        .otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(w))
    return (
        islands.groupBy("id", "__isl")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select("id", "span_start", "span_end", "n_grams")
    )

