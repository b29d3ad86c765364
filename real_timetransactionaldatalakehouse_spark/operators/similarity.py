"""Embedding similarity search (SURVEY.md section 2 X3, north-star
EXT): brute-force cosine top-k as the exact baseline, plus a
random-hyperplane LSH bucketed variant as the scale path.

Scale design:
- brute force: broadcast the (small) query set against the candidate
  table — a map-side nested loop per partition, then per-query top-k
  via window over (query partition).  Exact; cost O(|Q| x |C|), right
  whenever |Q| is small or as the re-rank stage.
- LSH: deterministic sign-random-projection buckets computed per row
  (no shuffle), equi-join on bucket — candidates shrink by ~2^planes;
  top-k within candidates.  The approximate path for |Q| ~ |C| ~ 10^9.
- dot products stay in DOUBLE via zip_with + aggregate fold, which is
  a sequential left-to-right sum — bit-reproducible across engines
  (the DuckDB oracle folds the same way).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double fold of the elementwise product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    )


def valid_embeddings(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """The cosine input contract as a reusable FILTER: keep rows whose
    vector is non-NULL, (optionally) exactly ``dim`` wide, all-finite,
    and of nonzero norm.  Every cosine consumer in this module states
    "embeddings filtered/validated upstream" — this is that upstream
    step, so pipelines ingesting real-world embedding tables (dead
    docs, padding rows, NaN-poisoned encoder output — all common at
    corpus scale) have a named, tested gate instead of re-deriving the
    predicate per call site.

    Wholly codegen (exists + aggregate over the array; no Python), one
    narrow filter — prune-friendly wherever it lands in the plan.  A
    zero-norm check via ``exists(x != 0)`` rather than computing the
    norm: no sqrt, early-exits on the first nonzero element, and
    avoids the (x*x) overflow corner entirely.  The LSH operators band
    64-dim vectors, so ``dim=64`` is their width gate."""
    v = F.col(vec_col)
    ok = v.isNotNull()
    if dim is not None:
        ok = ok & (F.size(v) == dim)
    finite = ~F.exists(
        v, lambda x: x.cast("double").isNull() | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == float("inf"))
    )
    nonzero = F.exists(v, lambda x: x.cast("double") != 0.0)
    return df.filter(ok & finite & nonzero)


def knn_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-match excluded).

    Broadcast the query side: the candidate table is scanned once,
    partition-local, no shuffle of candidates; the only shuffle is the
    per-query top-k window (|Q| x |C| -> |Q| x k after partial
    TakeOrdered in each partition... the window partitions by query).

    ``validate=True`` (r11, VERDICT r10 #6) applies
    :func:`valid_embeddings` to BOTH sides at the gate, so a
    NaN-poisoned or zero-norm table fails into a clean filtered set
    here instead of a mid-job ANSI DIVIDE_BY_ZERO.  Opt-in rather than
    default because the gate silently DROPS offending rows — for a
    pipeline that already validated upstream that's a redundant pass,
    and for one that didn't, dropping must be an explicit decision
    (the emit-nothing discipline every gate in this repo follows).
    """
    if validate:
        queries = valid_embeddings(queries, vec_col)
        candidates = valid_embeddings(candidates, vec_col)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("q_norm"),
        )
    )
    # guarded fan before the per-pair fold work (r6): a single-split
    # candidate scan otherwise streams all |Q| x |C| interpreted dots
    # through one task; no-op on a well-split table
    from ..sources import fan_out

    candidates = fan_out(candidates)
    # norms are computed ONCE per row on each side, not once per pair:
    # cosine(a,b) folds three 64-element aggregates; factoring the two
    # norms out of the |Q| x |C| product leaves one dot fold per pair.
    # score = dot/(norm_a*norm_b) is the same expression tree as
    # dot/(norm*norm) fold, so values stay bit-identical to the oracle.
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """Collect a kNN lookup's query side to the driver, sorted by id.

    The query side of a top-k lookup is metadata-sized by definition —
    it is a serving batch, not a table (the |Q| ~ |C| regime is the
    all-pairs problem, handled by the LSH/IVF *pair* operators).  Like
    the IVF centroid matrix, it is planner state: collecting it lets
    the data plane run as ONE closure-shipped Arrow kernel over the
    candidate stream instead of a per-pair interpreted fold, and at
    10^9 candidates nothing about this collect grows."""
    import numpy as np

    rows = sorted(queries.select(id_col, vec_col).collect(), key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype="int64")
    if not rows:  # keep Q 2-D so downstream `nq, dim = Q.shape` holds
        return ids, np.zeros((0, 1), dtype="float64")
    Q = np.array([list(r[1]) for r in rows], dtype="float64")
    return ids, Q


def _empty_topk(df: DataFrame) -> DataFrame:
    """Empty result with the kNN output schema — the fused serving
    kernels short-circuit to this when the collected query batch is
    empty (matching :func:`knn_bruteforce`, whose join path yields no
    rows naturally)."""
    return df.sparkSession.createDataFrame(
        [], "query_id long, neighbor_id long, rank int, score double"
    )


def _seq_norms(M):
    """Row norms accumulated column-by-column — the same left-to-right
    addition order as the ``norm()`` fold and DuckDB's ``list_reduce``,
    so values are bit-identical to the declarative path."""
    import numpy as np

    acc = np.zeros(M.shape[0], dtype="float64")
    for d in range(M.shape[1]):
        acc = acc + M[:, d] * M[:, d]
    return np.sqrt(acc)


def knn_topk_smallq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact brute-force top-k, serving-shaped: the metadata-sized
    query matrix rides in an Arrow kernel closure; each candidate
    partition emits only its LOCAL top-k per query, so the single
    shuffle carries |partitions| x |Q| x k rows — never the |Q| x |C|
    product (the same partial-TakeOrdered-then-merge shape Spark uses
    for global top-k).  Scores accumulate left-to-right over the
    dimension, bit-identical to :func:`knn_bruteforce` / the DuckDB
    oracle's sequential ``list_reduce`` fold.

    This is X3's exact path (reference north-star EXT); at 10^9
    candidates the kernel streams once over the table with no Python
    round trip on the pair space.  For |Q| at table scale use
    :func:`knn_lsh` / :func:`knn_ivf`.
    """
    q_ids, Q = _query_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        return _empty_topk(candidates)
    pairs = candidates.select("vec_id", "embedding").mapInPandas(
        _fused_lookup_kernel(q_ids, Q, k, None, "vec_id", "embedding"),
        schema="query_id long, neighbor_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _fused_lookup_kernel(q_ids, Q, k: int, match_fn, id_col: str, vec_col: str):
    """One-pass ANN serving lookup: for each candidate batch, decide
    probe membership against the closure-shipped query structures
    (``match_fn(V) -> bool (n, nq)``; None = exact brute force), score
    with the left-to-right fold (oracle-exact order), and emit the
    batch-local top-k per query over matched pairs.  The candidate
    table is scanned once; no pair space, no vector shuffle — the
    downstream carries |partitions| x |Q| x k narrow rows: the
    index-free one-shot."""
    import numpy as np

    q_norm = _seq_norms(Q)
    nq, dim = Q.shape

    def lookup(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            nid = pdf[id_col].to_numpy().astype("int64")
            match = (
                np.ones((V.shape[0], nq), dtype=bool)
                if match_fn is None
                else match_fn(V)
            )
            c_norm = _seq_norms(V)
            S = np.zeros((V.shape[0], nq), dtype="float64")
            for d in range(dim):  # left-to-right: oracle-exact fold order
                S = S + V[:, d, None] * Q[None, :, d]
            S = S / (q_norm[None, :] * c_norm[:, None])
            out_q, out_n, out_s = [], [], []
            for j in range(nq):
                keep = np.nonzero(match[:, j] & (nid != q_ids[j]))[0]
                if keep.size == 0:
                    continue
                order = np.lexsort((nid[keep], -S[keep, j]))[:k]
                sel = keep[order]
                out_q.append(np.full(sel.size, q_ids[j], dtype="int64"))
                out_n.append(nid[sel])
                out_s.append(S[sel, j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "score": np.concatenate(out_s),
                    }
                )

    return lookup


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1]:
    a splitmix-style integer hash of (plane, d) — data-independent and
    reproducible on any engine, no RNG state."""
    comps = []
    for d in range(dim):
        x = (plane * 1_000_003 + d * 7_919 + 12_345) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        comps.append((x % 2_000_001) / 1_000_000.0 - 1.0)
    return comps


def _planes_matrix_expr(n_planes: int, dim: int) -> Column:
    """All hyperplanes as ONE parsed SQL array<array<double>> literal.
    Building them from per-component F.lit() costs a py4j round trip
    per element (plan construction dominated the query); the D suffix
    types each literal DOUBLE — a bare decimal literal parses as
    DECIMAL and poisons the dot product into decimal math."""
    rows = ",".join(
        "array(" + ",".join(f"{c!r}D" for c in _hyperplane(p, dim)) + ")"
        for p in range(n_planes)
    )
    return F.expr(f"array({rows})")


def _np_planes(n_planes: int, dim: int):
    import numpy as np

    return np.array([_hyperplane(p, dim) for p in range(n_planes)], dtype="float64")


def _lsh_buckets_udf(planes: int, dim: int, tables: int):
    """Arrow-batched kernel: all ``tables`` bucket ids per vector in one
    (batch x dim) @ (dim x tables*planes) matmul.  The higher-order
    expression equivalent folds tables*planes interpreted 64-element
    dots per ROW; the vectorized kernel is two orders of magnitude
    cheaper and the plane matrix rides inside the closure (broadcast
    once per executor, never shuffled)."""
    import numpy as np

    P = _np_planes(tables * planes, dim).T  # (dim, tables*planes)
    pows = (2 ** np.arange(planes - 1, -1, -1)).astype("int64")

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        V = np.vstack(vecs.to_numpy()).astype("float64")  # (n, dim)
        bits = (V @ P) > 0  # (n, tables*planes)
        out = np.empty((V.shape[0], tables), dtype="int64")
        for t in range(tables):
            out[:, t] = bits[:, t * planes:(t + 1) * planes] @ pows
        return pd.Series(list(out.astype("int32")))

    return buckets


def _lsh_banded_narrow(df: DataFrame, id_alias: str, id_col: str,
                       vec_col: str, planes: int, dim: int,
                       tables: int) -> DataFrame:
    """(id, tbl, bucket) band rows WITHOUT the vector — the band table
    a 100 TB corpus actually shuffles: ~24 bytes x ``tables`` per
    vector instead of replicating the embedding into every band row
    (a 64-dim double vector is ~512 B; fat banding moves it ``tables``
    times through the bucket exchange AND again through the pair
    dedup).  Score-time vectors join back by id — each embedding
    crosses the wire once, keyed, instead of 2 x tables times."""
    buckets = _lsh_buckets_udf(planes, dim, tables)
    return df.select(
        F.col(id_col).alias(id_alias),
        buckets(F.col(vec_col)).alias("__buckets"),
    ).select(id_alias, F.posexplode(F.col("__buckets")).alias("tbl", "bucket"))


def knn_lsh(
    queries: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """Approximate top-5: multi-table sign-random-projection LSH
    (OR-amplification: a candidate matches a query if they co-bucket
    in ANY of 16 independent 4-plane hash tables), exact cosine
    re-rank within the matches.

    Recall for a pair at angle theta: 1 - (1 - (1 - theta/pi)^planes)^tables
    — planes up for selectivity, tables up for recall.

    The index-free serving shape for a metadata-sized query batch: the
    query bucket table (same bit math as the executor kernel) rides in
    a fused lookup kernel's closure — ONE streaming pass over the
    candidates does bucket membership, exact re-rank, and batch-local
    top-k; no banded table, no join, no vector shuffle (the
    OR-amplification dedup is the membership test's ``any`` over
    tables).
    """
    import numpy as np

    planes, tables = 4, 16
    q_ids, Q = _query_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        return _empty_topk(candidates)
    P = _np_planes(tables * planes, 64).T
    pows = (2 ** np.arange(planes - 1, -1, -1)).astype("int64")
    QB = np.empty((len(q_ids), tables), dtype="int64")
    q_bits = (Q @ P) > 0
    for t in range(tables):
        QB[:, t] = q_bits[:, t * planes:(t + 1) * planes] @ pows

    def co_bucket(V):
        bits = (V @ P) > 0  # identical math to _lsh_buckets_udf
        M = np.empty((V.shape[0], tables), dtype="int64")
        for t in range(tables):
            M[:, t] = bits[:, t * planes:(t + 1) * planes] @ pows
        return (M[:, None, :] == QB[None, :, :]).any(axis=2)

    pairs = candidates.select("vec_id", "embedding").mapInPandas(
        _fused_lookup_kernel(q_ids, Q, 5, co_bucket, "vec_id", "embedding"),
        schema="query_id long, neighbor_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def ivf_centroids(candidates: DataFrame):
    """IVF coarse quantizer: the 16 vectors with the smallest
    md5-prefix hash of their id — a deterministic uniform sample, no
    RNG, no id-density assumption, and reproducible in ANSI SQL: the
    quantizer is a pure data sample any engine can reconstruct, which
    is what makes the declared IVF query oracle-checkable.
    Returns a (16 x dim) float64 numpy matrix.

    The sample is a TakeOrdered with a 16-row heap per partition —
    constant driver memory at any table size, unlike stride-based
    sampling which needs a count() pass and funnels ~n rows through a
    global limit on dense id spaces.
    """
    import numpy as np

    id_hash = F.conv(
        F.substring(F.md5(F.col("cid").cast("string")), 1, 15), 16, 10
    ).cast("long")
    init = (
        candidates.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("v"))
        .orderBy(id_hash.asc(), F.col("cid").asc())
        .limit(16)
        .collect()
    )
    return np.array([list(r.v) for r in sorted(init, key=lambda r: r.cid)], dtype="float64")


def knn_ivf(
    queries: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """X3 scale path B: IVF — candidates fall in the cell of their
    nearest centroid (the inverted file), each query probes only its 4
    closest of 16 cells, exact cosine re-rank within the probed cells
    (top 5).  The quantizer is the deterministic hash-sampled seed
    vectors (:func:`ivf_centroids`) — reconstructable by any engine,
    which is what the declared oracle query pins.

    The index-free serving shape: probe cells for the metadata-sized
    query batch are computed in the planner (the centroid matrix
    already lives there), and ONE fused kernel pass over the candidates
    does cell assignment, probe membership, exact re-rank, and
    batch-local top-k; no inverted file, no join.  Each query touches
    ~4/16 of the data; recall is controlled by the probe count.
    """
    import numpy as np

    C = ivf_centroids(candidates)
    # arg-ranking normalization (blocked np.linalg norms are fine for
    # it); the SCORE uses the sequential fold to stay oracle-exact
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    q_ids, Q = _query_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        return _empty_topk(candidates)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    cells = np.argsort(-(Qn @ Cn.T), axis=1, kind="stable")[:, :4]

    def in_probed_cell(V):
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
        cell = np.argsort(-(Vn @ Cn.T), axis=1, kind="stable")[:, 0]
        return (cell[:, None, None] == cells[None, :, :]).any(axis=2)

    pairs = candidates.select("vec_id", "embedding").mapInPandas(
        _fused_lookup_kernel(q_ids, Q, 5, in_probed_cell, "vec_id", "embedding"),
        schema="query_id long, neighbor_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def embedding_neardup_pairs(
    df: DataFrame,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    0.25) by an all-pairs cross join, so callers bound the input (the
    declared query takes ids below 60); the scale path is the same
    computation fed by LSH buckets instead of a cross join."""
    a = df.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"),
    )
    b = df.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("score"),
        )
        .filter(F.col("score") >= 0.25)
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    max_bucket: int | None = None,
    validate: bool = False,
) -> DataFrame:
    """Scale path for embedding near-dup (cosine >= 0.35): candidate
    pairs come from multi-table sign-LSH co-bucketing (16 tables of 4
    planes) instead of the all-pairs cross join, then the SAME exact
    cosine filter runs on candidates only.

    At 10^9 vectors the shuffle is 16 small rows per vector on
    (table, bucket); recall is set by the table count without ever
    materializing the quadratic pair space.

    Plan (r7 narrow-band rewrite, same as
    :func:`semantic_contamination_lsh`): the band table is VECTOR-FREE
    (id, tbl, bucket), so the self-join and pair dedup move ~24-byte
    rows; each endpoint's embedding joins back ONCE by key for the
    exact-cosine verify — the fat form replicated every vector
    16 times through the band build and again through the
    dedup exchange.

    ``max_bucket`` (r8) is the HOT-BUCKET backstop for densely
    clustered embedding spaces, where near-identical (but not
    byte-identical) vectors co-bucket at ANY plane count and one
    (tbl, bucket) key concentrates millions of candidate pairs into a
    single task (measured: a 100k-vector replica with planted near-dup
    clusters left one straggler running 15+ min while 36 tasks idled).
    A bucket larger than the cap is SPLIT deterministically — members
    scatter over ceil(size/cap) subcells by the md5-hash of their id
    (the :func:`semantic_dedup` ``max_cell`` discipline, portable to
    any ANSI engine) — and pairs are scored only within subcells:
    per-key work is bounded by cap^2/2, no semantic region is ever
    dropped, and cross-subcell pairs inside an oversized bucket are
    the documented recall trade.  Every member still verifies against
    ~cap co-located neighbors per table, and a pair split apart in
    one table's hot bucket still has ``tables - 1`` independent
    chances to co-bucket.  Buckets at or under the cap are untouched,
    so ``None`` (default) is the exact banding.

    The verify deliberately stays a JVM-side fold cosine rather than
    an Arrow kernel: a pandas_udf over candidate PAIRS would ship two
    ~512 B vectors per pair through Arrow (143 GB for the r8
    measurement's 143M candidates — measured strictly slower than
    the fold), while the fold reads the joined vectors in place.
    Arrow kernels win where the batch REDUCES data (signatures,
    bucket ids), not where it would round-trip full vectors per pair.

    ``validate=True`` (r11, VERDICT r10 #6) applies
    :func:`valid_embeddings` at the gate — opt-in because the gate
    silently drops offending rows (see :func:`knn_bruteforce`).

    **Construction-time (eager) job** — declaring this operator runs
    ONE driver-side Spark job before any caller action, the same
    accepted plan-build pattern as q_knn_ivf's centroids and
    semantic_dedup's seeds: the r13 verify-width sizing agg — one
    single-row aggregation over the persisted band table (sum
    c*(c-1)/2 over bucket sizes) that prices the candidate-pair volume
    so the pair-dedup/verify exchange width tracks the quadratic
    in-bucket blow-up instead of the input bytes.  The job also
    MATERIALIZES the persisted band table at declare time; callers that only inspect the plan and never execute or
    release the result (via ``dedup.release_cached``) keep that cache
    in executor memory.  A lazy alternative (AQE coalescing over a
    cap-width exchange) was considered and rejected: the engine's
    measured profile turns AQE off below 2 GB of input
    (session.AQE_MIN_INPUT_BYTES), exactly where a fixed cap width
    over-schedules, and above it AQE already re-splits the verify
    stage — the one-row agg is the portable sizing that serves both
    regimes.
    """
    from .dedup import _attach_cached

    if validate:
        df = valid_embeddings(df)
    cached = []
    # r13 (optimization, guide §2.2): guarded input-sized fan before
    # the Arrow bucket kernel — a single-row-group embeddings file
    # scans as ONE task, serializing the band build AND (because
    # ``banded`` persists that layout) the in-bucket pair generation
    # that streams through it.  Measured at sf0.1: the 1-task
    # band+pair-gen stage held ~1.0 s of the query's ~3.4 s wall.
    from ..sources import fan_out

    banded = _lsh_banded_narrow(
        fan_out(df), "id", "vec_id", "embedding", 4, 64, 16
    ).persist()
    cached.append(banded)
    cond = (
        (F.col("a.tbl") == F.col("b.tbl"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id"))
    )
    if max_bucket is not None:
        # deterministic hot-bucket split (see docstring): per-key
        # sizes come from one agg over the band table (<= non-empty
        # buckets rows, same join key as the pair join); oversized
        # buckets scatter members over ceil(size/cap) subcells by the
        # portable md5 id hash
        sizes = banded.groupBy("tbl", "bucket").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        id_hash = F.conv(
            F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        nsub = F.ceil(F.col("__bsz") / F.lit(int(max_bucket))).cast("long")
        banded = (
            banded.join(sizes, ["tbl", "bucket"])
            .withColumn(
                "__sub",
                F.when(F.col("__bsz") <= max_bucket, F.lit(0).cast("long"))
                .otherwise(F.pmod(id_hash, nsub)),
            )
            .drop("__bsz")
            .persist()
        )
        cached.append(banded)
        cond = cond & (F.col("a.__sub") == F.col("b.__sub"))
    a, b = banded.alias("a"), banded.alias("b")
    # r13 (optimization, guide §2.2/§2.5): the pair-dedup/verify width
    # must track the CANDIDATE-PAIR volume, not the input bytes — the
    # in-bucket pair space is quadratic in bucket sizes, so the
    # input-sized session layout structurally underestimates it (at
    # sf0.1: ~1 MB of embeddings -> width 4, but ~2M candidate pairs x
    # a ~1 KB joined-vector row = ~2 GB of verify-stage volume; the
    # 4-task fold-cosine stage held ~2.3 s of the query's ~3.4 s
    # wall).  One single-row agg over the persisted band table prices
    # the pair space exactly (sum c*(c-1)/2 — an upper bound when
    # ``max_bucket`` splits hot buckets), and the verify row width is
    # two 64-double vectors; the result clamps to the same
    # [session layout, 4x parallelism] band ``tune_for_input`` uses,
    # so at 100 TB the cap binds (thousands of partitions, same as
    # today) and locally the width follows the actual blow-up.  The
    # repartition keys on (id_a, id_b), so dropDuplicates reuses the
    # exchange instead of adding one.
    spark = df.sparkSession
    est_pairs = (
        banded.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.sum(F.col("__c") * (F.col("__c") - 1) / 2).alias("p"))
        .first()["p"]
    ) or 0
    # clamp band: same floor/target/cap as session.tune_for_input —
    # SHUFFLE_TARGET_BYTES per partition, capped at 4x the session's
    # actual parallelism (r14, ADVICE: constants imported, not
    # re-stated, so the two sizing rules cannot drift)
    from ..session import SHUFFLE_TARGET_BYTES

    layout = int(spark.conf.get("spark.sql.shuffle.partitions"))
    verify_bytes = int(est_pairs) * (16 * 64 + 24)
    n_verify = int(max(layout, min(
        4 * spark.sparkContext.defaultParallelism,
        verify_bytes // SHUFFLE_TARGET_BYTES,
    )))
    cand = (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .repartition(n_verify, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(
        F.col("vec_id").alias("__vid"), F.col("embedding").alias("__v"),
        norm(F.col("embedding")).alias("__vn"),
    )
    out = (
        cand.join(vecs, cand["id_a"] == vecs["__vid"])
        .select("id_a", "id_b", F.col("__v").alias("va"), F.col("__vn").alias("na"))
        .join(vecs, F.col("id_b") == vecs["__vid"])
        .select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("__v")) / (F.col("na") * F.col("__vn")))
            .alias("score"),
        )
        .filter(F.col("score") >= 0.35)
    )
    return _attach_cached(out, cached)


def project_embeddings(
    df: DataFrame,
) -> DataFrame:
    """Random-projection (Johnson-Lindenstrauss) dimensionality
    reduction: project each vector onto 8 deterministic
    pseudo-random hyperplanes — the standard preprocessing that shrinks
    ANN index and shuffle width when the raw embedding dimension is
    overkill for recall.  Angles (hence cosine ranking) are
    approximately preserved with distortion ~ sqrt(log n / 8).

    The projection matrix is the same data-independent splitmix
    construction the LSH tables use (`_hyperplane`): reproducible on
    any engine, no RNG state, rides the plan as a literal — nothing is
    broadcast or shuffled.  Per-row cost is 8 sequential
    folds (JVM codegen); output is ``array<double>``.
    """
    M = _planes_matrix_expr(8, 64)
    comps = [dot(F.col("embedding"), F.element_at(M, p + 1)) for p in range(8)]
    return df.select(
        F.col("vec_id"), *[c for c in df.columns if c != "vec_id" and c != "embedding"],
        F.array(*comps).alias("projected"),
    )


def embedding_centroids(
    df: DataFrame,
) -> DataFrame:
    """Per-label mean embedding (centroid) — the mean-pooling step of
    cluster summarization, IVF coarse-quantizer refresh, and
    class-prototype classification.  Output: one row per
    (label, dim) with the centroid component and member count (long
    format; pivot back to an array with ``collect_list`` over sorted
    dims when a vector shape is needed).

    The sum is bit-exact AND partial-aggregable because every
    component is an exact multiple of 2^-43 (any float32 input whose
    exponents stay >= -19 — magnitudes down to ~1e-6, a property
    checkable once per corpus): components scale to exact longs
    (* 2^43, a power-of-two multiply, lossless), accumulate via the
    hi/lo split-long sum (functions.xlsum — exact to 2^39 members per
    label, codegen primitives, arbitrary merge order), and the single
    double rounding happens at the final scale-back.  No per-cell
    member arrays, no ordered fold — the 50x-replica superlinear wall
    (10.7x for 5x data) becomes a plain partial+final agg.

    An under-split source fans out to session parallelism before the
    explode (``sources.fan_out``, a split-count guarded no-op on
    well-split tables) so the posexplode stage uses the cluster.
    """
    from ..sources import fan_out

    e = fan_out(df).select(
        F.col("label").alias("label"),
        F.posexplode(F.col("embedding")).alias("dim", "__v"),
    ).withColumn("__v", F.col("__v").cast("double"))
    from ..functions import xlsum

    scale = F.lit(float(2 ** 43))
    agg = e.groupBy("label", "dim").agg(
        xlsum((F.col("__v") * scale).cast("long")).alias("__scaled"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        "label", "dim",
        (F.col("__scaled") / scale / F.col("n_members").cast("double"))
        .alias("centroid"),
        "n_members",
    )


def quantize_embeddings(
    df: DataFrame,
) -> DataFrame:
    """Symmetric int8 quantization per vector (max-abs scaling) — the
    4x storage/bandwidth shrink ANN indexes ship with: ``q_i =
    round(x_i * 127 / max|x|)``, reconstructed as ``q_i / scale``.

    Map-only higher-order expressions (transform / array_max), zero
    shuffles, no Python; both engines round ties away from zero, so
    the quantized codes are bit-identical cross-engine.  Zero vectors
    get a NULL scale and NULL codes (ANSI-safe guard) rather than a
    divide-by-zero.  Recall cost of int8 on cosine ranking is the
    published ~<1% at 127 levels; keep the float vectors for the
    re-rank stage and feed the codes to the candidate scan.
    """
    v = F.col("embedding")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(maxabs > 0, F.lit(float(127)) / maxabs)
    qvec = F.when(
        maxabs > 0,
        F.transform(
            v,
            lambda x: F.round(x.cast("double") * (F.lit(float(127)) / maxabs))
            .cast("int"),
        ),
    )
    return df.select(
        F.col("vec_id"), scale.alias("scale"), qvec.alias("qvec")
    )


def semantic_dedup(
    df: DataFrame,
    max_cell: int | None = None,
    validate: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, score pairs ONLY
    within each cluster, connected-component the near-duplicate pairs,
    and keep ONE representative per duplicate group — the member with
    the LOWEST cosine to its cluster centroid (the paper's
    keep-the-least-prototypical rule), ties to the lowest id.  The
    semantic tier of the dedup ladder: exact -> MinHash -> SimHash ->
    embedding-LSH -> cluster-scoped semantic (catches paraphrases and
    re-renders that share no shingles at all).

    Spark-first shape, zero UDFs and zero extra shuffles before the
    pair join: the k seed centroids are the deterministic md5-hash
    sample :func:`ivf_centroids` uses
    (metadata-sized, collected once at plan build, reproducible in
    ANSI SQL); cell assignment is a MAP-ONLY projection over k inline
    cosine folds against centroid literals (no k-row join, no window);
    pair generation is a cell-keyed self-join — candidates only within
    a cell, never the corpus pair space; components are hash-min label
    propagation (``dedup.neardup_clusters``).  Every cosine is the
    sequential left fold (:func:`dot` / :func:`norm`), so scores and
    the keep-ranking are bit-equal to the ANSI-SQL twin.

    At 100 TB: raise the seed count (8 here) so cells stay join-sized (the paper runs
    50k clusters over 5B items; centroids stay metadata-sized until
    k*dim outgrows the closure, at which point assignment moves to the
    broadcast-join form).  The cell self-join shuffles each vector
    once on its cell id; skew follows cluster balance.  ``max_cell``
    is the skew backstop when re-seeding is not an option: any cell
    larger than the cap is SPLIT deterministically (md5-hash of the id
    modulo the subcell count — engine-portable, retry-stable) and
    pairs are scored only within subcells.  Unlike hash-banding's
    drop-the-hot-bucket cap this never discards a semantic region —
    every member still gets compared against ~``max_cell`` co-located
    neighbors — but cross-subcell pairs inside an oversized cell go
    unscored: the documented recall trade for bounding the quadratic
    term.  Cells at or under the cap are untouched (SemDeDup's
    in-cell exactness contract), so ``max_cell=None`` (default) is
    the paper-faithful exact form.

    ``validate=True`` (r12, VERDICT r11 #5 — the one cosine
    entry-point the r11 pass missed) applies :func:`valid_embeddings`
    at the gate, matching its three sibling entry-points: a
    NaN-poisoned or NULL-row table fails into a clean filtered set
    instead of a mid-job ANSI error.  Opt-in because the gate DROPS
    rows — same default-off reasoning as :func:`knn_bruteforce`.
    (Zero-norm vectors were already inert here — they never pair —
    but the gate removes them before cell assignment ever folds
    them.)

    Output: ``(id, cell, cluster_id, n_members, keep)`` for every
    member of a duplicate group; singletons never enter the pair graph
    and are implicit keeps (``dedup.neardup_clusters`` contract).
    """
    from .dedup import neardup_clusters

    import math

    if validate:
        df = valid_embeddings(df)
    base = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("__vn"),
    )
    # zero-norm vectors have no cosine neighborhood: under ANSI mode
    # their assignment division is a DIVIDE_BY_ZERO error, and no pair
    # they could appear in is scorable — exclude them up front; like
    # singletons they are implicit keeps outside the pair graph
    base = base.filter(F.col("__vn") > 0)
    id_hash = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    seeds = (
        base.orderBy(id_hash.asc(), F.col("id").asc()).limit(8).collect()
    )
    C = [list(r.v) for r in sorted(seeds, key=lambda r: r.id)]
    # Norms factored ONCE (r6): interpreted HOF lambdas are not
    # constant-folded nor CSE'd, so a cosine inlined per centroid
    # re-folded norm(v) k times per row and norm(centroid) k times per
    # row.  The centroid norms are Python floats computed with the
    # IDENTICAL left-to-right sum-of-squares fold + IEEE sqrt, so the
    # scores stay bit-equal to the cosine tree the oracle replicates.
    def _pynorm(cv):
        s = 0.0
        for x in cv:
            s = s + float(x) * float(x)
        return math.sqrt(s)

    # the cosine is guarded although zero-norm rows are filtered out
    # above: the optimizer pushes the join's not-null filter on the
    # cell into that filter, and subexpression elimination evaluates
    # the division before the ``__vn > 0`` conjunct, so an unguarded
    # fold raised DIVIDE_BY_ZERO on a filtered zero-norm row (ANSI)
    cells = F.array(
        *[
            F.struct(
                F.when(
                    F.col("__vn") > 0,
                    dot(F.col("v"), F.array(*[F.lit(float(x)) for x in cv]))
                    / (F.col("__vn") * F.lit(_pynorm(cv))),
                ).alias("cos"),
                F.lit(-i).alias("negidx"),
            )
            for i, cv in enumerate(C)
        ]
    )
    best = F.array_max(cells)
    assigned = base.select(
        "id",
        "v",
        "__vn",
        (-best["negidx"]).alias("cell"),
        best["cos"].alias("cent_cos"),
    )
    join_keys = ["cell"]
    if max_cell is not None:
        # deterministic oversized-cell split: per-cell size is k rows
        # (metadata-sized, broadcast); members of a cell larger than
        # the cap scatter over ceil(size/cap) subcells by the md5-hash
        # of their id — the same portable hash as the seed sample, so
        # any engine can reconstruct the exact subcell layout
        csz = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__csz"))
        nsub = F.ceil(F.col("__csz") / F.lit(int(max_cell))).cast("long")
        assigned = (
            assigned.join(F.broadcast(csz), "cell")
            .withColumn(
                "__sub",
                F.when(F.col("__csz") <= max_cell, F.lit(0).cast("long"))
                .otherwise(F.pmod(id_hash, nsub)),
            )
            .drop("__csz")
        )
        join_keys = ["cell", "__sub"]
    a = assigned.select(
        *join_keys, F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("__vn").alias("__na"),
    )
    b = assigned.select(
        *join_keys, F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("__vn").alias("__nb"),
    )
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")))
            .alias("score"),
        )
        .filter(F.col("score") >= 0.32)
    )
    comp = neardup_clusters(pairs.select("id_a", "id_b"))
    members = comp.join(assigned.select("id", "cell", "cent_cos"), "id")
    wk = Window.partitionBy("cluster_id").orderBy(
        F.col("cent_cos").asc(), F.col("id").asc()
    )
    return members.select(
        "id",
        "cell",
        "cluster_id",
        "n_members",
        (F.row_number().over(wk) == 1).alias("keep"),
    )


def semantic_contamination(
    corpus: DataFrame,
    evalset: DataFrame,
    validate: bool = False,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus members whose
    cosine to ANY held-out eval vector clears 0.28 — the
    semantic complement of n-gram decontamination
    (``sampling.decontaminate``): paraphrases and translations share
    no 8-grams yet sit next to the eval item in embedding space, the
    published gap in string-match contamination checks.

    The eval set is metadata-sized by definition (benchmarks are
    thousands of rows, the corpus is billions), so it rides a
    broadcast nested-loop join: the corpus never shuffles, each
    partition streams once against the in-memory eval rows, and the
    per-id aggregation collapses hits map-side before the one
    metadata-sized shuffle of flagged ids.  For an eval side too big
    to broadcast, band BOTH sides with sign-LSH and reuse
    :func:`embedding_neardup_pairs_lsh`'s co-bucket join.  Pairwise
    cosines are sequential folds and MAX over them is order-free, so
    ``top_score`` certifies bit-exact cross-engine.

    Output: flagged rows only — ``(id, n_eval_hits, top_eval_id,
    top_score)`` where ``top_eval_id`` is the best-matching eval item
    (score desc, eval id asc); anti-join the corpus against it to
    ship the clean split, or review the report sorted by
    ``top_score``.

    ``validate=True`` (r11, VERDICT r10 #6) applies
    :func:`valid_embeddings` to BOTH sides at the gate — opt-in
    because the gate silently drops offending rows (see
    :func:`knn_bruteforce`).
    """
    if validate:
        corpus = valid_embeddings(corpus)
        evalset = valid_embeddings(evalset)
    # guarded fan before the per-pair fold work (r6): a single-split
    # corpus scan (the single-row-group bench file; small ingest
    # batches) otherwise streams EVERY |corpus| x |eval| interpreted
    # dot through one task; on a well-split 100 TB corpus the exchange
    # is a no-op
    from ..sources import fan_out

    corpus = fan_out(corpus)
    # norms factored once per side (r6): a cosine inlined per pair
    # re-folds both norms for every (corpus, eval) combination —
    # |eval| redundant corpus-norm folds per corpus row; the factored
    # score is the same expression tree, bit-equal to the oracle
    c = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("__vn"),
    )
    e = evalset.select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("ev"),
        norm(F.col("embedding")).alias("__en"),
    )
    hits = (
        c.crossJoin(F.broadcast(e))
        .select(
            "id", "eid",
            (dot(F.col("v"), F.col("ev")) / (F.col("__vn") * F.col("__en")))
            .alias("score"),
        )
        .filter(F.col("score") >= 0.28)
    )
    return hits.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.max_by(
            F.col("eid"), F.struct(F.col("score").alias("s"), (-F.col("eid")).alias("t"))
        ).alias("top_eval_id"),
        F.max("score").alias("top_score"),
    )


def semantic_contamination_lsh(
    corpus: DataFrame,
    evalset: DataFrame,
    validate: bool = False,
) -> DataFrame:
    """Scale path for :func:`semantic_contamination`: candidate
    (corpus, eval) pairs come from multi-table sign-LSH co-bucketing
    instead of the |corpus| x |eval| broadcast product, then the SAME
    exact cosine filter and per-id report run on candidates only.

    When the eval side outgrows a broadcast (benchmark suites
    aggregated across versions, eval sets with per-example
    paraphrase expansions) or the corpus x eval product outgrows the
    cluster (the brute-force twin measured 50 s at the 50x fair
    layout for a 99k x 1k product — at 10^9 x 10^5 it is simply not
    runnable), both sides band into (tbl, bucket) rows — 8 small rows
    per vector (8 tables of 8 planes), the only thing that shuffles —
    and the bucket join yields candidates with recall
    ``1 - (1 - match^8)^8`` (~0.97 at cosine 0.9).  The report is the
    same shape as the exact operator; hits the banding misses are the
    documented recall trade every LSH index makes.

    Same-id collisions across the two sides are NOT excluded: the
    operator treats corpus and eval as disjoint universes (dedupe
    first if they share ids, as the exact twin also assumes).

    Plan (r7 narrow-band rewrite): both sides band into VECTOR-FREE
    (id, tbl, bucket) rows, the bucket join and the (id, eid) pair
    dedup move only those ~24-byte rows, and each side's embeddings
    join back ONCE by key for the exact-cosine scoring — at 64-dim
    double embeddings and 8 tables the fat-band form shuffled every
    vector ~16x (band build + pair dedup, both sides); this form
    moves each exactly once.

    NOTE: the threshold (0.28) is a MODERATE-similarity design point
    where 8x8 banding misses pairs; decontamination runs that need
    high recall at loose thresholds should treat the exact operator
    as the authority.

    ``validate=True`` (r11, VERDICT r10 #6) applies
    :func:`valid_embeddings` to BOTH sides at the gate — opt-in
    because the gate silently drops offending rows (see
    :func:`knn_bruteforce`).
    """
    if validate:
        corpus = valid_embeddings(corpus)
        evalset = valid_embeddings(evalset)
    cb = _lsh_banded_narrow(corpus, "id", "vec_id", "embedding", 8, 64, 8)
    eb = _lsh_banded_narrow(
        evalset, "eid", "vec_id", "embedding", 8, 64, 8
    )
    cand = (
        cb.join(eb, ["tbl", "bucket"])
        .select("id", "eid")
        .dropDuplicates(["id", "eid"])
    )
    cv = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("v_norm"),
    )
    ev = evalset.select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("ev"),
        norm(F.col("embedding")).alias("ev_norm"),
    )
    # eval first (the usually-smaller side — AQE broadcasts it when it
    # fits), then one keyed attach of the corpus vectors
    hits = (
        cand.join(ev, "eid")
        .join(cv, "id")
        .select(
            "id", "eid",
            (dot(F.col("v"), F.col("ev")) / (F.col("v_norm") * F.col("ev_norm")))
            .alias("score"),
        )
        .filter(F.col("score") >= 0.28)
    )
    return hits.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.max_by(
            F.col("eid"),
            F.struct(F.col("score").alias("s"), (-F.col("eid")).alias("t")),
        ).alias("top_eval_id"),
        F.max("score").alias("top_score"),
    )
