"""Property-based invariants (hypothesis) for the merge/dedup/session
operators — the engine-level guarantees the medallion design leans on
(SURVEY.md section 5.3), checked over generated inputs rather than one
fixture."""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark.operators.merge import (  # noqa: E402
    latest_state,
    merge_upsert,
)
from real_timetransactionaldatalakehouse_spark.operators.relational import (  # noqa: E402
    dedup_latest,
    sessionize,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# (key, ts, value-or-null)
row = st.tuples(
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=0, max_value=100),
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
)
rows = st.lists(row, min_size=0, max_size=25)


def _df(spark, data):
    return spark.createDataFrame(
        [(k, t, v) for k, t, v in data], "k int, ts int, v int"
    )


@SETTINGS
@given(target=rows, updates=rows)
def test_merge_idempotent_and_key_complete(spark, target, updates):
    t = dedup_latest(_df(spark, target), ["k"], "ts", ["v"])
    u = _df(spark, updates)
    once = merge_upsert(t, u, ["k"], order_col="ts")
    twice = merge_upsert(once, u, ["k"], order_col="ts")
    a = sorted(map(str, once.collect()))
    b = sorted(map(str, twice.collect()))
    # re-merging must never change the key set
    assert {r.split(",")[0] for r in a} == {r.split(",")[0] for r in b}
    # key completeness
    keys_out = {r.k for r in once.collect()}
    assert keys_out == {k for k, _, _ in target} | {k for k, _, _ in updates}
    # exact idempotence (applying the same batch twice is a no-op),
    # ties at one (k, ts) included
    assert a == b


def test_merge_upsert_breaks_order_ties_on_update_columns(spark):
    """Two different updates of one key at the same ts: the winner
    must not depend on the input order.  Ties go to the greater
    remaining update columns, in column order (v, then s)."""
    schema = "k int, ts int, v int, s string"
    target = spark.createDataFrame([(1, 0, 0, "t")], schema)
    rows = [(1, 5, 1, "b"), (1, 5, 2, "a")]
    got = [
        merge_upsert(
            target, spark.createDataFrame(batch, schema).coalesce(1),
            ["k"], order_col="ts",
        ).collect()
        for batch in (rows, rows[::-1])
    ]
    assert [tuple(r) for r in got[0]] == [(1, 5, 2, "a")]
    assert [tuple(r) for r in got[1]] == [(1, 5, 2, "a")]


@SETTINGS
@given(data=rows)
def test_dedup_latest_picks_max_order_tuple(spark, data):
    out = dedup_latest(_df(spark, data), ["k"], "ts", tiebreak_cols=["v"]).collect()
    got = {r.k: (r.ts, r.v) for r in out}
    expected = {}
    for k, t, v in data:
        key = (t, v if v is not None else -(10**9))
        cur = expected.get(k)
        if cur is None or key > (cur[0], cur[1] if cur[1] is not None else -(10**9)):
            expected[k] = (t, v)
    assert len(out) == len(expected)
    assert got == expected


# (key, ts-or-null, event id, fill value-or-null, status-or-null)
event = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
    st.integers(min_value=0, max_value=10**6),
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
)


@SETTINGS
@given(data=st.lists(event, min_size=0, max_size=30, unique_by=lambda e: e[2]))
def test_latest_state_matches_bruteforce(spark, data):
    """latest_state against a brute-force reference: per key, order
    rows by (ts, eid) with a NULL ts sorting below every value (DESC
    NULLS LAST); the fill column ``v`` holds the first non-null value
    in that order (first_value IGNORE NULLS), the other columns (ts,
    eid, and the unfilled ``s`` even when NULL) come from the top row."""
    df = spark.createDataFrame(data, "k int, ts int, eid int, v int, s string")
    got = {tuple(r) for r in latest_state(df, ["k"], "ts", ["v"], tiebreak_cols=["eid"]).collect()}

    def rank(e):
        return (e[1] is not None, e[1] if e[1] is not None else 0, e[2])

    want = set()
    for k in {e[0] for e in data}:
        desc = sorted((e for e in data if e[0] == k), key=rank, reverse=True)
        top = desc[0]
        fill = next((e[3] for e in desc if e[3] is not None), None)
        want.add((k, top[1], top[2], fill, top[4]))
    assert got == want


def test_keep_latest_resolves_dotted_column_names(spark):
    """Column names containing a dot are literal top-level names to
    dedup_latest and latest_state, never nested-field paths."""
    df = spark.createDataFrame(
        [(1, 1, 5.0, "x"), (1, 2, None, "y"), (2, 1, None, None)],
        "k int, ts int, `px.usd` double, `tag.v` string",
    )
    assert {tuple(r) for r in dedup_latest(df, ["k"], "ts").collect()} == {
        (1, 2, None, "y"), (2, 1, None, None)}
    assert {tuple(r) for r in latest_state(df, ["k"], "ts", ["px.usd"]).collect()} == {
        (1, 2, 5.0, "y"), (2, 1, None, None)}


@SETTINGS
@given(data=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10**5)), min_size=1, max_size=30
))
def test_sessionize_invariants(spark, data):
    df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(data)], "user_id int, ts_s long, event_id int"
    ).withColumn("ts", F.timestamp_seconds("ts_s"))
    out = sessionize(df, "user_id", "ts")
    rows_ = sorted(
        ((r.user_id, r.ts_s, r.event_id, r.session_id) for r in out.collect()),
    )
    per_user: dict[int, list[tuple[int, int, int]]] = {}
    for u, t, e, s in rows_:
        per_user.setdefault(u, []).append((t, e, s))
    for u, items in per_user.items():
        items.sort()
        assert items[0][2] == 1  # sessions start at 1
        for (t0, _e0, s0), (t1, _e1, s1) in zip(items, items[1:]):
            if t1 - t0 > 1800:
                assert s1 == s0 + 1, f"gap not honored for user {u}"
            else:
                assert s1 == s0, f"spurious session split for user {u}"


from real_timetransactionaldatalakehouse_spark.operators.joins import asof_join  # noqa: E402

fact_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=50),  # ts
        st.integers(min_value=0, max_value=99),  # fact id (tiebreak)
    ),
    min_size=0, max_size=20,
)
# timeline: unique per (key, ts) by construction (dict)
timeline_rows = st.dictionaries(
    st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=50)),
    st.integers(min_value=-9, max_value=9),
    max_size=15,
)


@SETTINGS
@given(facts=fact_rows, timeline=timeline_rows)
def test_asof_join_matches_bruteforce(spark, facts, timeline):
    f = spark.createDataFrame(
        [(k, t, i) for k, t, i in facts] or [(None, None, None)],
        "k int, ts int, fid int",
    ).filter(F.col("fid").isNotNull())
    tl = spark.createDataFrame(
        [(k, t, v) for (k, t), v in timeline.items()] or [(None, None, None)],
        "k int, tts int, val int",
    ).filter(F.col("val").isNotNull())
    out = asof_join(
        f, tl, key="k", fact_ts="ts", timeline_ts="tts",
        value_cols=["val"], fact_tiebreaks=["fid"],
    )
    got = {(r.k, r.ts, r.fid): r.val for r in out.collect()}
    assert len(got) == len({(k, t, i) for k, t, i in facts}), "row count drift"
    for k, t, i in facts:
        cand = [(tt, v) for (kk, tt), v in timeline.items() if kk == k and tt <= t]
        want = max(cand)[1] if cand else None
        assert got[(k, t, i)] == want, (
            f"fact ({k},{t},{i}): got {got[(k, t, i)]}, want {want} from {sorted(cand)}"
        )


# timeline with duplicate (key, ts) rows allowed — the dedup_keep_max mode
dup_timeline_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=50),  # ts
        st.integers(min_value=-9, max_value=9),  # value (non-null)
    ),
    min_size=0, max_size=25,
)


@SETTINGS
@given(facts=fact_rows, timeline=dup_timeline_rows)
def test_asof_join_dedup_keep_max_folds_preagg(spark, facts, timeline):
    """dedup_keep_max on a duplicated timeline == pre-aggregating the
    timeline with GROUP BY (key, ts) -> MAX(value) first: the window's
    value tie-sort must land the running last() on the max row of the
    newest eligible timestamp."""
    f = spark.createDataFrame(
        [(k, t, i) for k, t, i in facts] or [(None, None, None)],
        "k int, ts int, fid int",
    ).filter(F.col("fid").isNotNull())
    tl = spark.createDataFrame(
        [(k, t, v) for k, t, v in timeline] or [(None, None, None)],
        "k int, tts int, val int",
    ).filter(F.col("val").isNotNull())
    out = asof_join(
        f, tl, key="k", fact_ts="ts", timeline_ts="tts",
        value_cols=["val"], fact_tiebreaks=["fid"], dedup_keep_max=True,
    )
    got = {(r.k, r.ts, r.fid): r.val for r in out.collect()}
    assert len(got) == len({(k, t, i) for k, t, i in facts}), "row count drift"
    best: dict[tuple[int, int], int] = {}
    for k, tt, v in timeline:
        key = (k, tt)
        best[key] = v if key not in best else max(best[key], v)
    for k, t, i in facts:
        cand = [(tt, v) for (kk, tt), v in best.items() if kk == k and tt <= t]
        want = max(cand)[1] if cand else None
        assert got[(k, t, i)] == want, (
            f"fact ({k},{t},{i}): got {got[(k, t, i)]}, want {want} from {sorted(cand)}"
        )


def test_asof_join_dedup_keep_max_rejects_multi_value(spark):
    f = spark.createDataFrame([(1, 1, 1)], "k int, ts int, fid int")
    tl = spark.createDataFrame([(1, 0, 1, 2)], "k int, tts int, a int, b int")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="dedup_keep_max"):
        asof_join(f, tl, key="k", fact_ts="ts", timeline_ts="tts",
                  value_cols=["a", "b"], dedup_keep_max=True)


doc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1000),  # doc id (deduped below)
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "eee"]), min_size=0, max_size=12
        ),
    ),
    min_size=1,
    max_size=20,
)
# documents up to 40 tokens over two tokens, so that 13-grams (the
# decontamination n) both occur and recur across documents
long_doc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1000),
        st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=40),
    ),
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(data=doc_rows)
def test_pack_sequences_invariants(spark, data):
    """Packing invariants over generated corpora: starts are the
    exclusive prefix sums in id order, pack_pos < budget, pack ids
    non-decreasing, token totals conserved."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        pack_sequences,
    )

    docs = {i: toks for i, toks in data}  # dedupe ids, keep last
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()],
        "doc_id long, text string",
    )
    budget = 7
    out = sorted(
        (r.doc_id, r.n_tokens, r.pack_id, r.pack_pos)
        for r in pack_sequences(df, budget=budget).collect()
    )
    assert [d for d, *_ in out] == sorted(docs)
    acc = 0
    last_pack = 0
    for doc_id, n_tok, pack_id, pack_pos in out:
        # split(" ") of "" yields [""] -> 1 token, matching the operator
        expect_tok = len(docs[doc_id]) if docs[doc_id] else 1
        assert n_tok == expect_tok
        assert pack_id == acc // budget and pack_pos == acc % budget
        assert 0 <= pack_pos < budget
        assert pack_id >= last_pack
        last_pack = pack_id
        acc += n_tok


@SETTINGS
@given(data=doc_rows)
def test_repetition_stats_invariants(spark, data):
    """Repetition-ratio invariants: distinct <= total, ratios in [0,1],
    top ratio >= 1/distinct share, short docs absent."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        repetition_stats,
    )

    docs = {i: toks for i, toks in data}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for i, toks in docs.items():
        n_tok = len(toks) if toks else 1
        if n_tok < 2:
            assert i not in got
            continue
        r = got[i]
        assert r.n_ngrams == n_tok - 1
        assert 1 <= r.n_distinct <= r.n_ngrams
        assert 0.0 <= r.dup_ngram_ratio <= 1.0
        assert r.top_ngram_ratio >= 1.0 / r.n_ngrams - 1e-12
        assert abs(r.dup_ngram_ratio - (1.0 - r.n_distinct / r.n_ngrams)) < 1e-12


@SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(st.sampled_from(["a", "bb", "ccc"]), min_size=0, max_size=9),
        ),
        min_size=0, max_size=30,
    ),
    budget=st.integers(min_value=1, max_value=60),
)
def test_mix_corpus_matches_python_reference(spark, data, budget):
    """The keep set is a pure function of (id, seed, per-source token
    totals): replicate the operator's md5 bucket and threshold
    arithmetic in plain Python and require the identical sample."""
    import hashlib
    import math

    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        mix_corpus,
    )

    docs = {i: (src, toks) for i, src, toks in data}
    weights = {"s0": 0.6, "s1": 0.4}
    totals: dict[str, int] = {}
    for src, toks in docs.values():
        # split(" ") of "" yields [""] -> 1 token, matching tokens()
        totals[src] = totals.get(src, 0) + max(len(toks), 1)
    want = set()
    for i, (src, toks) in docs.items():
        w = weights.get(src)
        if w is None or not totals.get(src):
            continue
        thresh = math.floor(min(w * budget / totals[src], 1.0) * 100_000)
        h = int(hashlib.md5(f"{i}:mix-v1".encode()).hexdigest()[:15], 16)
        if h % 100_000 < thresh:
            want.add(i)

    df = spark.createDataFrame(
        [(i, src, " ".join(toks)) for i, (src, toks) in docs.items()],
        "doc_id long, source string, text string",
    )
    got = {r.doc_id for r in mix_corpus(df, weights, token_budget=budget).collect()}
    assert got == want


@SETTINGS
@given(data=long_doc_rows, bench_data=long_doc_rows)
def test_decontaminate_ngram_matches_python_reference(spark, data, bench_data):
    """Over generated corpora: the kept set equals the plain-Python
    n-gram overlap computation (token n-grams with the short-doc
    whole-text fallback shingle)."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        decontaminate_ngram,
    )

    n = 13
    docs = {i: toks for i, toks in data}
    bench = {i + 10_000: toks for i, toks in bench_data}

    def grams(toks):
        t = " ".join(toks).split(" ")  # "" -> [""], matches split()
        if len(t) <= n:
            return {" ".join(t)}  # word_shingles clamps to one shingle
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    bench_grams = set().union(*(grams(t) for t in bench.values())) if bench else set()
    want = {i for i, t in docs.items() if not (grams(t) & bench_grams)}

    corpus_df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id long, text string")
    bench_df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in bench.items()], "doc_id long, text string")
    got = {r.doc_id for r in decontaminate_ngram(corpus_df, bench_df).collect()}
    assert got == want


@SETTINGS
@given(
    data=doc_rows,
    budget=st.integers(min_value=9, max_value=16),
)
def test_chunk_documents_matches_python_reference(spark, data, budget):
    """Chunking invariants over generated corpora: chunk layout equals
    the plain-Python slicer — full token coverage, exact stride,
    short-only-last-chunk, one chunk for short docs."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        chunk_documents,
    )

    overlap = 8
    docs = {i: toks for i, toks in data}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in chunk_documents(df, budget=budget).collect()
    }
    stride = budget - overlap
    want = {}
    for i, toks in docs.items():
        t = " ".join(toks).split(" ")  # "" -> [""], matching split()
        n_chunks = max(-(-(len(t) - overlap) // stride), 1)
        for c in range(n_chunks):
            piece = t[c * stride : c * stride + budget]
            want[(i, c)] = (len(piece), " ".join(piece))
    assert got == want


def test_interval_join_matches_naive_nonequi(spark):
    """Bucketized range join must equal the naive non-equi join on a
    frame small enough to brute-force."""
    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        interval_join,
    )

    # timestamps in units of 100 s, so intervals span several
    # 600-second buckets
    pts = spark.createDataFrame(
        [(i, i * 100.0) for i in range(100)], "pid long, ts double"
    )
    ivs = spark.createDataFrame(
        [(0, 1000.0, 2500.0), (1, 2000.0, 2000.0), (2, 2400.0, 5550.0),
         (3, 20000.0, 30000.0)],
        "iid long, lo double, hi double",
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in pts.crossJoin(ivs)
        .filter((F.col("lo") <= F.col("ts")) & (F.col("ts") < F.col("hi")))
        .collect()
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(pts, ivs, "ts", "lo", "hi").collect()
    )
    assert got == naive


def test_redact_pii_patterns(spark):
    """Each PII kind redacts independently with correct counts; clean
    text passes through untouched."""
    from real_timetransactionaldatalakehouse_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org, ip 192.168.0.1, tel +44 20 7946 0958"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (2, 1, 1)
    assert "[email]" in got[1].text and "[ipv4]" in got[1].text
    assert "[phone]" in got[1].text
    assert "a@b.io" not in got[1].text and "192.168.0.1" not in got[1].text
    assert got[2].text == "no pii here at all"
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 0)


def test_scd2_from_changes_intervals(spark):
    """Hand-computed SCD2: consecutive unchanged values collapse, each
    version's validity ends where the next begins, exactly one open
    (is_current) row per key."""
    from real_timetransactionaldatalakehouse_spark.operators.merge import (
        scd2_from_changes,
    )

    rows = [
        (1, 10.0, 100, "a"),
        (1, 20.0, 101, "a"),   # unchanged -> collapsed
        (1, 30.0, 102, "b"),
        (1, 40.0, 103, "a"),   # back to a -> NEW version (not merged)
        (2, 15.0, 200, "x"),
    ]
    df = spark.createDataFrame(rows, "k long, ts double, eid long, v string")
    hist = scd2_from_changes(
        df, ["k"], "ts", tiebreak_cols=["eid"], drop_unchanged=["v"]
    )
    got = sorted(
        (r.k, r.v, r.effective_from, r.effective_to, r.is_current)
        for r in hist.collect()
    )
    assert got == [
        (1, "a", 10.0, 30.0, False),
        (1, "a", 40.0, None, True),
        (1, "b", 30.0, 40.0, False),
        (2, "x", 15.0, None, True),
    ]
    # exactly one current row per key
    cur = hist.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_token_count_bpe_segments(spark):
    """Pre-tokenizer counts: contractions split off, punctuation and
    digit runs count separately from words — the cases whitespace
    counting collapses."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        token_count_bpe,
    )

    df = spark.createDataFrame(
        [
            (1, "it's fine"),          # it | 's | _fine -> 3
            (2, "f(x)=42!"),           # f | ( | x | )= | 42 | ! -> 6
            (3, "plain words here"),   # 3 words (spaces fold into them)
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", token_count_bpe("text").alias("n")).collect()}
    assert got == {1: 3, 2: 6, 3: 3}


# --- r4 operators: property checks against plain-Python references ----

edge = st.tuples(
    st.integers(min_value=0, max_value=15),
    st.integers(min_value=0, max_value=15),
)


@SETTINGS
@given(edges=st.lists(edge, min_size=1, max_size=20))
def test_neardup_clusters_matches_union_find(spark, edges):
    """Connected components on random pair graphs must equal a plain
    union-find: same membership, same min-id labels, same sizes
    (self-loops allowed; direction irrelevant)."""
    from real_timetransactionaldatalakehouse_spark.operators.dedup import (
        neardup_clusters,
    )

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        union(a, b)
    expected_label = {n: find(n) for n in parent}
    sizes: dict = {}
    for n, lbl in expected_label.items():
        sizes[lbl] = sizes.get(lbl, 0) + 1

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: (r.cluster_id, r.n_members)
           for r in neardup_clusters(df).collect()}
    assert got == {
        n: (lbl, sizes[lbl]) for n, lbl in expected_label.items()
    }


# in seconds: an interval spans up to ~9 of interval_join's 600 s buckets
interval = st.tuples(
    st.integers(min_value=0, max_value=5000),     # lo
    st.integers(min_value=0, max_value=5000),     # length
)


@SETTINGS
@given(
    pts=st.lists(st.integers(min_value=-1000, max_value=12000), min_size=0, max_size=30),
    ivs=st.lists(interval, min_size=0, max_size=10),
)
def test_interval_join_matches_python_reference(spark, pts, ivs):
    """Bucketized interval join vs the obvious double loop, including
    empty sides and zero-length intervals (start == end matches
    nothing: ts < end)."""
    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        interval_join,
    )

    pdf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(pts)], "pid long, ts double"
    )
    idf = spark.createDataFrame(
        [(j, float(lo), float(lo + ln)) for j, (lo, ln) in enumerate(ivs)],
        "iid long, lo double, hi double",
    )
    expected = sorted(
        (i, j)
        for i, p in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= p < lo + ln
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(pdf, idf, "ts", "lo", "hi").collect()
    )
    assert got == expected


change = st.tuples(
    st.integers(min_value=0, max_value=3),     # key
    st.integers(min_value=0, max_value=40),    # ts
    st.integers(min_value=0, max_value=2),     # tracked value
)


@SETTINGS
@given(changes=st.lists(change, min_size=1, max_size=25, unique_by=lambda c: (c[0], c[1])))
def test_scd2_matches_python_replay(spark, changes):
    """SCD2 vs a per-key replay: collapse consecutive unchanged
    values, validity chains with no gaps, exactly one open row per
    key, every interval end equals the next interval's start."""
    from real_timetransactionaldatalakehouse_spark.operators.merge import (
        scd2_from_changes,
    )

    df = spark.createDataFrame(changes, "k long, ts long, v long")
    hist = scd2_from_changes(df, ["k"], "ts", drop_unchanged=["v"]).collect()

    by_key: dict = {}
    for k, t, v in sorted(changes):
        seq = by_key.setdefault(k, [])
        if not seq or seq[-1][1] != v:
            seq.append((t, v))
    expected = []
    for k, seq in by_key.items():
        for i, (t, v) in enumerate(seq):
            nxt = seq[i + 1][0] if i + 1 < len(seq) else None
            expected.append((k, v, t, nxt, nxt is None))
    got = sorted(
        (r.k, r.v, r.effective_from, r.effective_to, r.is_current) for r in hist
    )
    assert got == sorted(expected)


def test_tfidf_hand_computed(spark):
    """TF-IDF on a 3-doc corpus: smoothed idf, exact tf counts, and
    require-all search ranking."""
    import math

    from real_timetransactionaldatalakehouse_spark.operators.text import (
        search_ranked,
        tfidf_scores,
    )

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.term): (r.tf, r.df, r.tfidf)
           for r in tfidf_scores(df).collect()}

    def idf(dfc):
        return math.log((1.0 + 3.0) / (1.0 + dfc)) + 1.0

    assert got[(1, "apple")] == (2, 2, 2 * idf(2))
    assert got[(2, "cherry")] == (1, 2, 1 * idf(2))
    assert got[(3, "durian")] == (1, 1, 1 * idf(1))
    # search: docs containing BOTH apple and cherry -> only doc 3
    hits = search_ranked(df, ["apple", "cherry"]).collect()
    assert [r.doc_id for r in hits] == [3]
    assert hits[0].score == 1 * idf(2) + 2 * idf(2)


def test_resample_fill_gap_semantics(spark):
    """Gaps become zero rows, observed buckets keep counts."""
    import datetime

    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        resample_fill,
    )

    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def at(minute, sec=0):
        return t0 + datetime.timedelta(minutes=minute, seconds=sec)

    df = spark.createDataFrame(
        [("a", at(0)), ("a", at(0, 30)), ("a", at(3)), ("b", at(1))],
        "k string, ts timestamp",
    )
    flat = {r.bucket: r.n for r in resample_fill(df, "ts").collect()}
    assert flat == {at(0): 2, at(1): 1, at(2): 0, at(3): 1}


# ---------------------------------------------------------------- round-4 wave-2

from real_timetransactionaldatalakehouse_spark.operators.relational import (  # noqa: E402
    mode_per_group,
    session_window_agg,
    zscore_normalize,
)


@SETTINGS
@given(data=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10**5)), min_size=1, max_size=30
))
def test_session_window_agg_matches_python_reference(spark, data):
    """Spark's session_window grouping must equal the plain-Python
    gap-and-island replica (new session iff gap STRICTLY exceeded —
    the boundary semantics the oracle encodes)."""
    df = spark.createDataFrame(
        [(k, t) for k, t in data], "user_id int, ts_s long"
    ).withColumn("ts", F.timestamp_seconds("ts_s"))
    out = session_window_agg(df, "ts", ["user_id"])
    got = sorted(
        (r.user_id, r.session_start.timestamp(), r.session_end.timestamp(), r.n_events)
        for r in out.collect()
    )
    per_user: dict[int, list[int]] = {}
    for k, t in data:
        per_user.setdefault(k, []).append(t)
    want = []
    for u, ts in per_user.items():
        ts.sort()
        start, last, n = ts[0], ts[0], 1
        for t in ts[1:]:
            if t - last > 1800:
                want.append((u, float(start), float(last + 1800), n))
                start, n = t, 0
            n += 1
            last = t
        want.append((u, float(start), float(last + 1800), n))
    assert got == sorted(want)


@SETTINGS
@given(data=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 5)), min_size=1, max_size=40
))
def test_mode_per_group_matches_python_reference(spark, data):
    """Deterministic mode: (max count, then smallest value) per group."""
    df = spark.createDataFrame([(k, v) for k, v in data], "k int, v int")
    got = sorted(
        (r.k, r.mode_value, r.n_occurrences) for r in mode_per_group(df, ["k"], "v").collect()
    )
    from collections import Counter

    want = []
    for k in {k for k, _ in data}:
        c = Counter(v for kk, v in data if kk == k)
        v, n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((k, v, n))
    assert got == sorted(want)


@SETTINGS
@given(data=st.lists(
    st.tuples(st.integers(0, 2), st.integers(-50, 50)), min_size=2, max_size=30
))
def test_zscore_normalize_matches_python_reference(spark, data):
    """z = (x - mean)/sd with moments from exact integer sums — the
    Python replica applies the identical expression tree, so values
    match to the last bit on integer inputs."""
    import math

    df = spark.createDataFrame(
        [(k, float(v), i) for i, (k, v) in enumerate(data)], "k int, v double, rid int"
    )
    out = zscore_normalize(df, ["k"], "v")
    got = {(r.k, r.rid): r.z for r in out.collect()}
    per_k: dict[int, list[tuple[int, int]]] = {}
    for i, (k, v) in enumerate(data):
        per_k.setdefault(k, []).append((i, v))
    for k, items in per_k.items():
        n = len(items)
        sx = float(sum(v for _, v in items))
        sxx = float(sum(v * v for _, v in items))
        if n < 2:
            continue
        var = (sxx - sx * sx / n) / (n - 1)
        if var <= 0:
            continue
        mean, sd = sx / n, math.sqrt(var)
        for i, v in items:
            assert got[(k, i)] == (v - mean) / sd, (k, i, v)


def test_bm25_matches_python_reference(spark):
    """search_bm25 on a fixed mini-corpus vs the published Okapi
    formula computed in plain Python (identical k1/b defaults): each
    document's score is the summed weight of the query terms it has."""
    import math

    import pytest as _pytest

    from real_timetransactionaldatalakehouse_spark.operators.text import search_bm25

    corpus = {
        1: "a b a c",
        2: "b b d",
        3: "a d d d e",
        4: "c",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id int, text string")
    toks = {d: t.split() for d, t in corpus.items()}
    n_docs = float(len(corpus))
    avgdl = sum(len(t) for t in toks.values()) / len(corpus)
    df_t: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            df_t[term] = df_t.get(term, 0) + 1
    k1, b = 1.2, 0.75

    def weight(d, term):
        t = toks[d]
        tf, dl = t.count(term), len(t)
        idf = math.log(1.0 + (n_docs - df_t[term] + 0.5) / (df_t[term] + 0.5))
        return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    for terms in (["a"], ["d"], ["a", "d"], ["a", "b", "c", "d", "e"]):
        got = {r.doc_id: r.score for r in
               search_bm25(df, terms).collect()}
        want = {d: sum(weight(d, term) for term in set(terms))
                for d, t in toks.items() if set(terms) <= set(t)}
        assert got.keys() == want.keys(), terms
        for d, w in want.items():
            assert got[d] == _pytest.approx(w, rel=1e-12), (terms, d)


@SETTINGS
@given(data=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.sampled_from(["view", "click", "purchase"])),
    min_size=0, max_size=40,
))
def test_funnel_stages_matches_python_reference(spark, data):
    """funnel_stages vs a plain-Python ordered-funnel replica."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        funnel_stages,
    )

    df = spark.createDataFrame(
        [(u, t, ty) for u, t, ty in data], "user_id int, ts long, event_type string"
    )
    out = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.stage)
        for r in funnel_stages(
            df, "user_id", "ts",
            [
                ("view", F.col("event_type") == "view"),
                ("click", F.col("event_type") == "click"),
                ("purchase", F.col("event_type") == "purchase"),
            ],
        ).collect()
    }
    per_user: dict[int, list[tuple[int, str]]] = {}
    for u, t, ty in data:
        per_user.setdefault(u, []).append((t, ty))
    want = {}
    for u, evs in per_user.items():
        views = [t for t, ty in evs if ty == "view"]
        if not views:
            continue  # never entered the funnel
        t1 = min(views)
        clicks = [t for t, ty in evs if ty == "click" and t >= t1]
        t2 = min(clicks) if clicks else None
        if t2 is not None:
            purchases = [t for t, ty in evs if ty == "purchase" and t >= t2]
            t3 = min(purchases) if purchases else None
        else:
            t3 = None
        stage = 1 + (t2 is not None) + (t3 is not None)
        want[u] = (t1, t2, t3, stage)
    assert out == want


@SETTINGS
@given(facts=fact_rows, timeline=timeline_rows, tol=st.integers(0, 20))
def test_asof_join_tolerance_matches_bruteforce(spark, facts, timeline, tol):
    """tolerance_s must NULL exactly the matches whose staleness
    exceeds the bound — brute-force replica over integer timestamps."""
    f = spark.createDataFrame(
        [(k, t, i) for k, t, i in facts] or [(None, None, None)],
        "k int, ts int, fid int",
    ).filter(F.col("k").isNotNull())
    t = spark.createDataFrame(
        [(k, ts, v) for (k, ts), v in timeline.items()] or [(None, None, None)],
        "k int, t_ts int, v int",
    ).filter(F.col("k").isNotNull())
    out = asof_join(
        f, t, key="k", fact_ts="ts", timeline_ts="t_ts",
        value_cols=["v"], fact_tiebreaks=["fid"], tolerance_s=tol,
    )
    got = {(r.k, r.ts, r.fid): r.v for r in out.collect()}
    for k, ts, fid in facts:
        cands = [(tts, v) for (kk, tts), v in timeline.items()
                 if kk == k and tts <= ts]
        want = None
        if cands:
            m_ts, m_v = max(cands)
            want = m_v if (ts - m_ts) <= tol else None
        assert got[(k, ts, fid)] == want, (k, ts, fid)


@SETTINGS
@given(facts=fact_rows, timeline=timeline_rows)
def test_asof_join_nearest_matches_bruteforce(spark, facts, timeline):
    """Nearest direction: closest timeline row before OR after; exact
    matches and distance ties resolve backward."""
    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        asof_join_nearest,
    )

    f = spark.createDataFrame(
        [(k, t, i) for k, t, i in facts] or [(None, None, None)],
        "k int, ts int, fid int",
    ).filter(F.col("k").isNotNull())
    t = spark.createDataFrame(
        [(k, ts, v) for (k, ts), v in timeline.items()] or [(None, None, None)],
        "k int, t_ts int, v int",
    ).filter(F.col("k").isNotNull())
    out = asof_join_nearest(
        f.withColumnRenamed("fid", "event_id"), t, key="k", fact_ts="ts",
        timeline_ts="t_ts", value_cols=["v"],
    )
    got = {(r.k, r.ts, r.event_id): r.v for r in out.collect()}
    for k, ts, fid in facts:
        cands = [(tts, v) for (kk, tts), v in timeline.items() if kk == k]
        want = None
        if cands:
            back = [(tts, v) for tts, v in cands if tts <= ts]
            fwd = [(tts, v) for tts, v in cands if tts > ts]
            b = max(back) if back else None
            fw = min(fwd) if fwd else None
            if b is None:
                want = fw[1] if fw else None
            elif fw is not None and (fw[0] - ts) < (ts - b[0]):
                want = fw[1]
            else:
                want = b[1]
        assert got[(k, ts, fid)] == want, (k, ts, fid)


@SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            # magnitudes past 2^40 per row — where decimal accumulation
            # was previously the only exact option (plain long group
            # sums overflow quickly at scale)
            st.integers(min_value=-(2**47), max_value=2**47),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_lsum_xlsum_match_exact_python_sum(spark, data):
    """lsum / xlsum (split-long accumulation, r4 VERDICT ask #4) must
    equal the exact integer group sum — including negative values,
    where the arithmetic shiftright floors and the lo half must stay
    in [0, 2^shift)."""
    from real_timetransactionaldatalakehouse_spark.functions import lsum, xlsum

    df = spark.createDataFrame(data, "k int, v long")
    got = {
        r.k: (r.s_plain, r.s_split)
        for r in df.groupBy("k")
        .agg(lsum(F.col("v")).alias("s_plain"), xlsum(F.col("v")).alias("s_split"))
        .collect()
    }
    want = {}
    for k, v in data:
        want[k] = want.get(k, 0) + v
    for k, s in want.items():
        assert got[k][0] == float(s), (k, s, got[k])
        assert got[k][1] == float(s), (k, s, got[k])


@SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=-50, max_value=50),  # value
        ),
        min_size=2,
        max_size=40,
    )
)
def test_robust_scale_matches_python_reference(spark, data):
    """(x - median)/IQR per group must match a NumPy-free Python
    reference using the same interpolated-rank percentile definition
    Spark's `percentile` and DuckDB's `quantile_cont` share; zero-IQR
    groups yield NULL."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        robust_scale,
    )

    df = spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)],
        "rid int, k int, v double",
    )
    got = {r.rid: r.scaled for r in robust_scale(df, ["k"], "v").collect()}

    def q(xs, p):  # interpolated rank, the quantile_cont definition
        xs = sorted(xs)
        pos = p * (len(xs) - 1)
        lo, frac = int(pos), pos - int(pos)
        return xs[lo] if frac == 0 else xs[lo] * (1 - frac) + xs[lo + 1] * frac

    groups = {}
    for i, (k, v) in enumerate(data):
        groups.setdefault(k, []).append((i, float(v)))
    for k, members in groups.items():
        xs = [v for _, v in members]
        med, iqr = q(xs, 0.5), q(xs, 0.75) - q(xs, 0.25)
        for i, v in members:
            if iqr > 0:
                assert got[i] is not None and abs(got[i] - (v - med) / iqr) < 1e-12, (
                    i, got[i], (v - med) / iqr,
                )
            else:
                assert got[i] is None, (i, got[i])


@SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # key
            st.integers(min_value=0, max_value=2000),  # ts seconds
        ),
        min_size=1,
        max_size=50,
    )
)
def test_spike_detect_matches_python_reference(spark, data):
    """recent-bin count vs earlier-bin average per key must match a
    dict-based Python replay, including the drop of keys with no
    baseline bins."""
    import datetime as _dt

    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        spike_detect,
    )

    t0 = _dt.datetime(2024, 1, 1)  # epoch alignment irrelevant: bins are global
    df = spark.createDataFrame(
        [(k, t0 + _dt.timedelta(seconds=s)) for k, s in data],
        "k int, ts timestamp",
    )
    got = {
        r.k: (r.recent_cnt, r.base_avg, r.is_spike)
        for r in spike_detect(df, ["k"], "ts").collect()
    }

    import calendar

    bins = {}
    for k, s in data:
        b = (calendar.timegm(t0.timetuple()) + s) // 600
        bins.setdefault(k, {}).setdefault(b, 0)
        bins[k][b] += 1
    last = max(b for per in bins.values() for b in per)
    want = {}
    for k, per in bins.items():
        base = {b: c for b, c in per.items() if b < last}
        if not base:
            continue
        recent = per.get(last, 0)
        avg = sum(base.values()) / len(base)
        want[k] = (recent, avg, recent / avg > 3.0)
    assert set(got) == set(want), (set(got), set(want))
    for k, (rc, avg, spike) in want.items():
        grc, gavg, gspike = got[k]
        assert grc == rc and abs(gavg - avg) < 1e-12 and gspike == spike, (k, got[k], want[k])


def test_spike_detect_floor_bins_pre_1970(spark):
    """Negative epoch seconds (pre-1970 timestamps) must bin with FLOOR
    division like the DuckDB ``//`` oracle, not truncate-toward-zero
    (r5 ADVICE: Spark's DIV truncates, so -1 s and +1 s would share
    bin 0 and silently break bit-parity on such data)."""
    import calendar
    import datetime as _dt

    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        spike_detect,
    )

    t0 = _dt.datetime(1969, 12, 31, 23, 30)  # epoch -1800 s
    rows = [("a", t0 + _dt.timedelta(seconds=s))
            for s in (0, 10, 1700, 1750, 1790, 3000, 3500)]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = {r.k: (r.recent_cnt, r.base_avg)
           for r in spike_detect(df, ["k"], "ts").collect()}
    bins = {}
    for _, ts in rows:
        b = calendar.timegm(ts.timetuple()) // 600  # Python // floors
        bins[b] = bins.get(b, 0) + 1
    last = max(bins)
    base = {b: c for b, c in bins.items() if b < last}
    assert got["a"] == (bins[last], sum(base.values()) / len(base))


@given(
    weights=st.lists(st.integers(min_value=1, max_value=500),
                     min_size=1, max_size=60),
    k=st.integers(min_value=1, max_value=25),
)
@SETTINGS
def test_sample_systematic_ticket_conservation(spark, weights, k):
    """PPS invariants over generated weights: sum(n_tickets) == k
    exactly; every selected interval really contains its tickets
    (brute-force walk agrees); selection is independent of input
    partitioning."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        sample_systematic,
    )

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r.doc_id: r.n_tickets
           for r in sample_systematic(df, k=k, weight_col="w").collect()}
    assert sum(got.values()) == k
    total, cum, expect = sum(weights), 0, {}
    for i, w in rows:
        lo, cum = cum, cum + w
        nt = (cum * k) // total - (lo * k) // total
        if nt:
            expect[i] = nt
    assert got == expect
    again = {r.doc_id: r.n_tickets
             for r in sample_systematic(
                 df.repartition(5), k=k, weight_col="w"
             ).collect()}
    assert again == expect


def test_semdedup_keeps_exactly_one_least_prototypical_per_cluster(spark, sf_small):
    """SemDeDup keep rule: one keeper per duplicate group, and it is
    the member whose centroid cosine is the group minimum (ties to the
    lowest id) — re-derived here from the operator's own assignment
    output run at the same parameters."""
    import __spark_entry__ as E

    rows = E.queries()["q_semdedup"](spark, sf_small).collect()
    assert rows, "expected non-trivial duplicate groups"
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, f"cluster {cid}: {len(keeps)} keepers"
        assert len(members) >= 2, f"cluster {cid}: singleton entered pair graph"
        assert all(r.n_members == len(members) for r in members), cid
        assert min(r.id for r in members) == cid, "cluster_id must be min id"


def test_semantic_contamination_flags_only_above_threshold(spark, sf_small):
    """Every flagged row clears the threshold, top_score is the max
    pairwise cosine, and unflagged corpus rows have no eval neighbor
    at or above the threshold (spot-checked by recomputing scores for
    the flagged set's complement bound)."""
    import __spark_entry__ as E

    out = E.queries()["q_semantic_decontaminate"](spark, sf_small).collect()
    assert out, "expected non-empty contamination report"
    for r in out:
        assert r.top_score >= 0.28 - 1e-12, r
        assert r.n_eval_hits >= 1, r
        assert r.top_eval_id % 97 == 0, "top_eval_id must be an eval row"
        assert r.id % 97 != 0, "corpus ids only"


def test_semantic_lsh_contamination_is_exact_subset(spark, sf_small):
    """The LSH-bucketed contamination report must be a RECALL subset
    of the exact broadcast report: every flagged id also flagged by
    the exact pass, with n_eval_hits <= exact (candidates missed, not
    invented) and top_score <= exact top_score; where both agree on
    the top eval item the score must be bit-identical (same factored
    dot/norm expression tree)."""
    from real_timetransactionaldatalakehouse_spark.operators import (
        similarity as S,
    )
    from real_timetransactionaldatalakehouse_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_small, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    ev = emb.filter(F.col("vec_id") % 97 == 0)
    exact = {r.id: r for r in
             S.semantic_contamination(corpus, ev).collect()}
    lsh = {r.id: r for r in
           S.semantic_contamination_lsh(corpus, ev).collect()}
    assert exact, "fixture has no contaminated rows"
    for i, r in lsh.items():
        assert i in exact, f"LSH invented id {i}"
        assert r.n_eval_hits <= exact[i].n_eval_hits
        assert r.top_score <= exact[i].top_score
        if r.top_eval_id == exact[i].top_eval_id:
            assert r.top_score == exact[i].top_score


def test_semdedup_cell_cap_exactness_and_refinement(spark, sf_small):
    """max_cell contract: a cap no cell reaches leaves the output
    bit-identical (SemDeDup's in-cell exactness preserved under the
    cap); a tight cap yields clusters that are a REFINEMENT of the
    unbounded ones (subcell scoping can only remove pairs, never
    invent or re-route them), deterministically."""
    from real_timetransactionaldatalakehouse_spark.operators import (
        similarity as S,
    )
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings").filter(F.col("vec_id") < 400)
    unbounded = sorted(map(tuple, S.semantic_dedup(emb).collect()))
    loose = sorted(map(tuple,
                       S.semantic_dedup(emb, max_cell=10**9).collect()))
    assert loose == unbounded, "cap above every cell size must be a no-op"
    tight1 = sorted(map(tuple, S.semantic_dedup(emb, max_cell=8).collect()))
    tight2 = sorted(map(tuple, S.semantic_dedup(emb, max_cell=8).collect()))
    assert tight1 == tight2, "md5 subcell split must be deterministic"
    by_cluster_unbounded = {}
    for (vid, _cell, cid, _n, _keep) in unbounded:
        by_cluster_unbounded.setdefault(cid, set()).add(vid)
    member_to_unbounded = {
        vid: cid for cid, ms in by_cluster_unbounded.items() for vid in ms
    }
    tight_clusters = {}
    for (vid, _cell, cid, n, keep) in tight1:
        tight_clusters.setdefault(cid, []).append((vid, n, keep))
    assert tight_clusters, "tight cap removed every duplicate pair"
    for cid, members in tight_clusters.items():
        hosts = {member_to_unbounded.get(vid) for vid, _, _ in members}
        assert None not in hosts, f"cluster {cid} invented a member"
        assert len(hosts) == 1, f"cluster {cid} spans unbounded clusters"
        assert sum(1 for _, _, keep in members if keep) == 1, cid
        assert all(n == len(members) for _, n, _ in members), cid


def test_semantic_topk_contaminants_matches_bruteforce(spark, sf_small):
    """The per-eval-item review queue (fused-kernel top-3) must equal
    the plain brute-force knn on the same disjoint sides, rank by
    rank, score-bit by score-bit."""
    import __spark_entry__ as E
    from real_timetransactionaldatalakehouse_spark.operators import (
        similarity as S,
    )
    from real_timetransactionaldatalakehouse_spark.sources import load_table
    from pyspark.sql import functions as F

    got = sorted(map(tuple,
                 E.queries()["q_semantic_topk_contaminants"](
                     spark, sf_small).collect()))
    emb = load_table(spark, sf_small, "embeddings")
    want = sorted(map(tuple, S.knn_bruteforce(
        emb.filter(F.col("vec_id") % 97 == 0),
        emb.filter(F.col("vec_id") % 97 != 0), k=3).collect()))
    assert got == want and got


def test_zscore_constant_group_yields_null_not_nan(spark):
    """r9 review fix: the moment-form variance clamps at 0 before
    sqrt, so a constant-valued group emits the documented NULL z (NaN
    compares ABOVE every number in Spark, which previously let a
    rounding-negative variance sneak past the __sd > 0 guard)."""
    import math

    df = spark.createDataFrame(
        [("c", 0.1), ("c", 0.1), ("c", 0.1), ("v", 1.0), ("v", 3.0)],
        "g string, x double",
    )
    rows = zscore_normalize(df, ["g"], "x").collect()
    for r in rows:
        if r.g == "c":
            assert r.z is None, r
        else:
            assert r.z is not None and not math.isnan(r.z), r


def test_robust_scale_non_identifier_column_name(spark):
    """r9 review fix: the percentile F.expr path backtick-quotes the
    value column, so legal-but-non-identifier names parse."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        robust_scale,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0)],
        ["g", "response time"],
    )
    rows = robust_scale(df, ["g"], "response time").collect()
    assert len(rows) == 4 and any(r.scaled is not None for r in rows)


def test_grouped_percentiles_exact_null_semantics(spark):
    """r9 review fix: exact grouped percentiles IGNORE null values
    (matching percentile()/quantile_cont), keep groups whose values
    are all NULL (NULL outputs), and treat a NULL group key as a real
    group — all pinned against Spark's own percentile aggregate."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        grouped_percentiles_exact,
    )

    df = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", None), ("b", None),
         (None, 5.0), (None, 7.0)],
        "g string, x double",
    )
    got = {r.g: (r.p50,) for r in grouped_percentiles_exact(
        df, "g", "x", {"p50": 0.5}
    ).collect()}
    ref = {r.g: (r.p50,) for r in df.groupBy("g").agg(
        F.expr("percentile(x, 0.5)").alias("p50")
    ).collect()}
    assert got == ref, (got, ref)
    assert got["a"] == (2.0,)       # null value ignored, not rank 1
    assert got["b"] == (None,)      # all-null group kept with NULL
    assert got[None] == (6.0,)      # NULL group key is a real group


def test_scd2_keeps_first_version_with_all_null_attrs(spark):
    """r9 review fix: eqNullSafe never returns NULL, so a key's FIRST
    change row with all-NULL drop_unchanged columns compared 'equal' to
    its nonexistent predecessor and was silently dropped — leaving no
    version covering [t1, next)."""
    import datetime

    from real_timetransactionaldatalakehouse_spark.operators.merge import (
        scd2_from_changes,
    )

    t = datetime.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(1, t, None), (1, t + datetime.timedelta(days=1), "x")],
        "k long, ts timestamp, attr string",
    )
    hist = scd2_from_changes(df, ["k"], "ts", drop_unchanged=["attr"]).collect()
    assert len(hist) == 2, hist
    first = min(hist, key=lambda r: r.effective_from)
    assert first.attr is None and first.effective_to is not None


def test_asof_tolerance_clock_ignores_null_valued_rows(spark):
    """r9 review fix: freshness clocks from the last NON-NULL value,
    so a null-valued timeline row cannot refresh the staleness clock
    for a value that actually came from much earlier."""
    import datetime

    from real_timetransactionaldatalakehouse_spark.operators.joins import asof_join

    t = datetime.datetime(2024, 3, 1)

    def ts(sec):
        return t + datetime.timedelta(seconds=sec)

    timeline = spark.createDataFrame(
        [(1, ts(0), 5.0), (1, ts(100), None)], "k long, ts timestamp, v double"
    )
    fact = spark.createDataFrame([(1, ts(101))], "k long, fts timestamp")
    out = asof_join(fact, timeline, "k", "fts", "ts", ["v"],
                    tolerance_s=10).collect()
    assert out[0].v is None, "101s-stale value must be NULLed by a 10s tolerance"
    out2 = asof_join(fact, timeline, "k", "fts", "ts", ["v"],
                     tolerance_s=200).collect()
    assert out2[0].v == 5.0


def test_asof_nearest_values_come_from_winning_row(spark):
    """r9 review fix: the nearest ROW wins and its values are taken
    verbatim (NULLs included) — per-column ignorenulls fills could
    source values from a farther row than the distance winner."""
    import datetime

    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        asof_join_nearest,
    )

    t = datetime.datetime(2024, 3, 1)

    def ts(sec):
        return t + datetime.timedelta(seconds=sec)

    timeline = spark.createDataFrame(
        [(1, ts(1), 7.0), (1, ts(10), None), (1, ts(12), 9.0)],
        "k long, ts timestamp, v double",
    )
    fact = spark.createDataFrame([(1, ts(11), 1)], "k long, fts timestamp, event_id long")
    out = asof_join_nearest(fact, timeline, "k", "fts", "ts", ["v"]).collect()
    # ties (gap 1 backward to ts=10, gap 1 forward to ts=12) resolve
    # backward; the winning row at ts=10 carries v=NULL — verbatim
    assert out[0].v is None, out


def test_asof_joins_tolerate_dotted_column_names(spark):
    """r9 ADVICE: generated-name access must not re-parse literal
    column names containing dots as nested-field paths — both asof
    directions, value and fact columns, with tolerance and tiebreaks."""
    import datetime

    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        asof_join,
        asof_join_nearest,
    )

    t = datetime.datetime(2024, 3, 1)

    def ts(sec):
        return t + datetime.timedelta(seconds=sec)

    timeline = spark.createDataFrame(
        [(1, ts(0), 5.0), (1, ts(20), 8.0)], "k long, ts timestamp, v double"
    ).withColumnRenamed("v", "px.usd")
    fact = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(19), "b")],
        "k long, fts timestamp, tag string",
    ).withColumnRenamed("tag", "meta.tag")

    back = asof_join(fact, timeline, "k", "fts", "ts", ["px.usd"],
                     fact_tiebreaks=["meta.tag"], tolerance_s=15)
    rows = {r["meta.tag"]: r for r in back.collect()}
    assert rows["a"]["px.usd"] == 5.0
    assert rows["b"]["px.usd"] is None  # 19s stale > 15s tolerance

    near = asof_join_nearest(fact.withColumn("event_id", F.lit(1)), timeline,
                             "k", "fts", "ts", ["px.usd"])
    rows = {r["meta.tag"]: r for r in near.collect()}
    assert rows["a"]["px.usd"] == 5.0   # backward gap 10 < forward 10? ties resolve backward
    assert rows["b"]["px.usd"] == 8.0   # forward gap 1 < backward 19

