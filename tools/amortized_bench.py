"""Amortized-scale differential bench: run declared queries and their
DuckDB oracles on an N-fold id-offset replica of the sf0.1 testdata.

Why: at 17 MB the sf0.1 bench mostly measures Spark's per-query
scheduling floor against DuckDB's ~5 ms trivial queries (see
SCALING.md "Measured vs the single-node baseline at amortized
scale").  Replicating the tables N times with per-copy id offsets
keeps join/dedup/window semantics non-degenerate (no artificial key
collisions) while growing the data enough that fixed costs amortize —
the number that extrapolates toward the 100 TB deployment.

Usage:
    python tools/amortized_bench.py q_bm25_search q_session_window_agg
    python tools/amortized_bench.py --copies 10 --out /tmp/sfrep q_...

Builds the replica with DuckDB (fast, no Spark involvement), then
times each named declared query (Spark steady: min of 3 noop-sink
re-executions after a warm run) against its oracle SQL in DuckDB
(min of 3) on the SAME parquet files, and prints a markdown table.

Timing caveat (r9): each rep clocks BUILD + EXECUTE together (the
query is rebuilt inside _timed), i.e. a warm ONE-SHOT number, not
bench.py's prebuilt-plan steady.  For most queries the two coincide
(no work at plan build); for operators with declare-time collects —
the literal-boundary prefix-sum family (global_rank, pack_sequences,
weighted sampling, exact percentiles) — the rebuild re-pays those
build passes every rep.  tools/sort_layout_bench.py measures the
split explicitly (q_orderby at 50x: 2.7 s one-shot vs 0.71 s
prebuilt steady); read this tool's tables as one-shot costs.

Caveat for text-similarity families: id offsets keep JOIN keys unique,
but the replica duplicates TEXT N-fold — every document gains N-1
exact copies, so near-dup queries measure the degenerate-duplicate
path (bucket caps and pair generation under N-cliques).  That is a
legitimate stress (real crawls are full of exact dups) but not the
same workload as N-times-more UNIQUE text.  The same holds for the
embeddings: every vector gains N-1 byte-identical copies, and the
vector operators have no exact-copy shortcut, so q_embed_neardup_lsh
and q_semdedup pay the N-clique pair load.  Structurally quadratic
oracles (bench.ORACLE_SKIP) are never run here.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

# id columns to shift per copy so keys stay globally unique across
# copies (offset chosen far above any real id at sf0.1).  EVERY
# foreign-key column shifts along with the primary key it references
# (r6 fidelity fix): an unshifted FK against a 50-copy dimension
# matches all 50 copies — q_join_broadcast's supplier->nation->region
# snowflake exploded 2500x per row (1.2B output rows; both engines
# honestly paid them: DuckDB 351 s, Spark 2.5 s of noop-sink codegen)
# — which measures an artifact no real 50x lakehouse has.  With FKs
# shifted, each copy is a self-contained 1:1 universe and the replica
# is literally "the same lakehouse, 50x more tenants".
OFFSET_COLS: dict[str, list[str]] = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "region": ["r_regionkey"],
}
OFFSET = 10_000_000


def build_replica(src: str, dest: str, copies: int) -> None:
    """Write each table as a DIRECTORY of one parquet file per copy.

    The r5 fidelity fix: a single-file single-row-group replica scans
    as ONE Spark task no matter the size, so map-heavy queries were
    timing a serialized scan stage against DuckDB's intra-file
    parallelism — an artifact no production table has (a 100 TB table
    is thousands of files).  One file per copy gives Spark its natural
    split count; both engines read the same bytes (Spark reads the
    directory, DuckDB globs it)."""
    import shutil

    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    for table, idcols in OFFSET_COLS.items():
        src_file = os.path.join(src, f"{table}.parquet")
        if not os.path.exists(src_file):
            continue
        out = os.path.join(dest, f"{table}.parquet")
        if os.path.isdir(out):
            done = [f for f in os.listdir(out) if f.endswith(".parquet")]
            if len(done) == copies:
                continue  # complete build from a prior run
            shutil.rmtree(out)  # crashed mid-build: rebuild from scratch
        elif os.path.exists(out):
            os.remove(out)  # stale pre-r5 single-file replica
        os.makedirs(out)
        cols = [c[0] for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src_file}')").fetchall()]
        for k in range(copies):
            proj = ", ".join(
                f"({c} + {k * OFFSET}) AS {c}" if c in idcols else c for c in cols
            )
            con.execute(
                f"COPY (SELECT {proj} FROM read_parquet('{src_file}')) "
                f"TO '{os.path.join(out, f'part-{k:04d}.parquet')}' (FORMAT PARQUET)"
            )
    con.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf0.1rep10")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    build_replica(args.src, args.out, args.copies)

    import __spark_entry__ as entry
    from real_timetransactionaldatalakehouse_spark import TPCH_TABLES
    from real_timetransactionaldatalakehouse_spark.session import (
        batch_session, tune_for_input,
    )

    spark = batch_session("amortized-bench")
    input_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(args.out) for f in fs
    )
    tune_for_input(spark, input_bytes)
    qs, osql = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    for t in TPCH_TABLES:
        f = os.path.join(args.out, f"{t}.parquet")
        if os.path.isdir(f):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}/*.parquet')"
            )
        elif os.path.exists(f):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")

    rows = []
    for name in args.queries:
        df = qs[name](spark, args.out)
        df.write.mode("overwrite").format("noop").save()  # warm
        s_best = min(
            _timed(lambda: qs[name](spark, args.out).write.mode("overwrite")
                   .format("noop").save(), spark)
            for _ in range(args.reps)
        )
        # mirror bench.py's ORACLE_SKIP: some oracles are structurally
        # quadratic (the all-pairs exact-Jaccard twin of MinHash) and
        # must not run at replica scale
        from bench import ORACLE_SKIP

        has_oracle = name in osql and name not in ORACLE_SKIP
        d_best = 1e9
        if has_oracle:
            for _ in range(args.reps):
                t0 = time.perf_counter()
                # Arrow materialization, NOT fetchall (r6 fidelity
                # fix): at replica scale a map-only query can output
                # tens of millions of rows, and fetchall's per-row
                # Python-object conversion dominates the wall —
                # single-threaded and ~10x the query itself — which
                # inflates the DuckDB denominator and FLATTERS the
                # Spark ratio.  .arrow() still forces full execution
                # and materializes every result value (columnar,
                # vectorized), the honest analogue of Spark's noop
                # sink which produces every row but ships none to the
                # driver.  bench.py keeps fetchall at sf0.1 where
                # outputs are small and round-over-round comparability
                # of the recorded gate matters.
                con.execute(osql[name]).arrow()
                d_best = min(d_best, time.perf_counter() - t0)
        rows.append((name, s_best, d_best if has_oracle else None))
        print(f"# {name}: spark {s_best:.2f} s, duckdb "
              f"{d_best:.2f} s" if name in osql else f"# {name}: spark {s_best:.2f} s",
              file=sys.stderr)

    print("| query | Spark one-shot (warm rebuild) | DuckDB | ratio |")
    print("|---|---|---|---|")
    ts = td = 0.0
    for name, s, d in rows:
        if d is None:
            print(f"| {name} | {s:.2f} s | — | — |")
            continue
        ts += s
        td += d
        print(f"| {name} | {s:.2f} s | {d:.2f} s | {s / d:.1f}x |")
    if td:
        print(f"| **TOTAL ({len(rows)} families)** | **{ts:.1f} s** "
              f"| **{td:.1f} s** | **{ts / td:.2f}x** |")


def _timed(fn, spark) -> float:
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return dt


if __name__ == "__main__":
    main()
