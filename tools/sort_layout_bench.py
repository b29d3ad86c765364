"""Global-sort cost decomposition at replica scale (SCALING.md S1).

q_orderby materializes a global ROW POSITION over events — the only
form whose hash locks total ordering, so it is what the oracle can
certify — and at the 50x replica it rows at ~2.9x the DuckDB twin
(SCALING.md r8 prefix-sum table).  Measuring the split showed that
gap is a BUILD-vs-EXECUTION split, not a layout-vs-rank split: the
2.9x row clocks a warm REBUILD (global_rank's boundary-sample and
per-bucket offset collects run at plan build, re-paid every rep),
while the PREBUILT plan re-executes the scan + bucket-local sort +
rank in ~0.7 s — faster than DuckDB's own ROW_NUMBER twin, and only
~0.02 s over the rank-free layout sort.  So the tool reports two
clocks for each of two forms:

1. the sorted LAYOUT form (range partition + per-partition sort, no
   rank column) — the part a 100 TB lakehouse actually pays
   continuously: the S4 pre-write sort (reference
   `src/maintenance/compact_cold_data.py:21-24` sorts cold partitions
   on write) whose product is ordered files for zone-map / min-max
   pruning.  No build collects: one-shot ~= steady.
2. the CERTIFIED global_rank form (layout + two-phase
   literal-boundary rank, `relational.global_rank`) — one-shot pays
   the boundary collects; repeated execution amortizes them as plan
   constants.  A position column is worth materializing only when
   the plan is REUSED, which is exactly the shape the engine gives
   it.

Each Spark form is timed against the DuckDB statement that does the
same work on the same parquet files (.arrow() materialization, the
noop-sink analogue — see amortized_bench.py for why not fetchall):

| Spark form                      | DuckDB twin                      |
|---------------------------------|----------------------------------|
| global_rank (the q_orderby plan)| ROW_NUMBER() OVER (ORDER BY ...) |
| orderBy -> noop (layout only)   | ORDER BY ... (no rank column)    |

Usage:
    python tools/sort_layout_bench.py --copies 50
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tools.amortized_bench import build_replica  # noqa: E402


def _spark_times(df_fn, spark, reps: int) -> tuple[float, float]:
    """(rebuild, steady), both min-of-reps after a shared untimed warm
    pass (JVM/codegen/page-cache warmth excluded from both):

    - rebuild = build + execute inside one clock, per rep — the
      amortized_bench methodology, what a ONE-SHOT query pays.  For
      global_rank the boundary-sample and per-bucket offset collects
      run at PLAN BUILD, so a one-shot clock rightly contains them.
    - steady  = re-execution of a PREBUILT plan — bench.py's sf0.1
      methodology, what REPEATED execution pays (the collects are
      declare-time constants).

    Reporting both is the point: the r8 amortized table's 2.9x
    q_orderby row is a REBUILD number while the sf0.1 gate rows are
    PREBUILT — conflating the two overstates the rank-materialization
    share of the steady cost (r9 review fix)."""
    df = df_fn()
    df.write.mode("overwrite").format("noop").save()  # shared warm
    rebuild = 1e9
    for _ in range(reps):
        t0 = time.perf_counter()
        df_fn().write.mode("overwrite").format("noop").save()
        rebuild = min(rebuild, time.perf_counter() - t0)
        spark.catalog.clearCache()
    steady = 1e9
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        steady = min(steady, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return rebuild, steady


def _duck_steady(con, sql: str, reps: int) -> float:
    con.execute(sql).arrow()  # warm
    best = 1e9
    for _ in range(reps):
        t0 = time.perf_counter()
        con.execute(sql).arrow()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=50)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    out = args.out or f"/tmp/sf0.1rep{args.copies}"

    build_replica(args.src, out, args.copies)

    from real_timetransactionaldatalakehouse_spark.operators import relational as R
    from real_timetransactionaldatalakehouse_spark.session import (
        batch_session, tune_for_input,
    )
    from real_timetransactionaldatalakehouse_spark.sources.tables import load_table

    spark = batch_session("sort-layout-bench")
    input_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(out) for f in fs
    )
    tune_for_input(spark, input_bytes)
    spark.sparkContext.setLogLevel("ERROR")

    events = lambda: load_table(spark, out, "events")  # noqa: E731
    n = events().count()
    print(f"# events rows at {args.copies}x: {n:,}", file=sys.stderr)

    forms = [
        (
            "global_rank (q_orderby: layout + rank materialization)",
            lambda: R.global_rank(events(), ["ts", "event_id"])
            .select("event_id", "user_id", "pos"),
            "SELECT event_id, user_id, ROW_NUMBER() OVER "
            "(ORDER BY ts ASC, event_id ASC) AS pos FROM events",
        ),
        (
            "orderBy -> write (S4 sorted layout, the 100 TB form)",
            lambda: events()
            .select("event_id", "user_id", "ts")
            .orderBy("ts", "event_id"),
            "SELECT event_id, user_id, ts FROM events "
            "ORDER BY ts ASC, event_id ASC",
        ),
    ]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(out, 'events.parquet')}/*.parquet')"
    )

    print("| form | Spark one-shot (build+exec) | Spark steady (prebuilt) | DuckDB twin | one-shot ratio | steady ratio |")
    print("|---|---|---|---|---|---|")
    for label, df_fn, sql in forms:
        rebuild, s = _spark_times(df_fn, spark, args.reps)
        d = _duck_steady(con, sql, args.reps)
        print(f"| {label} | {rebuild:.2f} s | {s:.2f} s | {d:.2f} s "
              f"| {rebuild / d:.1f}x | {s / d:.1f}x |")


if __name__ == "__main__":
    main()
