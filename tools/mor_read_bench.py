#!/usr/bin/env python
"""Measure the MoR READ path between flattens at replica scale
(VERDICT r8 #6): the write-amp bench justified the delta write path
(6.24x fewer bytes than CoW), but the flatten cadence `MOR_MAX_CHAIN`
was justified only by plan-node counts (d(d+1)/2 broadcast anti-joins
after Catalyst's PushdownLeftSemiAntiJoin).  This records what a
READER actually pays at each chain depth, so the fold depth is
re-derived from a measurement:

- full scan: ``read_table`` -> noop sink (plan BUILD INCLUDED in the
  clock — the quadratic join authoring is a real per-read cost a
  fresh reader pays; steady re-executions are reported separately),
- point lookup: resolve-then-filter on 100 keys, ``collect()``
  (the serving-layer shape: the merge anti-joins cannot be pruned
  below the resolution, so the lookup pays the chain too),
- depth 0 baseline: the same table after ``flatten_mor``.

Scale: --keys 750000 (~50x the sf0.1 customer dimension, the same
scale the write-amp bench used); each delta updates --updates 5000
keys.  Depths measured: 1, 4, 8 (MOR_MAX_CHAIN), and 0 post-flatten.

Usage:
  python tools/mor_read_bench.py [--keys 750000] [--updates 5000]
      [--depths 1,4,8] [--reps 3]

Prints one JSON object (the SCALING.md r9 table's source).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=750_000)
    ap.add_argument("--updates", type=int, default=5_000)
    ap.add_argument("--depths", default="1,4,8")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    depths = sorted(int(d) for d in args.depths.split(","))

    from pyspark.sql import functions as F

    from real_timetransactionaldatalakehouse_spark.session import batch_session

    # the production read profile (AQE, skew handling, 64m broadcast
    # threshold) — the depth-d broadcast anti-join chain this tool
    # measures must be planned the way real readers plan it.  Keep the
    # big local-mode heap the first draft (and the sibling write-amp
    # bench) sized for 750k+ keys: in local mode the driver JVM holds
    # all executor memory, and the 8g default tips over at large
    # --keys.  setdefault so an explicit env override still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "100g")
    spark = batch_session("mor-read-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from real_timetransactionaldatalakehouse_spark import tablefmt as TF

    K, U = args.keys, args.updates
    work = tempfile.mkdtemp(prefix="mor-read-")
    tbl = os.path.join(work, "dim")
    base = spark.range(K).select(
        F.col("id"),
        (F.col("id") % 997).alias("segment"),
        F.md5(F.col("id").cast("string")).alias("payload"),
        F.lit(0).alias("batch"),
    )
    TF.write_version(base, tbl)

    probe_ids = [int(i * (K // 100) + 7) for i in range(100)]

    def full_scan() -> tuple[float, float]:
        # fresh-reader wall (build + execute) and steady re-execution
        best_fresh = best_steady = 1e9
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = TF.read_table(spark, tbl)
            df.write.mode("overwrite").format("noop").save()
            best_fresh = min(best_fresh, time.perf_counter() - t0)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best_steady = min(best_steady, time.perf_counter() - t1)
        return best_fresh, best_steady

    def point_lookup() -> float:
        best = 1e9
        for _ in range(args.reps):
            t0 = time.perf_counter()
            got = (
                TF.read_table(spark, tbl)
                .filter(F.col("id").isin(probe_ids))
                .collect()
            )
            assert len(got) == len(probe_ids)
            best = min(best, time.perf_counter() - t0)
        return best

    rows = []

    def record(depth: int) -> None:
        fresh, steady = full_scan()
        rows.append({
            "depth": depth,
            "full_scan_fresh_s": round(fresh, 3),
            "full_scan_steady_s": round(steady, 3),
            "point_lookup_100_s": round(point_lookup(), 3),
        })
        print(f"# depth {depth}: scan fresh {fresh:.2f} s, "
              f"steady {steady:.2f} s, lookup {rows[-1]['point_lookup_100_s']} s",
              file=sys.stderr)

    depth = 0
    for target in depths:
        while depth < target:
            k0 = (depth * U) % (K - U)
            delta = spark.range(k0, k0 + U).select(
                F.col("id"),
                (F.col("id") % 997).alias("segment"),
                F.md5(F.concat(F.col("id").cast("string"),
                               F.lit(f"u{depth}"))).alias("payload"),
                F.lit(depth + 1).alias("batch"),
            )
            TF.write_mor_upsert(delta, tbl, ["id"])
            depth += 1
        assert TF.mor_chain_depth(tbl) == target
        record(target)

    TF.flatten_mor(spark, tbl)
    assert TF.mor_chain_depth(tbl) == 0
    record(0)

    n = TF.read_table(spark, tbl).count()
    assert n == K, n
    print(json.dumps({
        "metric": "mor_read_path_vs_chain_depth",
        "keys": K,
        "updates_per_delta": U,
        "mor_max_chain": TF.MOR_MAX_CHAIN,
        "rows": rows,
    }))


if __name__ == "__main__":
    main()
