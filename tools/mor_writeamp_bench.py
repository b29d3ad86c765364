#!/usr/bin/env python
"""Measure streaming MoR write amplification at replica scale
(VERDICT r7 #6): replay the SAME synthetic CDC feed through
``dims_scd1_stream`` with ``write_mode="cow"`` and ``write_mode="mor"``
and record, per micro-batch commit:

- wall (from version-dir commit mtimes — each non-empty batch commits
  exactly one version, so consecutive mtime deltas are per-batch
  end-to-end walls: read + merge + write),
- bytes written (the version dir's parquet payload — the direct
  write-amplification metric: CoW rewrites ~|table| bytes per batch,
  MoR writes ~|delta|),
- flatten cost (the full-snapshot versions the built-in fold rule,
  ``tablefmt.MOR_MAX_CHAIN``, interleaves into the MoR chain).

Scale: the dimension is ``--keys`` rows (default 750k ~ 50x the sf0.1
customer table) with a few snowflake columns; each of ``--batches``
CDC batches updates ``--updates-per-batch`` deterministic keys.

Usage:
  python tools/mor_writeamp_bench.py [--keys 750000] [--batches 12]
      [--updates-per-batch 5000]

Prints one JSON object (also the SCALING.md r8 table's source).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dir_bytes(p: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=750_000)
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--updates-per-batch", type=int, default=5_000)
    ap.add_argument("--modes", default="cow,mor",
                    help="comma list; run one mode per process for a "
                         "JVM-state-free comparison")
    ap.add_argument("--workdir", default=None,
                    help="reuse a prior run's CDC feed (and compare "
                         "against its other mode's target)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "100g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from real_timetransactionaldatalakehouse_spark import tablefmt as TF
    from real_timetransactionaldatalakehouse_spark.sources import file_stream
    from real_timetransactionaldatalakehouse_spark.streaming.jobs import dims_scd1_stream

    K, B, U = args.keys, args.batches, args.updates_per_batch
    work = args.workdir or tempfile.mkdtemp(prefix="moramp_")
    feed_exists = os.path.isdir(os.path.join(work, "cdc"))

    # deterministic CDC feed: b0 creates every key; each later batch
    # updates U keys spread over the key space (no rand - retry-stable)
    def batch_df(b: int):
        if b == 0:
            base = spark.range(K)
            return base.select(
                F.lit("c").alias("op"),
                F.lit(1000).cast("long").alias("ts_ms"),
                F.concat(F.lit("u"), F.col("id")).alias("user_id"),
                F.lit("Standard").alias("ltv_segment"),
                F.lit(False).alias("is_creator"),
                F.lit("US").alias("register_country"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            )
        upd = spark.range(U).select(
            F.lit("u").alias("op"),
            F.lit(1000 + b * 10).cast("long").alias("ts_ms"),
            F.concat(
                F.lit("u"), ((F.col("id") * 149 + b * 37) % K)
            ).alias("user_id"),
            F.lit(f"Seg{b}").alias("ltv_segment"),
            F.lit(True).alias("is_creator"),
            F.lit(None).cast("string").alias("register_country"),
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(b)), 256)
            .alias("payload"),
        )
        return upd

    src = os.path.join(work, "cdc")
    schema = batch_df(0).schema
    now = time.time()
    if not feed_exists:
        os.makedirs(src)
    for b in range(B + 1) if not feed_exists else []:
        tmp = os.path.join(work, f"stage{b}")
        batch_df(b).coalesce(4).write.mode("overwrite").parquet(tmp)
        merged = os.path.join(src, f"b{b:03d}.parquet")
        # one file per batch so maxFilesPerTrigger=1 maps 1 file -> 1
        # micro-batch, in feed order (source picks files by mtime)
        import pyarrow.parquet as pq

        tables = [
            pq.read_table(os.path.join(tmp, f))
            for f in sorted(os.listdir(tmp))
            if f.endswith(".parquet")
        ]
        import pyarrow as pa

        pq.write_table(pa.concat_tables(tables), merged)
        os.utime(merged, (now + b, now + b))
        shutil.rmtree(tmp)

    results = {}
    mode_kw = {
        "cow": {},
        "mor": {"write_mode": "mor"},
    }
    for mode in args.modes.split(","):
        kw = mode_kw[mode]
        target = os.path.join(work, f"dim_{mode}")
        if os.path.isdir(target):
            shutil.rmtree(target)
            shutil.rmtree(os.path.join(work, f"ckpt_{mode}"), ignore_errors=True)
        ckpt = os.path.join(work, f"ckpt_{mode}")
        t0 = time.time()
        dims_scd1_stream(
            file_stream(spark, src, schema),
            target, ckpt,
            key_cols=["user_id"], order_col="ts_ms",
            update_cols=["ltv_segment", "is_creator", "ts_ms", "payload"],
            **kw,
        )
        wall = time.time() - t0
        versions = TF.list_versions(target)
        per_commit = []
        prev_mtime = None
        for v in versions:
            vp = TF.version_path(target, v)
            meta = TF.mor_meta(target, v)
            mtime = os.path.getmtime(vp)
            per_commit.append({
                "version": v,
                "kind": "mor_delta" if meta is not None else "full",
                "bytes": dir_bytes(vp),
                "wall_s": round(mtime - prev_mtime, 2) if prev_mtime else None,
            })
            prev_mtime = mtime
        rows = TF.read_table(spark, target).count()
        results[mode] = {
            "total_wall_s": round(wall, 1),
            "final_rows": rows,
            "n_commits": len(versions),
            "total_bytes_written": sum(c["bytes"] for c in per_commit),
            "per_commit": per_commit,
        }

    out = {
        "keys": K,
        "batches": B,
        "updates_per_batch": U,
        "mor_max_chain": TF.MOR_MAX_CHAIN,
        "results": results,
        "workdir": work,
    }
    # equivalence guard when both targets exist (this run or a prior
    # one sharing --workdir): the replays must land identical rows
    if all(os.path.isdir(os.path.join(work, f"dim_{m}")) for m in ("cow", "mor")):
        hashes = {}
        for m in ("cow", "mor"):
            hashes[m] = (
                TF.read_table(spark, os.path.join(work, f"dim_{m}"))
                .selectExpr(
                    "bit_xor(xxhash64(user_id, ltv_segment, ts_ms)) AS h",
                    "count(*) AS n",
                )
                .first()
            )
        out["rows_equal"] = hashes["cow"]["n"] == hashes["mor"]["n"]
        out["content_hash_equal"] = hashes["cow"]["h"] == hashes["mor"]["h"]
        cow_b = dir_bytes(os.path.join(work, "dim_cow"))
        mor_b = dir_bytes(os.path.join(work, "dim_mor"))
        out["write_amp_bytes_cow_over_mor"] = round(cow_b / max(mor_b, 1), 2)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
