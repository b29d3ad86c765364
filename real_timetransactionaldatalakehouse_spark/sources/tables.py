"""Batch parquet table access over the driver testdata layout.

One ``<name>.parquet`` file per table under an ``sf`` directory
(TESTDATA.md).  Reads are plain ``spark.read.parquet`` so Catalyst
keeps pushdown/pruning; no schema inference happens on the hot path
(schemas live in the parquet footers, mirroring the reference's
explicit-schema discipline, reference ``streaming_job.py:170-186``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import TPCH_TABLES

# Tables whose parquet files carry INT64 TIMESTAMP(NANOS) columns, which
# Spark 4 rejects by default.  Read them as nano-longs
# (spark.sql.legacy.parquet.nanosAsLong) and convert to TimestampType
# via exact integer division (ns DIV 1000 -> us; a double divide would
# lose precision above 2^53).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    nano_cols = _NANO_TS_COLS.get(name, ())
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in nano_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
    # Naive parquet timestamps (isAdjustedToUTC=false) infer as
    # TIMESTAMP_NTZ on Spark 4, which rejects numeric casts and diverges
    # from the engine's single-timestamp-type contract.  Normalize to
    # TimestampType at the read boundary: the session zone is pinned UTC
    # everywhere (``_q``), so the wall-clock values are
    # unchanged — same semantics DuckDB applies to the same files.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition an under-split source before expensive
    per-row map work (JSON parse, regex, kernel stages).

    Parquet row groups are Spark's minimum split unit; a file written
    as one row group (this testdata; also gzip text, small Kafka
    topics) scans as ONE task, serializing whatever map work follows.
    A repartition to the session's shuffle parallelism costs one
    narrow exchange and unlocks the cluster for the expensive stage —
    the standard move whenever upstream produced fewer splits than
    cores.  On a well-split table the exchange would re-shuffle the
    full payload for nothing, so it is skipped unless it would at
    least DOUBLE the parallelism: re-shuffling the payload for a
    fractional speedup loses (measured: 25 -> 37 partitions on a 50x
    replica cost 1.5x total wall; 1 -> 32 on the single-row-group
    bench file wins 10x).  ``partitions`` (default: the session's
    shuffle partitions) sizes the target for callers whose per-row
    work is heavy enough to want every core."""
    # r13 note (measured, left alone): widening the DEFAULTED target to
    # core count was tried and REGRESSED the light defaulted sites
    # (q_bpe_pairs 1.28x, q_semdedup 1.37x paired) — 32-task scheduling
    # overhead beats the parallelism win when per-row work is small.
    # Sites whose per-row work is provably heavy (gram md5, shingle
    # zip_with chains) pass an explicit core-count target instead.
    n = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if df.rdd.getNumPartitions() * 2 > n:  # gains < 2x: skip
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for the SQL entry point."""
    for n in TPCH_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
