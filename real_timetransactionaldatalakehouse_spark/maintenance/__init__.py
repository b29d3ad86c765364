"""Maintenance jobs (SURVEY.md section 2 M1-M4): compaction, TTL
delete, table stats — the engine re-platforming of the reference's
Iceberg procedures (``compact_cold_data.py``).

Format-free design: compaction is a predicate-scoped read ->
repartition-to-target-file-size -> swap rewrite, preserving row counts
(the reference's invariant).  On a ``tablefmt`` versioned table the
swap is a snapshot commit, so a rewrite also folds any merge-on-read
chain back to a full snapshot.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tablefmt

TARGET_FILE_BYTES = 128 * 1024 * 1024  # reference compact_cold_data.py:28


def _read_target(spark: SparkSession, path: str) -> DataFrame:
    if tablefmt.is_versioned(path):
        return tablefmt.read_table(spark, path)
    return spark.read.parquet(path)


def _safe_swap_rewrite(spark: SparkSession, path: str, out: DataFrame,
                       expect_rows: int, suffix: str) -> None:
    """Replace ``path``'s data with ``out``, never destroying the old
    data before the new data is validated.

    Versioned tables commit a new snapshot (pointer flip, old versions
    retained).  Plain dirs write to tmp, verify the row count, then
    swap via a ``.bak`` rename — a crash at any step leaves either the
    old or the new data intact and recoverable, and a count mismatch
    aborts BEFORE anything is deleted (the old rmtree-then-rename did
    the destructive step first and could only report the loss)."""
    if tablefmt.is_versioned(path):
        tablefmt.write_version(out, path, expect_rows=expect_rows)
        return
    tmp = path.rstrip("/") + suffix
    out.write.mode("overwrite").parquet(tmp)
    got = spark.read.parquet(tmp).count()
    if got != expect_rows:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"rewrite aborted: tmp has {got} rows, expected {expect_rows}; "
            f"{path} untouched"
        )
    bak = path.rstrip("/") + ".bak"
    if os.path.exists(bak):
        shutil.rmtree(bak)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)


def _list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive parquet file listing through the Hadoop FileSystem
    API — resolves whatever scheme the path carries (``file://``,
    ``hdfs://``, ``s3a://``), so the maintenance jobs run unchanged
    against an object store.  Driver-side by design: one table's
    current snapshot has a compactor-bounded file count; a
    metastore-scale deployment reads the table format's metadata
    tables instead of listing storage."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    out: list[tuple[str, int]] = []
    if not fs.exists(p):
        return out
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        # toString() keeps the fully-qualified URI (scheme + authority):
        # on an object store the bucket (s3a://bucket/...) must stay in
        # the file column or paths are ambiguous across buckets
        name = st.getPath().toString()
        if name.endswith(".parquet"):
            out.append((name, st.getLen()))
    return out


def _live_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """The table's live parquet files: on a versioned table only the
    dirs its current snapshot resolves through
    (``tablefmt.snapshot_dirs`` — the MoR deltas and their bases, not
    every retained version or orphan ``.tmp`` dir)."""
    if not tablefmt.is_versioned(path):
        return _list_parquet_files(spark, path)
    return [
        f for d in tablefmt.snapshot_dirs(path) for f in _list_parquet_files(spark, d)
    ]


def table_stats(spark: SparkSession, path: str) -> DataFrame:
    """A10: file-level stats (count / bytes / avg file size) — the
    engine-maintained analogue of the reference's ``tbl$files``
    metadata-table dashboards (lakehouse_monitor.json:117,314).

    Versioned tables report the CURRENT snapshot only (matching
    ``tbl$files``, which lists the live snapshot's data and delete
    files)."""
    files = _live_files(spark, path)
    df = spark.createDataFrame(files or [("", 0)], "file string, bytes long")
    if not files:
        df = df.filter(F.col("file") != "")
    return df.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        (F.sum("bytes").cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_file_bytes"),
    )


def compact(
    spark: SparkSession,
    path: str,
    where: Column | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """M1: bin-packing compaction.  ``where`` scopes the rewrite to
    cold data only (reference: older than 1 h, compact_cold_data.py:25)
    — hot partitions are left untouched so the streaming writer never
    races the compactor.  Returns before/after stats; row count is
    preserved by construction: the cold/hot split is null-safe (a row
    whose predicate evaluates NULL counts as hot, i.e. untouched), and
    the swap validates the rewritten row count before anything is
    replaced."""
    df = _read_target(spark, path)
    n_before = df.count()
    # null-safe split: where=NULL rows are NOT cold — they stay in the
    # hot (untouched) half instead of silently dropping out of both
    cold_pred = F.coalesce(where, F.lit(False)) if where is not None else None
    cold = df.filter(cold_pred) if cold_pred is not None else df
    hot = df.filter(~cold_pred) if cold_pred is not None else None

    total_bytes = sum(b for _f, b in _live_files(spark, path))
    # Size the rewrite off the COLD subset's bytes, not the whole
    # table's: only the cold rows land in these files, so sizing off
    # total_bytes made a half-cold table's rewritten files ~half the
    # 128 MB target — the small-file symptom compaction exists to cure
    # (r9 VERDICT #3).  Cold bytes are estimated from the row fraction
    # (uniform-row-size assumption — fine for a cold/hot split of one
    # schema; a table whose old rows are systematically wider still
    # lands within ~2x of target).
    n_cold = cold.count() if cold_pred is not None else n_before
    cold_bytes = total_bytes * (n_cold / n_before) if n_before else 0
    n_files = max(1, round(cold_bytes / target_file_bytes))

    packed = cold.repartition(n_files)
    out = packed.unionByName(hot) if hot is not None else packed
    _safe_swap_rewrite(spark, path, out, n_before, ".compact-tmp")
    n_after = _read_target(spark, path).count()
    return {"rows_before": n_before, "rows_after": n_after,
            "cold_rows": n_cold, "files_target": n_files}


def expire_snapshots(
    path: str, keep_last: int = 2, older_than_s: float | None = None
) -> dict:
    """M2: drop versioned-table snapshots beyond the last ``keep_last``
    (current always kept; recent ones retained when ``older_than_s``
    is set) — reference ``compact_cold_data.py:56-72``
    expire_snapshots(retain_last, older_than)."""
    return tablefmt.expire_snapshots(
        path, keep_last=keep_last, older_than_s=older_than_s
    )


def remove_orphans(path: str) -> dict:
    """M3: delete in-flight tmp dirs left by crashed writers —
    reference ``compact_cold_data.py:74-92`` remove_orphan_files."""
    return tablefmt.remove_orphans(path)


def ttl_delete(spark: SparkSession, path: str, ts_col: str, cutoff) -> dict:
    """M4: retention delete — rewrite keeping rows newer than the
    cutoff (reference DataModel_SchemaDesign.md:136, 7-day gold TTL).
    The rewrite validates the kept-row count before the swap, so a
    failed write can never destroy the retained data."""
    df = _read_target(spark, path)
    n_before = df.count()
    kept = df.filter(F.col(ts_col) >= F.lit(cutoff))
    n_kept = kept.count()
    _safe_swap_rewrite(spark, path, kept, n_kept, ".ttl-tmp")
    n_after = _read_target(spark, path).count()
    return {"rows_before": n_before, "rows_after": n_after}


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column-level table profile — the ``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS`` analogue serving layout/optimizer
    decisions (join-side choice, dictionary-encoding candidates,
    null-heavy column pruning).

    One pass over the data: every column's non-null and exact distinct
    count ride in a single aggregation (Catalyst plans the multi-column
    COUNT DISTINCT with one Expand, so the input is scanned once), and
    the wide one-row result is unpivoted to ``(column, n_rows,
    n_nonnull, n_distinct)`` rows with a metadata-sized stack — counts
    only, so the profile is engine-neutral and oracle-exact (min/max
    would drag engine-specific value formatting into the contract).
    """
    names = cols or df.columns
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in names:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}" for c in names
    )
    return row.selectExpr(
        f"stack({len(names)}, {stack_args}) as (column, n_nonnull, n_distinct)",
        "__n as n_rows",
    ).select("column", "n_rows", "n_nonnull", "n_distinct")


def run_maintenance(
    spark: SparkSession,
    catalog,
    tables: list[str] | None = None,
    cold_where: dict[str, Column] | None = None,
    keep_last: int = 5,
    expire_older_than_s: float | None = None,
    ttl: dict[str, tuple[str, object]] | None = None,
    zorder: dict[str, list[str]] | None = None,
) -> dict:
    """M5 analogue: the reference's hourly maintenance run
    (``dags/maintenance_dag.py:13-31`` scheduling
    ``compact_cold_data.py``: per-table cold compaction, then global
    expire-snapshots ``retain_last=5, older_than=...`` and orphan
    removal) composed into ONE entry point over catalog tables — call
    it from any scheduler (Airflow, cron, a streaming job's idle
    trigger); the engine core stays scheduler-free, as SURVEY scopes.

    Order matters and mirrors the reference script: compact FIRST
    (writes a new snapshot on versioned tables), so expire-snapshots
    afterwards can retire the pre-compaction layout; orphan removal
    last sweeps tmp dirs from any writer that crashed mid-rewrite.

    ``tables`` defaults to every table in every catalog namespace.
    ``cold_where`` maps table name -> cold predicate (the reference
    compacts only data older than 1 h so the streaming writer never
    races the compactor); absent entries compact the whole table.
    ``ttl`` maps table name -> (ts_col, cutoff) for retention deletes
    (reference: 7-day gold TTL, DataModel_SchemaDesign.md:136).
    ``zorder`` maps table name -> column list; those tables rewrite
    through :func:`zorder_compact` (multi-column data-skipping layout)
    instead of plain bin-packing.  Every versioned table is treated
    alike: the rewrite commits a full snapshot, which also folds a
    live merge-on-read chain to depth 0 so expiry can retire its delta
    versions (writers keep the chain under ``tablefmt.MOR_MAX_CHAIN``
    between runs).

    Returns ``{table: {compact, expired, orphans, ttl}}``
    — each step's own report, so a scheduler can alert on any
    sub-step."""
    if tables is None:
        tables = [
            f"{ns}.{t}" for ns in catalog.namespaces() for t in catalog.tables(ns)
        ]
    report: dict[str, dict] = {}
    for name in tables:
        meta = catalog.meta(name)
        path = meta["path"]
        r: dict = {}
        if zorder and name in zorder:
            r["compact"] = zorder_compact(spark, path, zorder[name])
        else:
            r["compact"] = compact(
                spark, path, where=(cold_where or {}).get(name)
            )
        if meta.get("versioned"):
            r["expired"] = expire_snapshots(
                path, keep_last=keep_last, older_than_s=expire_older_than_s
            )
            r["orphans"] = remove_orphans(path)
        if ttl and name in ttl:
            ts_col, cutoff = ttl[name]
            r["ttl"] = ttl_delete(spark, path, ts_col, cutoff)
        report[name] = r
    return report


def maintenance_loop(
    spark: SparkSession,
    catalog,
    interval_s: float = 3600.0,
    max_runs: int | None = None,
    clock=None,
    sleep=None,
    on_error: str = "continue",
    **run_kwargs,
) -> list[dict]:
    """M5: the cadence runner itself — the executable twin of the
    reference's hourly DAG (``dags/maintenance_dag.py:13-31``:
    ``schedule_interval="@hourly"``, one BashOperator spark-submit of
    the maintenance script, ``catchup=False``).

    Fixed-rate schedule with the DAG's no-catchup semantics: each run
    fires at the next multiple of ``interval_s`` from the loop's
    start, and if a run OVERRUNS the interval the missed ticks are
    skipped (never queued — exactly Airflow's ``catchup=False`` /
    ``max_active_runs=1`` behavior, and the property that keeps a slow
    compaction from stampeding itself).  ``on_error="continue"``
    records a failed run's exception string in its report and keeps
    the cadence (the DAG's retry-next-hour posture); ``"raise"``
    propagates.

    ``clock``/``sleep`` are injectable (default ``time.monotonic`` /
    ``time.sleep``) so the schedule arithmetic is unit-testable
    without wall-clock waits; ``max_runs`` bounds the loop for tests
    and one-shot invocations (``None`` = run forever, the deployment
    form).  Returns the list of per-run reports, newest last, each
    ``{"run": i, "scheduled_at_s": offset, "report": ...}``."""
    import time as _time

    if interval_s <= 0:
        # a zero interval divides by zero in the next-tick arithmetic
        # and a negative one busy-loops with no sleep in the
        # run-forever deployment form — fail at entry, loudly
        raise ValueError(f"interval_s must be > 0, got {interval_s}")
    clock = clock or _time.monotonic
    sleep = sleep or _time.sleep
    t0 = clock()
    reports: list[dict] = []
    i = 0
    next_tick = 0.0
    while max_runs is None or i < max_runs:
        now = clock() - t0
        if now < next_tick:
            sleep(next_tick - now)
        entry: dict = {"run": i, "scheduled_at_s": next_tick}
        try:
            entry["report"] = run_maintenance(spark, catalog, **run_kwargs)
        except Exception as e:  # noqa: BLE001 — the DAG posture: log, keep cadence
            if on_error == "raise":
                raise
            entry["error"] = f"{type(e).__name__}: {e}"
        reports.append(entry)
        i += 1
        # next multiple of interval_s strictly after "now": overruns
        # skip missed ticks instead of queueing them (catchup=False)
        elapsed = clock() - t0
        next_tick = (int(elapsed / interval_s) + 1) * interval_s
    return reports


def zorder_key(
    quantized: list[Column],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) code: interleave the bits of ``len(quantized)``
    already-quantized non-negative integer columns, LSB-first — rows
    close in the key are close in EVERY dimension, so sorting by it
    clusters multi-column locality into files and row groups.  Pure
    shift/mask expression tree (``bits x k`` terms), whole-stage
    codegen."""
    k = len(quantized)
    terms = []
    for b in range(bits):
        for i, q in enumerate(quantized):
            terms.append(
                F.shiftleft(
                    F.shiftrightunsigned(q.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * k + i,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_compact(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 16,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """OPTIMIZE ... ZORDER BY analogue: rewrite the table sorted by the
    Morton interleave of ``cols`` so parquet min/max stats prune scans
    filtered on ANY of the columns — the multi-column data-skipping
    layout a time-partitioned table can't give its secondary keys.

    Each column is equi-width quantized to ``bits`` bits over its
    [min, max] range (ONE metadata-sized agg; heavily skewed columns
    should be pre-transformed, e.g. log), the interleaved key range-
    partitions the rewrite (repartitionByRange + sortWithinPartitions
    — no global sort), and the swap validates row counts like every
    maintenance rewrite.  At 100 TB this runs per partition/predicate
    scope exactly like :func:`compact`'s ``where``.
    """
    df = _read_target(spark, path)
    n_before = df.count()
    # per-column min/max in one pass -> scalar quantization constants
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    scale = (1 << bits) - 1
    quantized = []
    for c in cols:
        mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
        span = (mx - mn) or 1.0
        quantized.append(
            F.least(
                F.lit(scale),
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * scale),
            )
        )
    total_bytes = sum(b for _f, b in _live_files(spark, path))
    n_files = max(1, round(total_bytes / target_file_bytes))
    keyed = df.withColumn("__z", zorder_key(quantized, bits))
    out = (
        keyed.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    _safe_swap_rewrite(spark, path, out, n_before, ".zorder-tmp")
    return {
        "rows_before": n_before,
        "rows_after": _read_target(spark, path).count(),
        "files_target": n_files,
        "zorder_by": list(cols),
    }


def insert_overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent backfill: overwrite ONLY the partitions present in
    ``df``, leaving every other partition untouched (Spark's dynamic
    partition-overwrite mode — the standard reprocess-one-day pattern;
    static mode would wipe the whole table root).

    The mode is set per-write and restored afterwards so a session
    running mixed workloads keeps its default.  At scale the write
    parallelism is the input's partitioning; pair with
    ``repartition(partition_cols)`` upstream when many tasks would
    otherwise write tiny files into the same partition directory.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist a hash-bucketed (optionally sorted) catalog table — the
    co-located join layout: two tables bucketed on the same key with
    the same bucket count join with ZERO exchanges (Spark reads each
    bucket pair as one task; with sort columns the sort vanishes too).
    At 100 TB this converts every recurring fact-to-fact join on the
    bucket key from a full shuffle of both sides into a local merge —
    the single biggest recurring-ETL saving there is; the cost is one
    bucketed rewrite paid once at load time.

    Uses ``saveAsTable`` (bucket metadata lives in the catalog;
    path-based writes cannot carry it).  Plan contract locked by
    ``tests/test_plans.py::test_bucketed_join_has_no_exchange``.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_shards(
    df: DataFrame,
    path: str,
    rows_per_file: int,
    order_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """Export fixed-size training shards: at most ``rows_per_file``
    rows per output file (``maxRecordsPerFile`` — the writer rolls
    files mid-task, so shard size is enforced WITHOUT repartitioning
    to one-task-per-shard), optionally range-ordered first so shard k
    covers a contiguous id range (reproducible curriculum/resume
    semantics for the training loader).

    JSONL delivery (``fmt="json"``) ships the same shards as
    line-delimited JSON for loaders that do not read parquet.
    Returns ``{"files": n, "rows": n}`` for the manifest.
    """
    out = df
    if order_cols:
        out = out.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .format(fmt)
        .save(path)
    )
    spark = df.sparkSession
    back = spark.read.format(fmt).load(path)
    n_files = back.select(F.input_file_name()).distinct().count()
    return {"files": int(n_files), "rows": int(back.count())}
