"""Maintenance jobs (SURVEY.md section 2 M1-M3, M5, A10): compaction,
snapshot expiry, orphan removal and table stats — the engine
re-platforming of the reference's Iceberg procedures
(``compact_cold_data.py``).

Like the reference, these jobs call the table format's procedures and
never list storage or branch on the table kind themselves: ``tablefmt``
reads, lists and rewrites plain dirs and versioned tables alike, and
its snapshot expiry and orphan removal are no-ops on a plain dir.
Compaction is a predicate-scoped read -> repartition-to-target-file-size
-> validated rewrite, preserving row counts (the reference's invariant)
and the partition layout of the table's live files.  On a versioned
table the rewrite is a snapshot commit, so it also folds any
merge-on-read chain back to a full snapshot.  Retention (M4) is a
filtered read (``q_retention_filter``), not a rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tablefmt

TARGET_FILE_BYTES = 128 * 1024 * 1024  # reference compact_cold_data.py:28


def table_stats(spark: SparkSession, path: str) -> DataFrame:
    """A10: file-level stats (count / bytes / avg file size) — the
    engine-maintained analogue of the reference's ``tbl$files``
    metadata-table dashboards (lakehouse_monitor.json:117,314).

    Versioned tables report the CURRENT snapshot only (matching
    ``tbl$files``, which lists the live snapshot's data and delete
    files)."""
    files = tablefmt.live_files(path)
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
    """M1: bin-packing compaction.  ``where`` scopes the repacking to
    cold data only (reference: older than 1 h, compact_cold_data.py:25);
    hot rows are carried into the rewrite as they are, not repacked.
    Returns before/after stats; row count is preserved by construction:
    the cold/hot split is null-safe (a row whose predicate evaluates
    NULL counts as hot), and ``tablefmt.rewrite`` validates the
    rewritten row count before anything is replaced.

    Not safe beside a writer on the same table: the rewrite replaces
    the whole table with the rows read at the start.  On a plain-dir
    table ``tablefmt.rewrite`` renames the whole dir, so rows appended
    while compaction runs are deleted with the ``.bak`` dir, and no
    error is raised.  On a versioned table a commit that lands while
    compaction runs is superseded by the compaction's snapshot
    (``tablefmt`` assumes one writer per table).  Run it with the
    table's writer stopped until the streaming sinks commit through
    ``tablefmt`` with conflict checks."""
    df = tablefmt.read_table(spark, path)
    # null-safe split: where=NULL rows are NOT cold — they stay in the
    # hot (untouched) half instead of silently dropping out of both
    cold_pred = F.lit(True) if where is None else F.coalesce(where, F.lit(False))
    n_before, n_cold = df.agg(
        F.count(F.lit(1)), F.count(F.when(cold_pred, 1))
    ).first()

    total_bytes = sum(b for _f, b in tablefmt.live_files(path))
    # Size the rewrite off the COLD subset's bytes, not the whole
    # table's: only the cold rows land in these files, so sizing off
    # total_bytes made a half-cold table's rewritten files ~half the
    # 128 MB target — the small-file symptom compaction exists to cure
    # (r9 VERDICT #3).  Cold bytes are estimated from the row fraction
    # (uniform-row-size assumption — fine for a cold/hot split of one
    # schema; a table whose old rows are systematically wider still
    # lands within ~2x of target).
    cold_bytes = total_bytes * (n_cold / n_before) if n_before else 0
    n_files = max(1, round(cold_bytes / target_file_bytes))

    # hashing on the partition columns sends each partition dir to one
    # task, so it is rewritten as one file instead of one per task
    parts = tablefmt.partition_cols(path)
    if where is None:
        out = df.repartition(n_files, *parts)
    else:
        out = df.filter(cold_pred).repartition(n_files, *parts).unionByName(
            df.filter(~cold_pred))
    tablefmt.rewrite(out, path, n_before, parts)
    # the rewrite counted n_before rows before it replaced anything
    return {"rows_before": n_before, "rows_after": n_before,
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


def column_profile(df: DataFrame) -> DataFrame:
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
    names = df.columns
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
    compacts only data older than 1 h); absent entries compact the
    whole table.  Like :func:`compact`, a run is not safe beside a
    writer on the same table.  Every table runs all three steps; on a
    plain dir expiry and orphan removal find nothing and report empty
    lists.  On a versioned table the rewrite commits a full snapshot,
    which also folds a live merge-on-read chain to depth 0 so expiry
    can retire its delta versions.  Nothing else bounds a chain
    between runs.

    Returns ``{table: {compact, expired, orphans}}``
    — each step's own report, so a scheduler can alert on any
    sub-step."""
    if tables is None:
        tables = [
            f"{ns}.{t}" for ns in catalog.namespaces() for t in catalog.tables(ns)
        ]
    report: dict[str, dict] = {}
    for name in tables:
        path = catalog.table_path(name)
        report[name] = {
            "compact": compact(spark, path, where=(cold_where or {}).get(name)),
            "expired": expire_snapshots(
                path, keep_last=keep_last, older_than_s=expire_older_than_s
            ),
            "orphans": tablefmt.remove_orphans(path),
        }
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
    ``{"run": i, "scheduled_at_s": offset, "report": ...}``.

    Unlike the reference's DAG, this loop must not run beside the
    streaming writers: each run compacts every table, and
    :func:`compact` loses rows appended to a plain-dir table while it
    runs (and commits landing on a versioned table).  Stop the writers
    for a run until the streaming sinks commit through ``tablefmt``
    with conflict checks."""
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
