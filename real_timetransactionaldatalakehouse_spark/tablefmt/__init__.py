"""Minimal snapshot-versioned parquet table layout (SURVEY.md section
2 M2/M3; reference ``compact_cold_data.py:56-92`` expire-snapshots /
remove-orphans semantics on plain parquet).

Layout::

    table/
      _CURRENT                 text pointer, atomically replaced
      _versions/v00000001/     immutable snapshot directories
      _versions/v00000002/
      _versions/.tmp-...       in-flight writes (orphaned on crash)

This gives plain parquet the minimal snapshot semantics the reference
gets from Iceberg:

- readers resolve ``_CURRENT`` and only ever see a fully-written
  snapshot (the pointer flips AFTER the new version is materialized
  and validated — a crash mid-write leaves the old version current and
  an orphan ``.tmp`` dir, never a half table);
- old versions stay readable (time travel / rollback) until
  ``expire_snapshots`` removes them;
- ``remove_orphans`` deletes crashed ``.tmp`` dirs and version dirs
  the pointer never named (a crash between a version's rename and the
  flip); only versions ``_CURRENT`` has named are listed, expired or
  shown as snapshots.

Names starting with ``_`` are ignored by Spark's file index, so a
naive ``spark.read.parquet(table)`` fails fast instead of silently
double-reading versions — use ``read_table``.

Single-writer-per-table is assumed (matching the reference's one
streaming job + one maintenance job per table); multi-writer commit
coordination is exactly what a real table format adds on top.

This module is the only place that tells the two table kinds apart:
a path with a ``_CURRENT`` pointer is versioned, any other path is a
plain parquet dir (the streaming bronze and gold append logs).
``read_table``, ``live_files``, ``partition_cols`` and ``rewrite``
take either kind, so ``maintenance`` and ``catalog`` never branch on
it.  Storage is the local file system: every commit is an
``os.rename`` plus an ``os.replace`` of the pointer, and listings use
``os.walk``.

At scale: the pointer file is O(1); version dirs are independent
parquet tables, so writes/reads shuffle nothing extra and partition
pruning inside a version works as for any parquet dir.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterator
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VERSIONS_DIR = "_versions"
CURRENT_FILE = "_CURRENT"
SCHEMA_FILE = "_SCHEMA"


def _versions_root(path: str) -> str:
    return os.path.join(path, VERSIONS_DIR)


def version_path(path: str, version: int) -> str:
    return os.path.join(_versions_root(path), f"v{version:08d}")


def _version_dirs(path: str) -> list[int]:
    """Every ``vN`` dir under ``_versions``, committed or abandoned."""
    root = _versions_root(path)
    if not os.path.isdir(root):
        return []
    return sorted(
        int(name[1:]) for name in os.listdir(root)
        if name.startswith("v") and name[1:].isdigit()
    )


def list_versions(path: str) -> list[int]:
    """The committed versions: those ``_CURRENT`` has named.  Versions
    are numbered upward and a commit sweeps the dirs past the pointer
    before it flips, so these are the dirs up to the current one."""
    cur = current_version(path)
    return [v for v in _version_dirs(path) if cur is not None and v <= cur]


def _abandoned(path: str) -> list[int]:
    """Version dirs ``_CURRENT`` never named: a commit that crashed
    between renaming its dir into place and flipping the pointer."""
    cur = current_version(path)
    return [v for v in _version_dirs(path) if cur is None or v > cur]


def current_version(path: str) -> int | None:
    ptr = os.path.join(path, CURRENT_FILE)
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def is_versioned(path: str) -> bool:
    return current_version(path) is not None


# -- schema evolution (reference DataModel_SchemaDesign.md:127-129:
# --   drifted JSON fields read via get_json_object, then promoted with
# --   ALTER TABLE ADD COLUMN — a metadata-only commit)

def declared_schema(path: str) -> list[dict] | None:
    """The table's declared column list ``[{"name", "type"}]`` (DDL type
    strings), or None for tables created before schema tracking."""
    f = os.path.join(path, SCHEMA_FILE)
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)["fields"]


def _save_schema(path: str, fields: list[dict]) -> None:
    tmp = os.path.join(path, f".{SCHEMA_FILE}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"fields": fields}, fh, indent=1)
    os.replace(tmp, os.path.join(path, SCHEMA_FILE))


def _fields_of(df: DataFrame) -> list[dict]:
    return [
        {"name": f.name, "type": f.dataType.simpleString()}
        for f in df.schema.fields
    ]


def add_column(path: str, name: str, dtype: str) -> list[dict]:
    """ALTER TABLE ADD COLUMN: a metadata-only commit — no snapshot is
    rewritten (O(1) regardless of table size, the Iceberg semantic the
    reference leans on for JSON-field promotion).  Every snapshot —
    current and historical — subsequently reads the new column as a
    typed null until a later ``write_version`` supplies values."""
    fields = declared_schema(path)
    if fields is None:
        raise FileNotFoundError(
            f"no declared schema under {path} (write a version first)"
        )
    if any(f["name"] == name for f in fields):
        raise ValueError(f"column {name!r} already exists")
    fields = fields + [{"name": name, "type": dtype}]
    _save_schema(path, fields)
    return fields


def _reconcile(df: DataFrame, fields: list[dict]) -> DataFrame:
    """Project a snapshot onto the declared schema: missing columns
    become typed nulls (added after the snapshot was written), columns
    no longer declared are dropped.  Pure projection — pushdown and
    pruning on the stored columns are untouched."""
    have = set(df.columns)
    return df.select(*[
        F.col(f["name"]) if f["name"] in have
        else F.lit(None).cast(f["type"]).alias(f["name"])
        for f in fields
    ])


MOR_META = "_MOR.json"
MOR_DELTA = "_delta"
MOR_DELETES = "_deletes"


def mor_meta(path: str, version: int) -> dict | None:
    """The merge-on-read manifest of a version, or None for a full
    (copy-on-write) snapshot."""
    f = os.path.join(version_path(path, version), MOR_META)
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def _read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Resolve a version to rows: full snapshots read directly; MoR
    versions recursively resolve their base, apply the equality-delete
    keys, and union the delta rows.  Chain depth = MoR commits since
    the last full rewrite, each costing one anti join on the key
    columns — Iceberg v2's read-side trade, bounded by maintenance's
    rewrite (which leaves a full snapshot) as the reference's
    maintenance job bounds delete-file counts."""
    vp = version_path(path, version)
    meta = mor_meta(path, version)
    if meta is None:
        return spark.read.parquet(vp)
    base = _read_version(spark, path, int(meta["base"]))
    keys = list(meta["key_cols"])
    dele = spark.read.parquet(os.path.join(vp, MOR_DELETES)).select(*keys)
    # delete-key sets are delta-sized (the point of MoR is that the
    # delta is small next to the table) — broadcast them so the base
    # never shuffles on read; a delta large enough to break this is
    # the signal to flatten instead
    survivors = base.join(F.broadcast(dele), keys, "left_anti")
    delta_p = os.path.join(vp, MOR_DELTA)
    if os.path.isdir(delta_p):
        delta = spark.read.parquet(delta_p)
        survivors = survivors.unionByName(delta, allowMissingColumns=True)
    return survivors


def read_table(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read the current (or a pinned historical) snapshot, reconciled
    to the table's declared schema — a time-travel read after
    ``add_column`` sees the new column as null, exactly like the
    current snapshot.  Merge-on-read versions are resolved (base minus
    delete keys plus delta) transparently.  A path with no
    ``_CURRENT`` pointer is read as a plain parquet dir."""
    v = current_version(path) if version is None else version
    if v is None:
        return spark.read.parquet(path)
    df = _read_version(spark, path, v)
    fields = declared_schema(path)
    if fields is not None:
        df = _reconcile(df, fields)
    return df


def _commit(
    path: str, write: Callable[[str], None], fields: list[dict] | None
) -> int:
    """The one commit step every writer goes through: allocate version
    N past every version dir, sweep the dirs an earlier crashed commit
    abandoned, let ``write`` materialize ``.tmp-vN`` (raising aborts:
    tmp removed, pointer untouched), rename it to ``vN``, widen the
    declared schema with ``fields``, then flip ``_CURRENT`` with an
    atomic ``os.replace`` — a crash at any step leaves the previous
    snapshot current, and its ``vN`` dir is never listed as committed.
    The schema is initialized on the first commit; later commits
    APPEND new columns (mergeSchema-style: old snapshots read them as
    typed nulls, so widening before the flip is never a half-visible
    state)."""
    n = max(_version_dirs(path), default=0) + 1
    for v in _abandoned(path):
        shutil.rmtree(version_path(path, v), ignore_errors=True)
    root = _versions_root(path)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".tmp-v{n:08d}")
    try:
        write(tmp)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.rename(tmp, version_path(path, n))
    if fields is not None:
        declared = declared_schema(path)
        if declared is None:
            _save_schema(path, fields)
        else:
            known = {f["name"] for f in declared}
            new = [f for f in fields if f["name"] not in known]
            if new:
                _save_schema(path, declared + new)
    ptr_tmp = os.path.join(path, f".{CURRENT_FILE}.tmp")
    with open(ptr_tmp, "w") as fh:
        fh.write(str(n))
    os.replace(ptr_tmp, os.path.join(path, CURRENT_FILE))
    return n


def write_version(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    expect_rows: int | None = None,
) -> int:
    """Materialize ``df`` as the next full snapshot and flip
    ``_CURRENT``.  If ``expect_rows`` is given the tmp output is
    counted BEFORE anything becomes visible and a mismatch aborts (tmp
    removed, pointer untouched) — the row-preservation guard every
    maintenance rewrite commits through."""

    def write(tmp: str) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if expect_rows is not None:
            got = df.sparkSession.read.parquet(tmp).count()
            if got != expect_rows:
                raise RuntimeError(
                    f"versioned write aborted: tmp has {got} rows, "
                    f"expected {expect_rows}"
                )

    return _commit(path, write, _fields_of(df))


def _commit_mor(
    path: str,
    key_cols: list[str],
    delta: DataFrame | None,
    deletes: DataFrame | None,
) -> int:
    """Commit a merge-on-read version over the current snapshot: either
    the ``delta`` rows plus an equality-delete file of their keys (an
    upsert), or the ``deletes`` keys alone (a delete)."""
    base_v = current_version(path)
    if base_v is None:
        raise FileNotFoundError(
            f"no _CURRENT under {path}: the first commit must be a full "
            "write_version (MoR deltas need a base snapshot)"
        )
    spark = (delta if delta is not None else deletes).sparkSession

    def write(tmp: str) -> None:
        keys = deletes
        if delta is not None:
            delta_p = os.path.join(tmp, MOR_DELTA)
            delta.write.mode("overwrite").parquet(delta_p)
            # delete keys come from the MATERIALIZED delta, not the
            # delta plan: re-executing it would resolve the whole MoR
            # chain a second time per commit (the plan reads the table)
            keys = spark.read.parquet(delta_p)
        del_p = os.path.join(tmp, MOR_DELETES)
        keys.select(*key_cols).distinct().write.mode("overwrite").parquet(del_p)
        meta = {
            "base": base_v,
            "key_cols": list(key_cols),
            "n_deletes": spark.read.parquet(del_p).count(),
        }
        with open(os.path.join(tmp, MOR_META), "w") as fh:
            json.dump(meta, fh, indent=1)

    return _commit(path, write, _fields_of(delta) if delta is not None else None)


def write_mor_upsert(updates: DataFrame, path: str, key_cols: list[str]) -> int:
    """Merge-on-read UPSERT commit: materialize only the DELTA — the
    upserted rows plus an equality-delete key file — instead of
    rewriting the table (reference ``streaming_job.py:55-60``
    TBLPROPERTIES ``write.update.mode/write.merge.mode =
    merge-on-read``; trade-off discussion
    ``design_doc/PipelineArchitecture.md:235-238``).  At a
    high-frequency upsert cadence this is the write-amplification
    answer: commit cost is O(|delta|) regardless of table size, and
    readers pay one broadcast anti-join per un-flattened MoR commit.
    This primitive never folds the chain; a maintenance rewrite
    (``maintenance.compact``) leaves a full snapshot.

    Semantics: ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` — matched keys take the update row
    WHOLESALE (update nulls overwrite, Iceberg's ``SET *``; for the
    column-wise null-coalescing variant run
    :func:`operators.merge.merge_upsert` and commit its output),
    unmatched keys insert — pinned by the read-merge equivalence
    test.  Deletes commit separately (:func:`write_mor_delete`).
    Layout inside the version dir::

        v0000000N/_MOR.json   {"base": M, "key_cols": [...], ...}
        v0000000N/_delta/     parquet, the upserted rows
        v0000000N/_deletes/   parquet, the equality-delete keys

    Underscore names keep naive ``spark.read.parquet(version_dir)``
    failing fast (no visible data files) — MoR versions are only
    readable through :func:`read_table`'s resolution, like Iceberg
    data files are only readable through a manifest."""
    return _commit_mor(path, key_cols, updates, None)


def write_mor_delete(keys: DataFrame, path: str, key_cols: list[str]) -> int:
    """Merge-on-read DELETE commit: an equality-delete key file and no
    delta — O(|keys|) instead of a table rewrite (the reference's
    ``write.delete.mode = merge-on-read``)."""
    return _commit_mor(path, key_cols, None, keys)


def mor_chain_depth(path: str) -> int:
    """Number of un-flattened MoR commits the current version resolves
    through — 0 for a full snapshot.  Every level
    authors one broadcast anti-join (``_read_version``), and after
    Catalyst pushes the anti-joins through the accumulated union the
    OPTIMIZED plan holds depth*(depth+1)/2 join nodes — execution
    stays ~linear in data (each union branch streams through tiny
    broadcast filters) but plan build/codegen cost is QUADRATIC in
    depth, so a long chain wants a maintenance rewrite
    (tests/test_tablefmt.py::test_mor_read_plan_depth_contract pins
    the shape at depth 20)."""
    v = current_version(path)
    return 0 if v is None else len(_mor_base_closure(path, {v})) - 1


def _data_roots(path: str) -> list[str]:
    """The dirs holding the table's live rows: on a versioned table the
    version dirs the current snapshot resolves through (itself plus
    every MoR base beneath it, not every retained version or in-flight
    ``.tmp`` dir); otherwise the path itself (a plain dir or file)."""
    v = current_version(path)
    if v is None:
        return [path]
    return [version_path(path, b) for b in sorted(_mor_base_closure(path, {v}))]


def _parquet_files(root: str) -> Iterator[tuple[str, int]]:
    """``(file, bytes)`` of each parquet file under ``root``, or of
    ``root`` itself when it is a file."""
    if os.path.isfile(root):
        yield root, os.path.getsize(root)
    for r, _d, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                yield os.path.join(r, f), os.path.getsize(os.path.join(r, f))


def live_files(path: str) -> list[tuple[str, int]]:
    """``(file, bytes)`` of the table's live parquet files (Iceberg's
    ``tbl$files``), MoR deltas and delete files included: what stats
    report and what a rewrite sizes its output from.  Driver-side
    listing by design: a compactor bounds one table's live file count;
    a metastore-scale deployment reads a manifest instead."""
    return [f for root in _data_roots(path) for f in _parquet_files(root)]


def partition_cols(path: str) -> list[str]:
    """The table's Hive-style partition columns: the ``name=value`` dir
    levels between a live data root and its first parquet file,
    skipping ``_``/``.`` dirs (MoR deltas) as Spark's file index does.
    A rewrite without them loses partition pruning, and a later
    partitioned append hides the rewritten rows."""
    for root in _data_roots(path):
        for f, _b in _parquet_files(root):
            dirs = os.path.relpath(f, root).split(os.sep)[:-1]
            if not any(d.startswith(("_", ".")) for d in dirs):
                return [unquote(d.split("=", 1)[0]) for d in dirs if "=" in d]
    return []


def rewrite(df: DataFrame, path: str, expect_rows: int, partition_by: list[str]) -> None:
    """Replace the table's rows with ``df`` in ``partition_by`` dir
    levels, never destroying the old rows before the new ones are
    counted: a count other than ``expect_rows`` aborts before anything
    is replaced.  A versioned table commits a full snapshot (pointer
    flip, old versions retained).  A plain dir is written to a
    ``.compact-tmp`` sibling and swapped in through a ``.bak`` rename,
    so a crash at any step leaves either the old or the new data intact
    and recoverable.  Rows appended to a plain dir during the rewrite
    are deleted with the ``.bak`` dir."""
    if is_versioned(path):
        # df and path stay positional: the benchmark's tracer reads
        # the table path from args[1]
        write_version(df, path, partition_by=partition_by, expect_rows=expect_rows)
        return
    tmp = path.rstrip("/") + ".compact-tmp"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    got = df.sparkSession.read.parquet(tmp).count()
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


def _mor_base_closure(path: str, versions: set[int]) -> set[int]:
    """Every version transitively referenced as a MoR base by
    ``versions`` — these must survive expiry or the chain breaks."""
    out = set(versions)
    frontier = list(versions)
    while frontier:
        v = frontier.pop()
        meta = mor_meta(path, v)
        if meta is not None:
            b = int(meta["base"])
            if b not in out:
                out.add(b)
                frontier.append(b)
    return out


def expire_snapshots(
    path: str, keep_last: int = 2, older_than_s: float | None = None
) -> dict:
    """M2: delete old snapshots — the reference's
    ``expire_snapshots(retain_last=5, older_than=...)`` pair of bounds
    (``compact_cold_data.py:56-72``): the last ``keep_last`` versions
    are always retained, and with ``older_than_s`` set, versions
    YOUNGER than that many seconds (by commit mtime) are also retained
    even beyond ``keep_last``.  The current version is never expired.
    """
    import time as _time

    cur = current_version(path)
    versions = list_versions(path)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    if cur is not None:
        keep.add(cur)
    if older_than_s is not None:
        cutoff = _time.time() - older_than_s
        for v in versions:
            if os.path.getmtime(version_path(path, v)) >= cutoff:
                keep.add(v)
    # MoR chains: a kept delta version pins its base(s) — expiring a
    # base a live MoR version still resolves through would break every
    # read of that version (Iceberg equivalently retains data files
    # any live snapshot's manifests reference)
    keep = _mor_base_closure(path, keep)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(version_path(path, v), ignore_errors=True)
            removed.append(v)
    return {"removed": removed, "kept": sorted(keep & set(versions))}


def remove_orphans(path: str) -> dict:
    """M3: delete what crashed writes left: in-flight ``.tmp`` dirs and
    version dirs ``_CURRENT`` never named.  Reference
    ``compact_cold_data.py:74-92``.  Never touches committed version
    dirs or the pointer."""
    root = _versions_root(path)
    removed = [os.path.basename(version_path(path, v)) for v in _abandoned(path)]
    if os.path.isdir(root):
        removed += [name for name in os.listdir(root) if name.startswith(".tmp-")]
    for name in removed:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return {"removed": removed}


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    *,
    key_cols: list[str],
) -> DataFrame:
    """Row-level changes from snapshot ``from_version`` to the current
    one — the engine analogue of
    Iceberg's incremental read (changelog scan), which the reference's
    downstream consumers use to avoid full-table re-reads.

    A full-outer join on ``key_cols`` classifies each row as
    ``insert`` (key only in ``to``), ``delete`` (only in ``from``) or
    ``update`` (both sides present, any non-key column changed);
    unchanged rows are dropped.

    One key shuffle of the two snapshots; the output carries the TO
    side's columns (FROM side's for deletes).  At scale this is the
    standard CDC-diff plan; a file-format with column-level delete
    vectors would prune further.
    """
    a = read_table(spark, path, version=from_version)
    b = read_table(spark, path)
    val_cols = [c for c in b.columns if c not in key_cols]
    af = a.select(*key_cols, F.struct(*val_cols).alias("_from"))
    bf = b.select(*key_cols, F.struct(*val_cols).alias("_to"))
    j = af.join(bf, key_cols, "full_outer")
    change = (
        F.when(F.col("_from").isNull(), F.lit("insert"))
        .when(F.col("_to").isNull(), F.lit("delete"))
        .when(F.col("_from") != F.col("_to"), F.lit("update"))
    )
    j = j.withColumn("_change", change).filter(F.col("_change").isNotNull())
    side = F.coalesce(F.col("_to"), F.col("_from"))
    return j.select(
        *key_cols,
        *[side.getField(c).alias(c) for c in val_cols],
        "_change",
    )


def snapshots_table(spark: SparkSession, path: str) -> DataFrame:
    """Metadata table: one row per live snapshot — the engine analogue
    of Iceberg's ``tbl$snapshots`` (the reference's monitoring
    dashboards read it, ``lakehouse_monitor.json:117,314``): version,
    commit time, current flag, file count and byte size.

    Driver-side listing by design, like :func:`live_files`."""
    cur = current_version(path)
    rows = []
    for v in list_versions(path):
        vp = version_path(path, v)
        files = list(_parquet_files(vp))
        rows.append(
            (
                v,
                float(os.path.getmtime(vp)),
                v == cur,
                len(files),
                sum(b for _f, b in files),
            )
        )
    return spark.createDataFrame(
        rows or [],
        "version long, committed_at_s double, is_current boolean, "
        "n_files long, total_bytes long",
    )
