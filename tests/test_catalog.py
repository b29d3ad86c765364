"""Catalog façade (A8): schema.table round trips, versioned tables
resolved through the registry, ``CREATE TABLE IF NOT EXISTS``
semantics, serving views resolving via catalog names instead of raw
paths."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark.catalog import Catalog  # noqa: E402
from real_timetransactionaldatalakehouse_spark import tablefmt as TF  # noqa: E402
from real_timetransactionaldatalakehouse_spark.medallion import build_gold_window_stats  # noqa: E402
from real_timetransactionaldatalakehouse_spark.serving import (  # noqa: E402
    register_gold_views,
    velocity_view,
)
from real_timetransactionaldatalakehouse_spark.sources import load_table  # noqa: E402


def test_catalog_round_trip(spark, sf_small, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    ev = load_table(spark, sf_small, "events").select("event_id", "user_id")
    path = cat.create_table("bronze.events")
    assert path == cat.table_path("bronze.events") == os.path.join(cat.warehouse, "bronze", "events")
    ev.write.parquet(path)
    assert cat.read("bronze.events").count() == ev.count()
    assert cat.tables("bronze") == ["events"]
    assert cat.namespaces() == ["bronze"]
    # registry survives a new Catalog instance (state file)
    cat2 = Catalog(spark, str(tmp_path / "wh"))
    assert cat2.read("bronze.events").count() == ev.count()
    with pytest.raises(KeyError):
        cat2.read("bronze.other")
    with pytest.raises(ValueError):
        cat2.create_table("no_schema_part")


def test_catalog_versioned_and_partitioned_tables(spark, sf_small, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    ev = load_table(spark, sf_small, "events").select("event_id", "ts", "user_id")
    # versioned: read resolves the current snapshot
    users = cat.create_table("dims.users", versioned=True)
    TF.write_version(ev.limit(100), users)
    TF.write_version(ev.limit(10), users)
    assert cat.read("dims.users").count() == 10
    assert TF.current_version(users) == 2
    # partitioned plain table: read discovers the writer's partition dirs
    ev_path = cat.create_table("bronze.ev")
    ev.withColumn("p_date", F.to_date("ts").cast("string")).write.partitionBy(
        "p_date").parquet(ev_path)
    assert any(d.startswith("p_date=") for d in os.listdir(ev_path))
    assert "p_date" in cat.read("bronze.ev").columns


def test_create_table_if_not_exists_keeps_the_entry(spark, tmp_path):
    """Re-creating a registered name is ``CREATE TABLE IF NOT EXISTS``:
    the entry (path, versioned flag) is kept and the table still reads
    its current snapshot."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    path = cat.create_table("dims.users", versioned=True)
    TF.write_version(spark.createDataFrame([(1, "a")], "id long, s string"), path)
    assert cat.create_table("dims.users") == path
    assert cat.meta("dims.users")["versioned"]
    assert Catalog(spark, str(tmp_path / "wh")).meta("dims.users")["versioned"]
    assert [tuple(r) for r in cat.read("dims.users").collect()] == [(1, "a")]


def test_read_follows_the_snapshot_pointer_not_the_flag(spark, tmp_path):
    """A table registered without ``versioned=True`` and then committed
    through ``tablefmt`` reads its current snapshot: the table's
    ``_CURRENT`` pointer decides its kind, not the catalog entry."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    path = cat.create_table("dims.users")
    TF.write_version(spark.createDataFrame([(1, "a")], "id long, s string"), path)
    TF.write_version(spark.createDataFrame([(2, "b")], "id long, s string"), path)
    assert not cat.meta("dims.users")["versioned"]
    assert [tuple(r) for r in cat.read("dims.users").collect()] == [(2, "b")]


def test_serving_views_resolve_via_catalog(spark, sf_small, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    events = load_table(spark, sf_small, "events")
    gold = build_gold_window_stats(events)
    gold.write.parquet(cat.create_table("gold.stats_1min"))
    register_gold_views(spark, cat.read("gold.stats_1min"))
    as_of = str(events.agg(F.max("ts")).first()[0])
    v = velocity_view(spark, as_of, lookback_minutes=10**6)
    assert v.count() > 0
    assert {"user_id", "velocity"} <= set(v.columns)


def test_expire_snapshots_older_than_retains_recent(spark, sf_small, tmp_path):
    """Age bound: young snapshots survive even beyond keep_last."""
    import os as _os

    from real_timetransactionaldatalakehouse_spark import maintenance as MT

    tbl = str(tmp_path / "tbl")
    ev = load_table(spark, sf_small, "events").select("event_id")
    for n in (100, 50, 25):
        TF.write_version(ev.limit(n), tbl)
    # v1 is "old" (backdate mtime), v2/v3 recent
    _os.utime(TF.version_path(tbl, 1), (1, 1))
    res = MT.expire_snapshots(tbl, keep_last=1, older_than_s=3600)
    assert res["removed"] == [1]
    assert TF.list_versions(tbl) == [2, 3]


def test_maintenance_loop_cadence_and_catchup_false(spark, sf_small, tmp_path):
    """M5 cadence runner: fixed-rate hourly schedule with the DAG's
    catchup=False semantics — an overrunning run SKIPS missed ticks
    (never queues them), a failing run records its error and keeps the
    cadence, and each run produces the composed maintenance report.
    Clock and sleep are injected so the schedule arithmetic is tested
    without wall-clock waits."""
    from real_timetransactionaldatalakehouse_spark import maintenance as MT

    cat = Catalog(spark, str(tmp_path / "wh"))
    ev = load_table(spark, sf_small, "events").select("event_id", "ts")
    path = cat.create_table("bronze.events", versioned=True)
    TF.write_version(ev.limit(50), path)
    TF.write_version(ev.limit(50), path)

    # fake time: each run_maintenance call costs 90 "minutes" on run 1
    # (overrun) and 5 minutes otherwise
    state = {"t": 0.0, "runs": 0}

    def clock():
        return state["t"]

    def sleep(dt):
        assert dt >= 0
        state["t"] += dt

    real_run = MT.run_maintenance

    def instrumented(spark_, cat_, **kw):
        cost = 5400.0 if state["runs"] == 1 else 300.0
        state["t"] += cost
        state["runs"] += 1
        return real_run(spark_, cat_, **kw)

    MT.run_maintenance, orig = instrumented, MT.run_maintenance
    try:
        reports = MT.maintenance_loop(
            spark, cat, interval_s=3600.0, max_runs=4,
            clock=clock, sleep=sleep, keep_last=2,
        )
    finally:
        MT.run_maintenance = orig
    assert [r["run"] for r in reports] == [0, 1, 2, 3]
    # run 0 at t=0; run 1 at 3600; run 1 overruns to 9000 -> tick 7200
    # is SKIPPED and run 2 fires at 10800; run 3 back on cadence
    assert [r["scheduled_at_s"] for r in reports] == [0.0, 3600.0, 10800.0, 14400.0]
    assert all("report" in r for r in reports)
    assert reports[0]["report"]["bronze.events"]["compact"]["rows_after"] == 50

    # on_error="continue": a table whose path vanishes mid-loop records
    # the exception and the loop keeps going
    import shutil

    shutil.rmtree(cat.table_path("bronze.events"))
    bad = MT.maintenance_loop(
        spark, cat, interval_s=3600.0, max_runs=2, clock=clock, sleep=sleep,
    )
    assert len(bad) == 2 and all("error" in r for r in bad)


def test_run_maintenance_composed(spark, sf_small, tmp_path):
    """M5 analogue: one entry point composes compact -> expire ->
    orphans over catalog tables (reference maintenance_dag.py:13-31
    scheduling compact_cold_data.py), preserving rows, retiring old
    snapshots, and sweeping crashed-write tmp dirs."""
    from real_timetransactionaldatalakehouse_spark import maintenance as MT

    cat = Catalog(spark, str(tmp_path / "wh"))
    ev = load_table(spark, sf_small, "events").select("event_id", "ts", "user_id")
    path = cat.create_table("bronze.events", versioned=True)
    # three snapshots so keep_last=2 has something to expire post-compact
    for _ in range(3):
        TF.write_version(ev, path)
    n = ev.count()
    # simulated crashed write
    os.makedirs(os.path.join(path, "_versions", ".tmp-v00000042"), exist_ok=True)
    # plain (non-versioned) table rides the same run
    ev.repartition(4).write.parquet(cat.create_table("gold.flat"))

    report = MT.run_maintenance(spark, cat, keep_last=2)
    assert set(report) == {"bronze.events", "gold.flat"}
    r = report["bronze.events"]
    assert r["compact"]["rows_before"] == r["compact"]["rows_after"] == n
    assert cat.read("bronze.events").count() == n
    # snapshots beyond keep_last expired, orphan tmp dir swept
    assert r["expired"]["removed"], r
    assert ".tmp-v00000042" in r["orphans"]["removed"]
    assert not os.path.isdir(os.path.join(path, "_versions", ".tmp-v00000042"))
    # plain table: the snapshot steps run and find nothing
    assert report["gold.flat"]["expired"] == {"removed": [], "kept": []}
    assert report["gold.flat"]["orphans"] == {"removed": []}
    assert report["gold.flat"]["compact"]["rows_after"] == n
    assert cat.read("gold.flat").count() == n
