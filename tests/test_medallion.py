"""Medallion invariants (SURVEY.md section 5.3, generalizing the
reference's verify_medallion.py): latest-state correctness, silver
enrichment, maintenance count preservation, serving views."""

from __future__ import annotations

import datetime
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark import medallion as MD  # noqa: E402
from real_timetransactionaldatalakehouse_spark import maintenance as MT  # noqa: E402
from real_timetransactionaldatalakehouse_spark import serving as SV  # noqa: E402
from real_timetransactionaldatalakehouse_spark.sources import load_table  # noqa: E402

T0 = datetime.datetime(2024, 3, 1, 12, 0, 0)


def _order_events(spark):
    """FIXTURES.md section 2: sparse update events — total_amount etc.
    only on CREATED."""
    rows = [
        # order A: created -> paid -> shipped
        ("e1", "ORDER_CREATED", T0, "A", "u1", 100.0, "USD", [("sku1", 2, 10.0)]),
        ("e2", "ORDER_PAID", T0 + datetime.timedelta(minutes=1), "A", "u1", None, None, None),
        ("e3", "ORDER_SHIPPED", T0 + datetime.timedelta(minutes=5), "A", "u1", None, None, None),
        # order B: created -> cancelled
        ("e4", "ORDER_CREATED", T0, "B", "u2", 50.0, "EUR", [("sku2", 1, 50.0)]),
        ("e5", "ORDER_CANCELLED", T0 + datetime.timedelta(minutes=2), "B", "u2", None, None, None),
        # order C: created only
        ("e6", "ORDER_CREATED", T0, "C", "u1", 75.0, "USD", None),
    ]
    schema = (
        "event_id string, current_status string, event_timestamp timestamp, "
        "order_id string, user_id string, total_amount double, currency string, "
        "items array<struct<sku:string,quantity:int,unit_price:double>>"
    )
    return spark.createDataFrame(rows, schema)


def test_gold_latest_state(spark):
    ev = _order_events(spark)
    cur = MD.build_gold_latest_state(ev)
    rows = {r.order_id: r for r in cur.collect()}
    assert len(rows) == 3  # exactly one row per key
    assert rows["A"].current_status == "ORDER_SHIPPED"
    assert rows["A"].total_amount == 100.0  # filled from latest non-null
    assert rows["A"].currency == "USD"
    assert rows["A"].items[0].sku == "sku1"
    assert rows["B"].current_status == "ORDER_CANCELLED"
    assert rows["B"].total_amount == 50.0
    assert rows["C"].current_status == "ORDER_CREATED"


def test_bronze_vs_gold_consistency(spark):
    """The reference's verify_medallion check: bronze keeps full
    history; gold has one row per key with the max-ts status."""
    ev = _order_events(spark)
    bronze = MD.build_bronze(ev)
    assert bronze.count() == ev.count()
    multi = (
        bronze.groupBy("order_id").count().filter(F.col("count") > 1).collect()
    )
    assert multi  # at least one order with history
    gold = MD.build_gold_latest_state(ev)
    for r in multi:
        assert gold.filter(F.col("order_id") == r.order_id).count() == 1


def test_silver_sessionize_and_asof(spark, sf_small):
    events = load_table(spark, sf_small, "events")
    timeline = (
        load_table(spark, sf_small, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("t_ts"))
        .agg(F.max("o_orderstatus").alias("status_at_event"))
    )
    silver = MD.build_silver(events, timeline)
    assert silver.count() == events.count()
    assert {"session_id", "date", "status_at_event"} <= set(silver.columns)
    # sessions start at 1 per user and are monotone
    first = silver.groupBy("user_id").agg(F.min("session_id").alias("m")).collect()
    assert all(r.m == 1 for r in first)


def test_compact_preserves_rows(spark, sf_small, tmp_path):
    li = load_table(spark, sf_small, "lineitem")
    path = str(tmp_path / "li")
    li.repartition(20).write.parquet(path)
    before_files = sum(
        1 for _r, _d, ns in os.walk(path) for n in ns if n.endswith(".parquet")
    )
    res = MT.compact(spark, path, where=F.col("l_shipdate") < "1998-01-01")
    after_files = sum(
        1 for _r, _d, ns in os.walk(path) for n in ns if n.endswith(".parquet")
    )
    assert res["rows_before"] == res["rows_after"] == li.count()
    assert after_files < before_files


def test_table_stats(spark, sf_small):
    stats = MT.table_stats(spark, f"{sf_small}/lineitem.parquet").collect()[0]
    assert stats.n_files >= 1
    assert stats.total_bytes > 0


def test_serving_views(spark, sf_small):
    events = load_table(spark, sf_small, "events")
    gold = MD.build_gold_window_stats(events)
    dim = load_table(spark, sf_small, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    SV.register_gold_views(spark, gold, dim)
    # the views look back 30 / 60 minutes from as_of: one minute past
    # the last window keeps the latest windows in range
    last = gold.agg(F.max("window_start")).first()[0]
    recent = (last + datetime.timedelta(minutes=1)).strftime("%Y-%m-%d %H:%M:%S")
    v = SV.velocity_view(spark, recent)
    assert v.count() > 0
    rows = SV.trending_view(spark, recent).collect()
    assert 0 < len(rows) <= 50
    as_of = "2024-02-15 00:00:00"
    f = SV.freshness_view(spark, as_of).collect()[0]
    assert f.lag_s > 0


def test_column_profile_counts(spark):
    """Profile counts: nulls excluded from n_nonnull, exact distincts,
    one row per requested column."""
    from real_timetransactionaldatalakehouse_spark.maintenance import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (3, "b")], "k long, s string"
    )
    got = {r.column: r for r in column_profile(df).collect()}
    assert set(got) == {"k", "s"}
    assert (got["k"].n_rows, got["k"].n_nonnull, got["k"].n_distinct) == (4, 4, 3)
    assert (got["s"].n_rows, got["s"].n_nonnull, got["s"].n_distinct) == (4, 3, 2)


def test_doomscroll_and_cold_start_views(spark, sf_small):
    """Dashboard panels 2+3 (doomscroll rate, cold-start gauge): rates
    match a direct computation over the same gold rollup; cold-start
    pct lies in [0,1] with a consistent band."""
    import datetime

    from real_timetransactionaldatalakehouse_spark.serving import (
        cold_start_view,
        doomscroll_view,
        register_gold_views,
    )

    ev = load_table(spark, sf_small, "events")
    gold = MD.build_gold_window_stats(ev)
    register_gold_views(spark, gold)
    hi = gold.agg(F.max("window_start")).first()[0] + datetime.timedelta(minutes=1)
    as_of = hi.strftime("%Y-%m-%d %H:%M:%S")

    ds = doomscroll_view(spark, as_of).collect()
    assert ds, "no doomscroll bins in lookback"
    direct = {
        r.window_start: (r.errors, r.views)
        for r in gold.groupBy("window_start")
        .agg(F.sum("errors").alias("errors"), F.sum("views").alias("views"))
        .collect()
    }
    for r in ds:
        e, v = direct[r.window_start]
        want = e / v if v else None
        assert r.doomscroll_rate == want
        assert bool(r.alert) == (want is not None and want > 0.40)

    cs = cold_start_view(spark, as_of).first()
    assert cs.n_new >= 0
    if cs.n_new:
        assert 0.0 <= cs.pct_quality <= 1.0
        want_band = ("green" if cs.pct_quality > 0.20
                     else "yellow" if cs.pct_quality >= 0.10 else "red")
        assert cs.band == want_band
