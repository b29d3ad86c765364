"""End-to-end parity with the reference's three pipelines on
FIXTURES.md-shaped synthetic data: content events (Header+Body JSON),
order events with nested items, and Debezium-style CDC envelopes —
from raw JSON strings through parse, medallion build, and SCD1 merge."""

from __future__ import annotations

import datetime
import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark import medallion as MD  # noqa: E402
from real_timetransactionaldatalakehouse_spark import schemas as SC  # noqa: E402
from real_timetransactionaldatalakehouse_spark.functions import epoch_seconds_to_ts  # noqa: E402
from real_timetransactionaldatalakehouse_spark.operators.merge import merge_upsert  # noqa: E402
from real_timetransactionaldatalakehouse_spark.sources import parse_cdc_envelope  # noqa: E402

T0 = datetime.datetime(2024, 5, 1, 8, 0, 0)


def _content_json(i, etype, video, user, watch_ms, minute):
    return json.dumps(
        {
            "event_id": f"e{i}",
            "event_timestamp": (T0 + datetime.timedelta(minutes=minute)).isoformat(),
            "video_id": video,
            "user_id": user,
            "event_type": etype,
            "payload": {
                "watch_time_ms": watch_ms,
                "device_os": "iOS",
                "app_version": "15.0",
                "network_type": "wifi",
            },
        }
    )


def test_content_pipeline_json_to_bronze_and_gold(spark):
    """JSON -> from_json(CONTENT_EVENT_SCHEMA) -> gold 1-min conditional
    counts (the reference 3.1 lifecycle)."""
    raws = [
        _content_json(0, "impression", "v1", "u1", 0, 0),
        _content_json(1, "play_start", "v1", "u1", 0, 0),
        _content_json(2, "play_finish", "v1", "u1", 30000, 1),
        _content_json(3, "impression", "v2", "u2", 0, 1),
        _content_json(4, "like", "v1", "u2", 1200, 2),
    ]
    raw = spark.createDataFrame([(r,) for r in raws], "value string")
    parsed = raw.select(
        F.from_json(F.col("value"), SC.CONTENT_EVENT_SCHEMA).alias("d")
    ).select("d.*")
    assert parsed.count() == 5
    assert parsed.filter(F.col("event_timestamp").isNull()).count() == 0

    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        tumbling_window_counts,
    )

    gold = tumbling_window_counts(
        parsed, "event_timestamp", "1 minute", ["video_id"],
        {
            "impressions": F.col("event_type") == "impression",
            "likes": F.col("event_type") == "like",
            "play_finish": F.col("event_type") == "play_finish",
        },
    )
    g = {(r.window_start.minute, r.video_id): r for r in gold.collect()}
    assert g[(0, "v1")].impressions == 1
    assert g[(1, "v1")].play_finish == 1
    assert g[(2, "v1")].likes == 1


def test_order_events_epoch_cast_and_latest_state(spark):
    """Order events arrive with epoch-second LONG timestamps (reference
    streaming_job.py:202 cast) and sparse update columns."""
    base = int(T0.timestamp())
    rows = [
        ("e1", "ORDER_CREATED", base, "A", "u1", 99.5, "USD", "card",
         [{"sku": "s1", "quantity": 1, "unit_price": 99.5, "category": "toys"}],
         "CREATED"),
        ("e2", "ORDER_PAID", base + 60, "A", None, None, None, None, None, "PAID"),
    ]
    df = spark.createDataFrame(rows, SC.ORDER_EVENT_SCHEMA)
    typed = df.withColumn("event_timestamp", epoch_seconds_to_ts("event_timestamp"))
    assert dict(typed.dtypes)["event_timestamp"] == "timestamp"
    cur = MD.build_gold_latest_state(typed)
    r = cur.collect()[0]
    assert r.current_status == "PAID"
    assert r.total_amount == 99.5 and r.currency == "USD"
    assert r.items[0]["category"] == "toys"


def test_cdc_envelope_to_scd1_dims(spark):
    """Debezium envelope JSON -> parse_cdc_envelope -> SCD1 merge —
    the reference 3.2 lifecycle, including the op filter and ISO
    timestamp cast."""
    envs = [
        {"op": "c", "ts_ms": 1000,
         "after": {"user_id": "u1", "register_country": "US", "device_os": "iOS",
                   "is_creator": False, "ltv_segment": "Standard",
                   "join_at": "2024-01-01T00:00:00"}},
        {"op": "c", "ts_ms": 1000,
         "after": {"user_id": "u2", "register_country": "JP", "device_os": "Android",
                   "is_creator": False, "ltv_segment": "Standard",
                   "join_at": "2024-02-01T12:30:00"}},
        {"op": "u", "ts_ms": 2000,
         "after": {"user_id": "u1", "register_country": None, "device_os": None,
                   "is_creator": True, "ltv_segment": "VIP", "join_at": None}},
        {"op": "r", "ts_ms": 3000,  # snapshot/read op -> filtered
         "after": {"user_id": "u1", "register_country": "XX", "device_os": None,
                   "is_creator": None, "ltv_segment": "Bogus", "join_at": None}},
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in envs], "value string")
    parsed = parse_cdc_envelope(raw, SC.CDC_USERS_SCHEMA, ts_cast_cols=("join_at",))
    assert dict(parsed.dtypes)["join_at"] == "timestamp"

    updates = parsed.filter(F.col("op").isin("c", "u")).drop("op")
    creates = updates.filter(F.col("ts_ms") == 1000)
    dim = merge_upsert(
        creates, updates.filter(F.col("ts_ms") > 1000), ["user_id"],
        order_col="ts_ms",
    )
    d = {r.user_id: r for r in dim.collect()}
    assert len(d) == 2
    assert d["u1"].ltv_segment == "VIP" and d["u1"].is_creator is True
    assert d["u1"].register_country == "US"  # a NULL update keeps the target value
    assert d["u1"].join_at == datetime.datetime(2024, 1, 1)
    assert d["u2"].ltv_segment == "Standard"


# =====================================================================
# Chaos-scenario replay (reference design_doc/MockEventGenerator.md:
# 150-179): the generator's three injected failure modes driven
# end-to-end through the streaming gold build and the serving views,
# asserting the documented dashboard reactions.
# =====================================================================

CHAOS_T0 = datetime.datetime(2024, 6, 1, 12, 0, 0)


def _chaos_schema():
    return "event_id long, ts timestamp, user_id long, event_type string, app_version string"


def _chaos_gold(spark, tmp_path, rows, group_cols):
    """Replay a deterministic event list through the streaming gold
    window aggregation (4 time-ordered chunks, watermark semantics
    live) and register the serving views over the result."""
    from real_timetransactionaldatalakehouse_spark.serving import register_gold_views
    from real_timetransactionaldatalakehouse_spark.sources import file_stream
    from real_timetransactionaldatalakehouse_spark.streaming import (
        gold_window_agg_stream,
    )
    from tests.test_streaming import _write_chunks

    # flush sentinel far past the horizon so every scenario window is
    # watermark-finalized and reaches gold
    rows = rows + [
        (10**6, CHAOS_T0 + datetime.timedelta(minutes=600), 1, "view", "14.0")
    ]
    df = spark.createDataFrame(rows, _chaos_schema())
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "gold", "ckpt"))
    _write_chunks(df, src, 4, "ts")
    gold_window_agg_stream(
        file_stream(spark, src, df.schema), out, ckpt,
        ts_col="ts", group_cols=group_cols,
        cases={
            "views": F.col("event_type") == "view",
            "clicks": F.col("event_type") == "like",
            "purchases": F.col("event_type") == "share",
            "errors": F.col("event_type") == "skip",
        },
    )
    gold = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(u, "SEG") for u in range(1, 30)] + [(999, "VIRAL")],
        "user_id long, c_mktsegment string",
    )
    register_gold_views(spark, gold, dim)
    return gold


def _ev(rows, eid, minute, user, etype, version="14.0", n=1):
    """Append n copies of an event at CHAOS_T0+minute; returns next id."""
    for j in range(n):
        rows.append(
            (eid + j, CHAOS_T0 + datetime.timedelta(minutes=minute, seconds=j % 50),
             user, etype, version)
        )
    return eid + n


def test_chaos_supernova_viral_entity_captures_rank_one(spark, tmp_path):
    """Scenario A (MockEventGenerator.md:156-163): a 500x engagement
    boost on one entity must put it at Rank #1 of the trending table
    and in the top-right of the velocity scatter (velocity strictly
    above every baseline entity)."""
    from real_timetransactionaldatalakehouse_spark.serving import (
        trending_view,
        velocity_view,
    )

    rows, eid = [], 0
    for m in range(30):
        for u in range(1, 21):  # baseline fleet: 5 views + 1 like / min
            eid = _ev(rows, eid, m, u, "view", n=5)
            eid = _ev(rows, eid, m, u, "like", n=1)
    for m in range(20):  # v_999 pre-viral: one organic view per minute
        eid = _ev(rows, eid, m, 999, "view", n=1)
    for m in range(20, 30):  # supernova: v_999 boosted 500x
        eid = _ev(rows, eid, m, 999, "view", n=60)
        eid = _ev(rows, eid, m, 999, "like", n=50)
    _chaos_gold(spark, tmp_path, rows, ["user_id"])

    as_of = (CHAOS_T0 + datetime.timedelta(minutes=30)).isoformat(sep=" ")
    top = trending_view(spark, as_of).collect()
    assert top[0].user_id == 999, [r.user_id for r in top]  # Rank #1 capture
    assert top[0].c_mktsegment == "VIRAL"  # dim enrichment on the winner
    vel = {r.user_id: r.velocity for r in velocity_view(spark, as_of).collect()}
    assert all(vel[999] > v for u, v in vel.items() if u != 999), vel

    # the read-side spike alert (serving.spike_view over the same gold
    # rollup the dashboard reads) must flag exactly the boosted entity
    from real_timetransactionaldatalakehouse_spark.serving import spike_view

    sv = {r.user_id: r for r in spike_view(spark, as_of).collect()}
    assert sv[999].is_spike, sv.get(999)
    assert [u for u, r in sv.items() if r.is_spike] == [999], {
        u: r.spike_ratio for u, r in sv.items() if r.is_spike
    }

    # the batch spike detector (operators/relational.spike_detect) must
    # flag the same entity from the raw events — the alerting twin of
    # the dashboard's rank capture (bin = 10 min; the boost occupies
    # the last bin's window while baseline users stay flat)
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        spike_detect,
    )

    ev = spark.createDataFrame(rows, _chaos_schema()).filter(
        F.col("ts") < CHAOS_T0 + datetime.timedelta(minutes=30)
    )
    spikes = {r.user_id: r for r in spike_detect(ev, ["user_id"], "ts").collect()}
    assert spikes[999].is_spike, spikes.get(999)
    assert all(not r.is_spike for u, r in spikes.items() if u != 999), {
        u: r.spike_ratio for u, r in spikes.items() if r.is_spike
    }


def test_chaos_broken_client_interaction_rate_drops(spark, tmp_path):
    """Scenario B (MockEventGenerator.md:166-171): a bad app update
    zeroes like probability for its users; the global interaction-rate
    line must drop proportionally to the broken version's adoption
    share (50% here), while healthy-version entities are unaffected."""
    rows, eid = [], 0
    for m in range(30):
        for u in range(1, 21):
            ver = "15.0" if u > 10 else "14.0"  # 50% adoption of v15.0
            eid = _ev(rows, eid, m, u, "view", version=ver, n=10)
            broken = ver == "15.0" and m >= 15  # bug ships at minute 15
            if not broken:
                eid = _ev(rows, eid, m, u, "like", version=ver, n=2)
    _chaos_gold(spark, tmp_path, rows, ["user_id", "app_version"])

    rate = {
        r.period: r.rate
        for r in spark.sql(f"""
            SELECT CASE WHEN window_start
                          < TIMESTAMP '{(CHAOS_T0 + datetime.timedelta(minutes=15)).isoformat(sep=' ')}'
                        THEN 'pre' ELSE 'post' END AS period,
                   CAST(SUM(clicks) AS DOUBLE) / SUM(views) AS rate
            FROM gold_stats_1min
            WHERE window_start < TIMESTAMP '{(CHAOS_T0 + datetime.timedelta(minutes=30)).isoformat(sep=' ')}'
            GROUP BY 1
        """).collect()
    }
    assert abs(rate["pre"] - 0.2) < 1e-9, rate  # 2 likes / 10 views
    assert abs(rate["post"] - 0.1) < 1e-9, rate  # halved by 50% adoption
    by_ver = {
        (r.app_version, r.period): r.clicks
        for r in spark.sql(f"""
            SELECT app_version,
                   CASE WHEN window_start
                          < TIMESTAMP '{(CHAOS_T0 + datetime.timedelta(minutes=15)).isoformat(sep=' ')}'
                        THEN 'pre' ELSE 'post' END AS period,
                   SUM(clicks) AS clicks
            FROM gold_stats_1min
            WHERE window_start < TIMESTAMP '{(CHAOS_T0 + datetime.timedelta(minutes=30)).isoformat(sep=' ')}'
            GROUP BY 1, 2
        """).collect()
    }
    assert by_ver[("15.0", "pre")] > 0 and by_ver[("15.0", "post")] == 0, by_ver
    assert by_ver[("14.0", "pre")] == by_ver[("14.0", "post")], by_ver


def test_chaos_inventory_drought_fresh_supply_decays(spark, tmp_path):
    """Scenario C (MockEventGenerator.md:174-178): new-entity creation
    stops at minute 15; the fresh-supply gauge (cold_start_view over a
    60-minute age window) must decay 15 -> 5 -> 0 as the age window
    slides past the last creation, ending in the red band."""
    from real_timetransactionaldatalakehouse_spark.serving import cold_start_view

    rows, eid = [], 0
    for m in range(15):  # healthy supply: one new entity per minute
        eid = _ev(rows, eid, m, 100 + m, "view", n=5)
        eid = _ev(rows, eid, m, 100 + m, "like", n=2)
    # incumbents: long pre-scenario history (first_seen far outside
    # every age window) and steady engagement through the drought
    for m in range(-120, 90):
        eid = _ev(rows, eid, m, 1, "view", n=5)
        eid = _ev(rows, eid, m, 2, "view", n=5)
    _chaos_gold(spark, tmp_path, rows, ["user_id"])

    def gauge(minute):
        as_of = (CHAOS_T0 + datetime.timedelta(minutes=minute)).isoformat(sep=" ")
        return cold_start_view(spark, as_of).collect()[0]

    healthy, mid, dry = gauge(20), gauge(70), gauge(80)
    assert healthy.n_new == 15 and healthy.band == "green", healthy
    assert mid.n_new == 5, mid  # only the minute-10..14 cohort remains
    assert dry.n_new == 0 and dry.band == "red", dry
