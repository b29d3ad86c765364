"""The benchmark's own tests: generator determinism, checkers that flag a
planted wrong row, and metric names that match BENCHMARK.json.  DuckDB
only; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, run  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _gen_all(d: str, seed: int) -> dict:
    return {
        "events": gen.content_events(os.path.join(d, "events"), seed, 5, 300),
        "cdc": gen.cdc_feed(os.path.join(d, "cdc"), seed, 500, 3, 100,
                            bootstrap_dir=os.path.join(d, "boot")),
        "medallion": gen.medallion_inputs(os.path.join(d, "med"), seed, 4000,
                                          n_users=200, n_orders=300),
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    props_a, props_b = _gen_all(a, 7), _gen_all(b, 7)
    _gen_all(c, 8)
    assert props_a == props_b
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)


def test_generator_records_input_properties(tmp_path):
    props = _gen_all(str(tmp_path), 3)
    ev = props["events"]
    assert ev["late_share"] > 0 and ev["out_of_order_share"] > 0 and ev["duplicate_share"] > 0
    assert ev["video_skew"]["top1pct_key_share"] > 0.2
    assert set(props["cdc"]["op_mix"]) == set(gen.CDC_OP_MIX)
    assert props["cdc"]["hot_key_repeat_share"] > 0
    assert props["medallion"]["quality_violation_share"] > 0


@pytest.fixture()
def con():
    return check.connect()


def _planted(con, want: str, change: str) -> str:
    """``want`` with one row altered by the SQL expression list
    ``change`` (a SELECT * REPLACE clause) and the rest unchanged."""
    con.execute(f"CREATE OR REPLACE TABLE w AS SELECT *, row_number() OVER () AS rn FROM ({want})")
    return (f"(SELECT * EXCLUDE (rn) FROM w WHERE rn > 1 UNION ALL "
            f"SELECT * EXCLUDE (rn) REPLACE ({change}) FROM w WHERE rn = 1)")


def test_ingest_checks_flag_a_planted_row(tmp_path, con):
    gen.content_events(str(tmp_path), 1, 5, 300)
    check.content_input(con, str(tmp_path / "*.parquet"))
    assert check.events_late_dropped(con) > 0
    gold = f"({check.gold_twin_sql()})"
    assert check.diff(con, gold, gold, "gold")["ok"]
    bad = check.diff(con, _planted(con, gold, "views + 1 AS views"), gold, "gold")
    assert not bad["ok"] and bad["missing"] == 1 and bad["extra"] == 1
    bronze = f"(SELECT {', '.join(check.EVENT_COLS)} FROM ev)"
    assert not check.diff(con, _planted(con, bronze, "'x' AS user_id"), bronze, "bronze")["ok"]


def test_cdc_check_flags_a_planted_row(tmp_path, con):
    gen.cdc_feed(str(tmp_path / "cdc"), 1, 500, 3, 100, bootstrap_dir=str(tmp_path / "boot"))
    check.cdc_input(con, [str(tmp_path / "boot" / "*.json"), str(tmp_path / "cdc" / "*.json")])
    dim = f"({check.scd1_twin_sql()})"
    assert check.diff(con, dim, dim, "dim")["ok"]
    assert not check.diff(con, _planted(con, dim, "'ZZ' AS ltv_segment"), dim, "dim")["ok"]


def test_scd1_twin_keeps_current_value_on_null_update(con):
    con.execute(f"""CREATE OR REPLACE TEMP VIEW env AS SELECT * FROM (VALUES
        ('c', 1, {{'user_id': 'u1', 'register_country': 'US', 'device_os': 'iOS',
                  'is_creator': false, 'ltv_segment': 'VIP', 'join_at': '2023-01-01T00:00:00'}}
                  ::{check.CDC_AFTER}, -1),
        ('u', 2, {{'user_id': 'u1', 'register_country': NULL, 'device_os': 'Android',
                  'is_creator': NULL, 'ltv_segment': NULL, 'join_at': NULL}}::{check.CDC_AFTER}, 0),
        ('d', 3, NULL::{check.CDC_AFTER}, 1)
    ) t(op, ts_ms, after, b)""")
    (row,) = con.execute(check.scd1_twin_sql()).fetchall()
    assert row[:6] == (2, "u1", "US", "Android", False, "VIP")


def test_serve_check_flags_a_planted_row(tmp_path, con):
    gen.content_events(str(tmp_path), 1, 5, 300, span_s=1800)
    check.content_input(con, str(tmp_path / "*.parquet"))
    con.execute(f"CREATE TABLE gold_stats_1min AS {check.gold_twin_sql()}")
    con.execute("CREATE TABLE dim_entity AS SELECT DISTINCT user_id, 'S' AS c_mktsegment "
                "FROM gold_stats_1min")
    for view in ("velocity_view", "trending_view", "spike_view", "doomscroll_view",
                 "cold_start_view", "freshness_view"):
        rows = con.execute(check.view_sql(view, "2024-06-01 02:00:00")).fetchall()
        assert rows, view
        assert check.same_rows(list(reversed(rows)), rows)
        *head, last = rows[0]
        wrong = (not last if isinstance(last, bool) else last + "x" if isinstance(last, str)
                 else 1 if last is None else last + 1)
        assert not check.same_rows([(*head, wrong), *rows[1:]], rows), view


def test_medallion_checks_flag_a_planted_row(tmp_path, con):
    d = str(tmp_path)
    gen.medallion_inputs(d, 1, 4000, n_users=200, n_orders=300)
    silver = f"({check.silver_twin_sql(d + '/bronze', d + '/dim_timeline')})"
    n_bronze = con.execute(
        f"SELECT count(*) FROM read_parquet('{d}/bronze/*.parquet')").fetchone()[0]
    n_silver = con.execute(f"SELECT count(*) FROM {silver}").fetchone()[0]
    assert 0 < n_silver < n_bronze  # the quality gate drops the planted violations
    assert not check.diff(con, _planted(con, silver, "session_id + 1 AS session_id"),
                          silver, "silver")["ok"]
    gold = f"({check.gold_from_silver_sql(silver)})"
    assert not check.diff(con, _planted(con, gold, "errors + 1 AS errors"), gold, "gold")["ok"]
    latest = f"({check.latest_state_twin_sql(d + '/orders')})"
    assert not check.diff(con, _planted(con, latest, "'LOST' AS current_status"),
                          latest, "latest")["ok"]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
