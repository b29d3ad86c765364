"""DuckDB twins of the workloads' outputs and the comparisons that count
wrong results.

Every twin is computed from the generated input files alone (never from
the program's output), in plain SQL that restates the package's
semantics: the watermark rule of the streaming gold aggregation, the
SCD1 fold of the CDC job, the serving views, and the medallion silver
and gold builds.  All checks run outside the timed region.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

#: gold_window_agg_stream / build_gold_window_stats counting cases
GOLD_CASES = {
    "views": "view", "clicks": "click", "purchases": "purchase",
    "signups": "signup", "errors": "error",
}
GOLD_COLS = ["window_start", "user_id", *GOLD_CASES]
EVENT_COLS = ["event_id", "event_timestamp", "video_id", "user_id", "event_type", "payload"]
DIM_COLS = ["ts_ms", "user_id", "register_country", "device_os", "is_creator",
            "ltv_segment", "join_at"]
CDC_AFTER = ("STRUCT(user_id VARCHAR, register_country VARCHAR, device_os VARCHAR, "
             "is_creator BOOLEAN, ltv_segment VARCHAR, join_at VARCHAR)")
#: medallion quality rules, restated (workloads.MEDALLION_RULES)
KNOWN_TYPES = ("view", "click", "purchase", "signup", "error")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _counts() -> str:
    return ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS {name}"
        for name, t in GOLD_CASES.items()
    )


# -- ingest ---------------------------------------------------------------

def content_input(con, in_glob: str) -> None:
    """View ``ev``: the generated stream with its batch index ``b`` and
    the watermark ``wm`` in force when its batch ran (max event time of
    all earlier batches minus the 10 s delay)."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW ev_raw AS
        SELECT event_id, event_timestamp::TIMESTAMP AS event_timestamp, video_id,
               user_id, event_type, payload,
               CAST(regexp_extract(filename, 'batch-(\\d+)\\.parquet$', 1) AS INTEGER) AS b
        FROM read_parquet('{in_glob}', filename = true)""")
    con.execute("""
        CREATE OR REPLACE TEMP VIEW ev AS
        WITH bmax AS (SELECT b, max(event_timestamp) AS m FROM ev_raw GROUP BY b),
        wm AS (SELECT b, max(m) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) - INTERVAL 10 SECOND AS wm
               FROM bmax)
        SELECT ev_raw.*, wm.wm FROM ev_raw JOIN wm USING (b)""")


def gold_twin_sql(source: str = "ev") -> str:
    """Finalized 1-minute windows per user: events whose window had
    already closed under their batch's watermark are dropped, and only
    windows closed by the final watermark are emitted (append mode)."""
    return f"""
        SELECT window_start, user_id, {_counts()}
        FROM (SELECT date_trunc('minute', event_timestamp) AS window_start, user_id,
                     event_type, wm FROM {source})
        WHERE wm IS NULL OR window_start + INTERVAL 1 MINUTE > wm
        GROUP BY window_start, user_id
        HAVING window_start + INTERVAL 1 MINUTE
               <= (SELECT max(event_timestamp) FROM {source}) - INTERVAL 10 SECOND"""


def events_late_dropped(con) -> int:
    return con.execute(
        "SELECT count(*) FROM ev WHERE wm IS NOT NULL AND "
        "date_trunc('minute', event_timestamp) + INTERVAL 1 MINUTE <= wm"
    ).fetchone()[0]


def parquet_dir(path: str, cols: list[str]) -> str:
    col_list = ", ".join(cols)
    return (f"(SELECT {col_list} FROM read_parquet('{path}/**/*.parquet', "
            f"hive_partitioning = false, union_by_name = true))")


def diff(con, got: str, want: str, name: str) -> dict:
    """Multiset comparison of two relations with the same columns."""
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
    out = {"check": name, "ok": missing == 0 and extra == 0 and n_want > 0,
           "rows_expected": n_want, "missing": missing, "extra": extra}
    if not out["ok"]:
        out["sample_extra"] = [str(r) for r in con.execute(
            f"SELECT * FROM ({got} EXCEPT ALL {want}) LIMIT 3").fetchall()]
        out["sample_missing"] = [str(r) for r in con.execute(
            f"SELECT * FROM ({want} EXCEPT ALL {got}) LIMIT 3").fetchall()]
    return out


# -- cdc_upsert -----------------------------------------------------------

def cdc_input(con, globs: list[str]) -> None:
    """View ``env``: every envelope with its batch order ``b`` (the
    bootstrap file sorts first)."""
    parts = []
    for g in globs:
        parts.append(f"""
            SELECT op, ts_ms, after,
                   CASE WHEN filename LIKE '%bootstrap.json' THEN -1 ELSE
                   CAST(regexp_extract(filename, 'batch-(\\d+)\\.json$', 1) AS INTEGER) END AS b
            FROM read_json('{g}', format = 'newline_delimited', filename = true,
                           columns = {{op: 'VARCHAR', ts_ms: 'BIGINT', after: '{CDC_AFTER}'}})""")
    con.execute("CREATE OR REPLACE TEMP VIEW env AS " + " UNION ALL ".join(parts))


def scd1_twin_sql() -> str:
    """The SCD1 fold: keep c/u, take each key's latest row per batch,
    then per column the value of the latest batch whose row was non-null
    (update nulls keep the current value; ``update_cols`` is the job's
    default, every column)."""
    fills = ",\n".join(
        f"arg_max({c}, b) FILTER (WHERE {c} IS NOT NULL) AS {c}"
        for c in DIM_COLS if c not in ("ts_ms", "user_id")
    )
    return f"""
        WITH u AS (SELECT b, ts_ms, after.* FROM env WHERE op IN ('c', 'u')),
        lat AS (SELECT * REPLACE (CAST(join_at AS TIMESTAMP) AS join_at) FROM u
                QUALIFY row_number() OVER (PARTITION BY user_id, b ORDER BY ts_ms DESC) = 1)
        SELECT arg_max(ts_ms, b) AS ts_ms, user_id, {fills}
        FROM lat GROUP BY user_id"""


def arrow_relation(con, name: str, table, cols: list[str]) -> str:
    con.register(name, table)
    casts = ", ".join(
        f"{c}::TIMESTAMP AS {c}" if c in ("join_at", "window_start", "event_timestamp", "ts")
        else c for c in cols
    )
    return f"(SELECT {casts} FROM {name})"


# -- serve ----------------------------------------------------------------

def view_sql(view: str, as_of: str) -> str:
    """DuckDB restatement of each ``serving`` view over tables
    ``gold_stats_1min`` and ``dim_entity`` (default view parameters)."""
    ts = f"TIMESTAMP '{as_of}'"
    if view == "velocity_view":
        return f"""
            SELECT user_id, CAST(SUM(clicks) * 5 + SUM(purchases) * 10 AS DOUBLE)
                   / CAST(NULLIF(SUM(views), 0) AS DOUBLE) AS velocity
            FROM gold_stats_1min
            WHERE window_start >= {ts} - INTERVAL 30 MINUTE AND window_start < {ts}
            GROUP BY user_id"""
    if view == "trending_view":
        return f"""
            WITH m AS (
              SELECT user_id, SUM(clicks) AS clicks, SUM(views) AS views,
                     SUM(purchases) AS purchases
              FROM gold_stats_1min
              WHERE window_start >= {ts} - INTERVAL 60 MINUTE AND window_start < {ts}
              GROUP BY user_id)
            SELECT m.*, d.c_mktsegment FROM m LEFT JOIN dim_entity d ON m.user_id = d.user_id
            ORDER BY m.clicks DESC, m.user_id ASC LIMIT 50"""
    if view == "doomscroll_view":
        return f"""
            SELECT window_start,
                   CAST(SUM(errors) AS DOUBLE) / CAST(NULLIF(SUM(views), 0) AS DOUBLE)
                     AS doomscroll_rate,
                   COALESCE(CAST(SUM(errors) AS DOUBLE)
                     / CAST(NULLIF(SUM(views), 0) AS DOUBLE) > 0.4, FALSE) AS alert
            FROM gold_stats_1min
            WHERE window_start >= {ts} - INTERVAL 30 MINUTE AND window_start < {ts}
            GROUP BY window_start ORDER BY window_start"""
    if view == "cold_start_view":
        q = "AVG(CASE WHEN velocity > 0.05 THEN 1.0 ELSE 0.0 END)"
        return f"""
            WITH seen AS (
              SELECT user_id, MIN(window_start) AS first_seen,
                     CAST(SUM(clicks) * 5 + SUM(purchases) * 10 AS DOUBLE)
                       / CAST(NULLIF(SUM(views), 0) AS DOUBLE) AS velocity
              FROM gold_stats_1min WHERE window_start < {ts} GROUP BY user_id),
            new_entities AS (SELECT * FROM seen
                             WHERE first_seen >= {ts} - INTERVAL 60 MINUTE)
            SELECT COUNT(*) AS n_new, {q} AS pct_quality,
                   CASE WHEN {q} > 0.20 THEN 'green' WHEN {q} >= 0.10 THEN 'yellow'
                        ELSE 'red' END AS band
            FROM new_entities"""
    if view == "spike_view":
        return f"""
            WITH w AS (
              SELECT user_id,
                     SUM(CASE WHEN window_start >= {ts} - INTERVAL 10 MINUTE
                              THEN views ELSE 0 END) AS recent_views,
                     SUM(CASE WHEN window_start < {ts} - INTERVAL 10 MINUTE
                              THEN views ELSE 0 END) AS base_views
              FROM gold_stats_1min
              WHERE window_start >= {ts} - INTERVAL 70 MINUTE AND window_start < {ts}
              GROUP BY user_id)
            SELECT user_id, CAST(recent_views AS DOUBLE) / 10 AS recent_rate,
                   CAST(base_views AS DOUBLE) / 60 AS base_rate,
                   CAST(recent_views AS DOUBLE) * 60 / (CAST(base_views AS DOUBLE) * 10)
                     AS spike_ratio,
                   CAST(recent_views AS DOUBLE) * 60 / (CAST(base_views AS DOUBLE) * 10) > 3.0
                     AS is_spike
            FROM w WHERE base_views > 0
            ORDER BY spike_ratio DESC, user_id ASC"""
    if view == "freshness_view":
        return f"""
            SELECT CAST(epoch(date_trunc('second', {ts})) AS BIGINT)
                   - CAST(epoch(date_trunc('second', MAX(window_start))) AS BIGINT) AS lag_s
            FROM gold_stats_1min"""
    raise ValueError(f"unknown view {view!r}")


def _norm(v):
    if isinstance(v, float | Decimal):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, date | bool | int | str) or v is None:
        return v
    return str(v)


def _exact_key(row: tuple) -> str:
    return repr(tuple(v for v in row if not isinstance(v, float)))


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # Spark averages decimals at scale 5; DuckDB averages in double
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-5)
    return a == b


def same_rows(got, want) -> bool:
    """Order-insensitive comparison of two result sets, tolerant in the
    fractional columns only."""
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_exact_key)
    b = sorted((tuple(_norm(v) for v in r) for r in want), key=_exact_key)
    return len(a) == len(b) and all(
        len(x) == len(y) and all(_close(u, v) for u, v in zip(x, y)) for x, y in zip(a, b))


# -- medallion_batch ------------------------------------------------------

def silver_twin_sql(bronze: str, timeline: str) -> str:
    """Quality gate -> 30-minute-gap sessionize (tiebreak event_id) ->
    as-of enrichment: per value column, the latest non-null timeline
    value at or before the event (timeline rows sort first at ties)."""
    known = ", ".join(f"'{t}'" for t in KNOWN_TYPES)
    return f"""
        WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value
                    FROM read_parquet('{bronze}/*.parquet')),
        good AS (SELECT * FROM ev WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_type IN ({known})),
        lagged AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                   FROM good),
        sess AS (SELECT event_id, ts, user_id, event_type, value,
                        SUM(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id,
                        CAST(ts AS DATE) AS date
                 FROM lagged),
        tl AS (SELECT user_id, t_ts::TIMESTAMP AS t_ts, segment, tier
               FROM read_parquet('{timeline}/*.parquet')),
        u AS (SELECT user_id, t_ts AS k_ts, 0 AS side, segment, tier,
                     NULL::VARCHAR AS event_id, NULL::TIMESTAMP AS ts, NULL::VARCHAR AS event_type,
                     NULL::DOUBLE AS value, NULL::HUGEINT AS session_id, NULL::DATE AS date
              FROM tl
              UNION ALL
              SELECT user_id, ts, 1, NULL, NULL, event_id, ts, event_type, value,
                     session_id, date FROM sess),
        filled AS (SELECT *,
                     last_value(segment IGNORE NULLS) OVER w AS seg_v,
                     last_value(tier IGNORE NULLS) OVER w AS tier_v
                   FROM u
                   WINDOW w AS (PARTITION BY user_id ORDER BY k_ts, side, event_id NULLS FIRST
                                ROWS UNBOUNDED PRECEDING))
        SELECT event_id, ts, user_id, event_type, value, CAST(session_id AS BIGINT) AS session_id,
               date, seg_v AS segment, tier_v AS tier
        FROM filled WHERE side = 1"""


SILVER_COLS = ["event_id", "ts", "user_id", "event_type", "value", "session_id", "date",
               "segment", "tier"]


def gold_from_silver_sql(silver: str) -> str:
    return f"""
        SELECT date_trunc('minute', ts) AS window_start, user_id, {_counts()}
        FROM {silver} GROUP BY 1, 2"""


ORDER_COLS = ["event_id", "event_type", "event_timestamp", "order_id", "user_id",
              "total_amount", "currency", "payment_method", "items", "current_status"]


def latest_state_twin_sql(orders: str) -> str:
    def expr(c: str) -> str:
        if c == "order_id":
            return c
        if c == "event_timestamp":
            return "max(event_timestamp)"
        return f"arg_max({c}, event_timestamp) FILTER (WHERE {c} IS NOT NULL)"

    return f"""
        SELECT {", ".join(f"{expr(c)} AS {c}" for c in ORDER_COLS)}
        FROM read_parquet('{orders}/*.parquet') GROUP BY order_id"""
