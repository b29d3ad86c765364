"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (viral-velocity trending
pipeline, SURVEY.md section 7.2) on sf0.001.  ``queries()`` exposes one
callable per implemented operator from SURVEY.md section 2;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL the driver
hash-compares against at sf0.01.

Determinism rules (SURVEY.md section 7.3) applied throughout:
- session timezone pinned to UTC inside every callable;
- float sums go through exact DECIMAL accumulation (order-independent)
  and come back as DOUBLE — identical in Spark and DuckDB;
- output timestamps truncated to whole seconds (parquet ns vs us);
- every window/order has a deterministic tiebreak key;
- no now()/rand(); range predicates use pinned literals.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_timetransactionaldatalakehouse_spark import functions as LF
from real_timetransactionaldatalakehouse_spark.operators import relational as R
from real_timetransactionaldatalakehouse_spark.operators import joins as J
from real_timetransactionaldatalakehouse_spark.operators import merge as M
from real_timetransactionaldatalakehouse_spark.sources import load_table

SF0001 = "/root/testdata/sf0.001"

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}
_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    """A fresh temp dir for a query that builds a table.  The returned
    DataFrame reads it lazily, so it lives until the next declared
    query starts (or the process exits)."""
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(path)
    return path


def _drop_scratch_dirs() -> None:
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_drop_scratch_dirs)


def _q(name: str, oracle: str | None = None):
    """Register a declared query (and its DuckDB oracle)."""

    def deco(fn):
        @functools.wraps(fn)  # keep docstrings for tools/gen_operators_md.py
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # queries are self-contained (each reads its tables from
            # parquet): drop any intermediate a previous query left
            # cached so a long driver session never accumulates
            # executor memory across the declared surface; the tables
            # earlier queries built go the same way
            spark.catalog.clearCache()
            _drop_scratch_dirs()
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# =====================================================================
# Flagship: viral-velocity trending (SURVEY.md section 7.2 step 1).
# Exercises scan -> filter -> tumbling window conditional agg (G2/G6)
# -> read-side rollup ratio (G3) -> broadcast left-join enrichment (J3)
# -> top-k (S3): one row of each section-2 category.
# =====================================================================

def entry(spark: SparkSession) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return q_trending_velocity(spark, SF0001)


_TRENDING_ORACLE = """
WITH minute_stats AS (
  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS window_start,
         user_id,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
  FROM events
  GROUP BY 1, 2
), rollup_u AS (
  SELECT user_id,
         CAST(SUM(views) AS BIGINT) AS views,
         CAST(SUM(clicks) AS BIGINT) AS clicks,
         CAST(SUM(purchases) AS BIGINT) AS purchases,
         CAST(SUM(clicks) * 5 + SUM(purchases) * 10 AS DOUBLE)
           / CAST(NULLIF(SUM(views), 0) AS DOUBLE) AS velocity
  FROM minute_stats
  GROUP BY user_id
)
SELECT r.user_id, r.views, r.clicks, r.purchases, r.velocity, c.c_mktsegment
FROM rollup_u r LEFT JOIN customer c ON r.user_id = c.c_custkey
WHERE r.velocity IS NOT NULL
ORDER BY r.velocity DESC, r.user_id ASC
LIMIT 50
"""


@_q("q_trending_velocity", _TRENDING_ORACLE)
def q_trending_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2+G6 window agg -> G3 ratio -> J3/J4 broadcast enrich -> S3 top-k.

    The events are hash-partitioned on ``user_id`` up front: partitioning
    on a prefix of the grouping keys satisfies both aggregation stages'
    clustering requirements, so the minute-window agg AND the per-user
    rollup run off ONE exchange instead of two (per-(user, minute) event
    counts are ~1 here and at the reference's firehose, so the map-side
    partial agg the direct groupBy would get compresses nothing — one
    wide shuffle beats two narrow ones; measured 0.36 s vs 0.46 s at
    sf0.1).  r13: the exchange is sized at the session's INPUT-SIZED
    reduce layout — the r12 core-count choice re-measured slower on
    the r13 host (interleaved width A/B: 4-way 0.51 s / 8-way 0.39 s
    vs 32-way 0.67 s at sf0.1; r12's same experiment had read 0.30 vs
    0.37 the other way — per-task scheduling cost is
    host-mode-dependent, and the input-derived width is the
    scale-portable choice)."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    events = _t(spark, sf_dir, "events").repartition(p, "user_id")
    customer = _t(spark, sf_dir, "customer")

    minute_stats = R.tumbling_window_counts(
        events, "ts", "1 minute", ["user_id"],
        {
            "views": F.col("event_type") == "view",
            "clicks": F.col("event_type") == "click",
            "purchases": F.col("event_type") == "purchase",
        },
    )
    rollup = minute_stats.groupBy("user_id").agg(
        F.sum("views").alias("views"),
        F.sum("clicks").alias("clicks"),
        F.sum("purchases").alias("purchases"),
    ).withColumn(
        "velocity",
        (F.col("clicks") * 5 + F.col("purchases") * 10).cast("double")
        / F.nullif(F.col("views"), F.lit(0)).cast("double"),
    )
    enriched = J.enrich_left(rollup, customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"), "user_id")
    return (
        enriched.filter(F.col("velocity").isNotNull())
        .select("user_id", "views", "clicks", "purchases", "velocity", "c_mktsegment")
        .orderBy(F.col("velocity").desc(), F.col("user_id").asc())
        .limit(50)
    )


# =====================================================================
# A. Scans
# =====================================================================

@_q("q_scan_project", """
SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
FROM lineitem
""")
def q_scan_project(spark, sf_dir):
    """A2/B1: projected parquet scan — ReadSchema prunes to 4 columns."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )


@_q("q_scan_limit", """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders ORDER BY o_orderkey LIMIT 10
""")
def q_scan_limit(spark, sf_dir):
    """A3/S2: limited scan; ordered for determinism (TakeOrderedAndProject)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(10)
    )


# =====================================================================
# B. Projections / filters
# =====================================================================

@_q("q_project_cast", """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
       TIMESTAMP '1970-01-01 00:00:00' + o_orderkey * INTERVAL '1 second' AS ts_from_epoch
FROM orders
""")
def q_project_cast(spark, sf_dir):
    """B2/H7: computed column + cast incl. epoch-seconds -> timestamp
    (reference streaming_job.py:202)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.floor("o_totalprice").alias("price_floor"),
        F.timestamp_seconds(F.col("o_orderkey")).alias("ts_from_epoch"),
    )


@_q("q_filter_eq", """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_returnflag = 'R'
""")
def q_filter_eq(spark, sf_dir):
    """B3: equality filter, pushed to the parquet scan."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@_q("q_filter_in", """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_type IN ('click', 'view')
""")
def q_filter_in(spark, sf_dir):
    """B5: IN-list predicate (reference stream_dims.py:79)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "user_id", "event_type", "value")
    )


@_q("q_filter_range", """
SELECT event_id, user_id, event_type,
       date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_s
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
""")
def q_filter_range(spark, sf_dir):
    """B6/H5: time-range predicate with pinned literals (reference
    Dashboard.md:45,48; as_of passed explicitly per SURVEY 7.3)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
    ).select("event_id", "user_id", "event_type", LF.ts_second("ts").alias("ts_s"))


@_q("q_retention_filter", """
SELECT event_id, user_id, event_type,
       date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_s
FROM events
WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
""")
def q_retention_filter(spark, sf_dir):
    """B9/M4: TTL retention — surviving rows after the cutoff delete
    (reference DataModel_SchemaDesign.md:136, 7-day gold TTL)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp"))
        .select("event_id", "user_id", "event_type", LF.ts_second("ts").alias("ts_s"))
    )


@_q("q_having_count", """
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING COUNT(*) > 10
""")
def q_having_count(spark, sf_dir):
    """B4/G1: group-count + HAVING (reference verify_medallion.py:19-21)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 10)
    )


@_q("q_coalesce", """
SELECT c.c_custkey, c.c_name,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.total_spent, 0.0) AS total_spent
FROM customer c
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total_spent
  FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
""")
def q_coalesce(spark, sf_dir):
    """B8: coalesce null-handling over a left join (reference
    streaming_job.py:141-144 MERGE coalesce pattern)."""
    customer = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), LF.dsum("o_totalprice").alias("total_spent"))
    )
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey", "c_name",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("total_spent"), F.lit(0.0)).alias("total_spent"),
        )
    )


# =====================================================================
# D. Aggregations
# =====================================================================

@_q("q_agg_count_by_key", """
SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
""")
def q_agg_count_by_key(spark, sf_dir):
    """G1: group-count (reference verify_medallion.py:19-20).
    Partial+final hash agg — shuffle carries one row per key."""
    return _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))


@_q("q_agg_global", """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM lineitem
""")
def q_agg_global(spark, sf_dir):
    """G4: global no-group aggregation (reference Dashboard.md:46).

    The distinct count runs as its own aggregation joined back to the
    plain aggregates: combining COUNT(DISTINCT) with other aggregates
    makes Catalyst Expand every input row per aggregate group (2x the
    scanned rows through the price sum — measured 0.93s vs 0.43s at
    sf0.1); two single-row aggregates cross-joined skip the Expand.
    (The third shape — ONE scan partial-aggregated by the distinct key,
    then a global roll-up — loses too: the keyed hash agg + shuffle of
    |distinct keys| partials costs more than the second columnar scan,
    measured 0.60 s vs 0.35 s at sf0.1 and 1.02 s vs 0.91 s at the 10x
    replica.)  The price total uses the exact scaled-long sum
    (``LF.msum``): money is fixed-point, so the accumulation stays in
    codegen's primitive path instead of Decimal's object path.  The
    cross join is hinted ``shuffle_replicate_nl``: a broadcast side
    would execute as its own eager job, serializing the two aggregates
    — the shuffle NL form keeps both single-row chains as parallel
    stages of one job (measured 0.35 s vs 0.61 s at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    plain = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        LF.msum("l_extendedprice").alias("total_price"),
    )
    distinct = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (
        plain.hint("shuffle_replicate_nl")
        .crossJoin(distinct.hint("shuffle_replicate_nl"))
        .select("n_rows", "n_orders", "total_price")
    )


@_q("q_agg_max_ts", """
SELECT event_type, date_trunc('second', CAST(MAX(ts) AS TIMESTAMP)) AS max_ts
FROM events GROUP BY event_type
""")
def q_agg_max_ts(spark, sf_dir):
    """G5: MAX freshness probe (reference Dashboard.md:85)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.date_trunc("second", F.max("ts")).alias("max_ts"))
    )


# =====================================================================
# F. Sorts / limits
# =====================================================================

@_q("q_orderby", """
SELECT event_id, user_id,
       ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC) AS pos
FROM events
""")
def q_orderby(spark, sf_dir):
    """S1: global sort (reference verify_medallion.py:33) — materialized
    as a global row position so the hash actually locks ordering.
    Computed scale-correctly: range partition + per-partition rank +
    offset join (relational.global_rank), never a one-partition window."""
    out = R.global_rank(
        _t(spark, sf_dir, "events"), ["ts", "event_id"], rank_col="pos"
    )
    return out.select("event_id", "user_id", "pos")


@_q("q_orderby_limit_topk", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
""")
def q_orderby_limit_topk(spark, sf_dir):
    """S3: agg-free top-k — compiles to TakeOrderedAndProject (per-
    partition heaps, no global shuffle sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


# =====================================================================
# G-set. Set operations
# =====================================================================

@_q("q_union_all", """
SELECT event_id, user_id, 'clicks' AS src FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, user_id, 'views' AS src FROM events WHERE event_type = 'view'
""")
def q_union_all(spark, sf_dir):
    """Set op: unionByName — the bronze replay shape (SURVEY section 2 G)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.lit("clicks").alias("src")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.lit("views").alias("src")
    )
    return clicks.unionByName(views)


# =====================================================================
# C. Joins
# =====================================================================

@_q("q_join_inner_equi", """
SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""")
def q_join_inner_equi(spark, sf_dir):
    """J6: FK equi inner join (fact->dim referential integrity,
    reference mock_cdc_generator.py:78)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
    )


@_q("q_join_left_enrich", """
SELECT e.user_id, e.n_events, c.c_mktsegment, c.c_acctbal
FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) e
LEFT JOIN customer c ON e.user_id = c.c_custkey
""")
def q_join_left_enrich(spark, sf_dir):
    """J3: read-time star-schema LEFT JOIN enrichment (reference
    Dashboard.md:48) — dim side broadcast (Dashboard.md:57)."""
    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_acctbal"
    )
    return J.enrich_left(per_user, dim, "user_id").select(
        "user_id", "n_events", "c_mktsegment", "c_acctbal"
    )


@_q("q_join_broadcast", """
SELECT s.s_suppkey, s.s_name, n.n_name, r.r_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""")
def q_join_broadcast(spark, sf_dir):
    """J4: explicit broadcast strategy on the snowflake dims — plan
    shows BroadcastHashJoin, zero shuffle of the fact side."""
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@_q("q_join_semi", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def q_join_semi(spark, sf_dir):
    """Semi join: EXISTS (the matched half of MERGE, SURVEY section 2
    C).  The matched side of a MERGE is delta-sized by construction, so
    the distinct key set broadcasts and the probe side never shuffles
    (r7: 2.38 s shuffle-semi -> 0.93 s at the 50x replica; the generic
    shuffle form with the default runtime bloom filter remains
    join_semi's broadcast_keys=False path for key sets past broadcast
    size)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return J.join_semi(c, o, "c_custkey", broadcast_keys=True).select(
        "c_custkey", "c_name"
    )


@_q("q_join_anti", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def q_join_anti(spark, sf_dir):
    """J2: NOT-EXISTS anti join — `WHEN NOT MATCHED THEN INSERT`
    semantics (reference streaming_job.py:148-154)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return J.join_anti(c, o, "c_custkey").select("c_custkey", "c_name")


@_q("q_join_asof", """
WITH timeline AS (
  SELECT o_custkey AS user_id, o_orderdate AS t_ts, MAX(o_orderstatus) AS status
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       date_trunc('second', CAST(e.ts AS TIMESTAMP)) AS ts_s,
       t.status
FROM events e ASOF LEFT JOIN timeline t
  ON e.user_id = t.user_id AND e.ts >= t.t_ts
""")
def q_join_asof(spark, sf_dir):
    """J5: point-in-time (as-of) join — the reference Silver design's
    "segment at that moment" enrichment (DataModel_SchemaDesign.md:48).
    Spark side: union-timelines + running last-non-null (joins.py),
    oracle side: DuckDB native ASOF JOIN.  The oracle's GROUP BY
    (custkey, date) -> MAX(status) timeline dedup is folded into the
    window's tie-sort (``dedup_keep_max``) instead of a pre-aggregation
    — one shuffle+agg stage less (measured 0.52 s -> 0.29 s steady at
    sf0.1)."""
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    timeline = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t_ts"),
        F.col("o_orderstatus").alias("status"),
    )
    out = J.asof_join(
        events, timeline, key="user_id", fact_ts="ts", timeline_ts="t_ts",
        value_cols=["status"], fact_tiebreaks=["event_id"],
        dedup_keep_max=True,
    )
    return out.select("event_id", "user_id", LF.ts_second("ts").alias("ts_s"), "status")


@_q("q_merge_upsert", """
WITH base AS (
  SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS amount,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 2 = 0
), upd AS (
  SELECT o_orderkey, 'X' AS status, o_totalprice * 1.1 AS amount,
         CAST(NULL AS VARCHAR) AS priority
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
       COALESCE(u.status, b.status) AS status,
       COALESCE(u.amount, b.amount) AS amount,
       COALESCE(u.priority, b.priority) AS priority
FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
""")
def q_merge_upsert(spark, sf_dir):
    """J1/J6: MERGE upsert as full-outer join + column-wise coalesce
    (reference streaming_job.py:137-154) via operators.merge — update
    wins, null update column falls back to target, unmatched inserts."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderpriority").alias("priority"),
    )
    upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("X").alias("status"),
        (F.col("o_totalprice") * 1.1).alias("amount"),
        F.lit(None).cast("string").alias("priority"),
    )
    return M.merge_upsert(base, upd, ["o_orderkey"])


# =====================================================================
# D. Aggregations (remaining)
# =====================================================================

@_q("q_agg_conditional_counts", """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors
FROM events GROUP BY user_id
""")
def q_agg_conditional_counts(spark, sf_dir):
    """B7/G2: 5-metric conditional aggregation — the reference gold
    pattern (stream_content.py:125-135), one shuffle."""
    return R.conditional_counts(
        _t(spark, sf_dir, "events"), ["user_id"],
        {
            "views": F.col("event_type") == "view",
            "clicks": F.col("event_type") == "click",
            "purchases": F.col("event_type") == "purchase",
            "signups": F.col("event_type") == "signup",
            "errors": F.col("event_type") == "error",
        },
    )


@_q("q_window_tumbling_1min", """
SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS window_start,
       user_id,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks
FROM events GROUP BY 1, 2
""")
def q_window_tumbling_1min(spark, sf_dir):
    """G6/T2: 1-minute tumbling event-time window + conditional counts
    (reference stream_content.py:123-144); batch equivalent of the
    streaming gold agg, oracle via date_trunc."""
    return R.tumbling_window_counts(
        _t(spark, sf_dir, "events"), "ts", "1 minute", ["user_id"],
        {
            "views": F.col("event_type") == "view",
            "clicks": F.col("event_type") == "click",
        },
    ).select("window_start", "user_id", "views", "clicks")


@_q("q_window_sliding", """
WITH expanded AS (
  SELECT event_type,
         make_timestamp(CAST((floor(epoch(CAST(ts AS TIMESTAMP)) / 300) - k) * 300 AS BIGINT) * 1000000) AS window_start
  FROM events, UNNEST([0, 1]) AS t(k)
)
SELECT window_start, event_type, COUNT(*) AS n
FROM expanded GROUP BY 1, 2
""")
def q_window_sliding(spark, sf_dir):
    """T9: sliding windows as a first-class operator — 10-minute
    windows sliding every 5 minutes (each event lands in exactly 2
    windows).  The reference computes sliding rollups read-side over
    tumbling buckets (PipelineArchitecture.md:178-180); Spark's
    window(ts, size, slide) expresses them directly.  Oracle expands
    each event to its two covering window starts via epoch math."""
    return (
        R.sliding_window_counts(
            _t(spark, sf_dir, "events"), "ts", "10 minutes", "5 minutes",
            ["event_type"], {"n": F.lit(True)},
        )
        .select("window_start", "event_type", "n")
    )


@_q("q_agg_ratio_velocity", """
SELECT user_id,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) * 5
            + COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) * 10 AS DOUBLE)
         / CAST(NULLIF(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0) AS DOUBLE)
         AS velocity
FROM events GROUP BY user_id
""")
def q_agg_ratio_velocity(spark, sf_dir):
    """G3: weighted-sum ratio — the reference velocity metric
    (Dashboard.md:45: SUM(likes*5+shares*10)/SUM(impressions))."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        (
            (
                F.count(F.when(F.col("event_type") == "click", 1)) * 5
                + F.count(F.when(F.col("event_type") == "purchase", 1)) * 10
            ).cast("double")
            / F.nullif(
                F.count(F.when(F.col("event_type") == "view", 1)), F.lit(0)
            ).cast("double")
        ).alias("velocity")
    )


@_q("q_agg_pct_threshold", """
SELECT event_type,
       CAST(COUNT(CASE WHEN value > 100.0 THEN 1 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS pct_high
FROM events GROUP BY event_type
""")
def q_agg_pct_threshold(spark, sf_dir):
    """G7: ratio-of-filtered-count gauge (reference Dashboard.md:47
    cold-start '% above threshold')."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        (
            F.count(F.when(F.col("value") > 100.0, 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("pct_high")
    )


@_q("q_agg_count_distinct", """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""")
def q_agg_count_distinct(spark, sf_dir):
    """G8: exact count-distinct (reference Dashboard.md:71 cohort base)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@_q("q_cohort_retention", """
WITH m AS (
  SELECT DISTINCT o_custkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month
  FROM orders
)
SELECT a.month, COUNT(*) AS retained
FROM m a JOIN m b
  ON a.o_custkey = b.o_custkey
 AND b.month = CAST(a.month + INTERVAL 1 MONTH AS DATE)
GROUP BY a.month
""")
def q_cohort_retention(spark, sf_dir):
    """G8: cohort retention — customers active in month M who returned
    in M+1 (reference Dashboard.md:71, declared).

    One wide shuffle: collect each customer's distinct month set in a
    single groupBy (the set dedups, so no separate DISTINCT exchange),
    then test month+1 membership map-side and count over the tiny
    (month) key.  The naive self-join shuffles the distinct
    (custkey, month) set twice."""
    months = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        )
        .groupBy("o_custkey")
        .agg(F.collect_set("month").alias("months"))
    )
    return (
        months.select(F.explode("months").alias("month"), "months")
        .filter(F.array_contains("months", F.add_months(F.col("month"), 1)))
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("retained"))
    )


def _grouping_preagg(li: DataFrame) -> DataFrame:
    """Partial-aggregate by the UNION of the grouping columns before a
    ROLLUP/CUBE/GROUPING SETS Expand (r13 optimization, guide §2.3 —
    aggregate before you replicate): Expand emits one replica of its
    input per grouping set, so feeding it the |distinct(rf, ls)|-row
    pre-aggregate instead of every line item keeps the replicated
    stream metadata-sized at any corpus size (600k rows -> ~8 at bench
    SF; a 100 TB lineitem -> the same ~8).  count/msum decompose
    exactly — count is a sum of partial counts and msum's scaled-long
    partials add associatively (``functions.msum`` bound argument
    unchanged) — so every output value is bit-identical."""
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("__sq"),
    )


def _grouping_final_aggs() -> tuple:
    """Final-stage aggregates over :func:`_grouping_preagg` partials —
    identical output types to the direct count/msum form (long,
    double).  A function, not a module constant: Column construction
    needs a live SparkContext, which imports must not assume."""
    return (
        F.sum("__n").alias("n"),
        (F.sum("__sq") / F.lit(100.0)).alias("sum_qty"),
        F.grouping_id().cast("int").alias("gid"),
    )


@_q("q_rollup", """
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q_rollup(spark, sf_dir):
    """Grouping sets surface (SURVEY.md section 2 D note: Spark
    built-in, exposed): ROLLUP with grouping-id disambiguation.
    Pre-aggregated before the Expand — see :func:`_grouping_preagg`."""
    return (
        _grouping_preagg(_t(spark, sf_dir, "lineitem"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(*_grouping_final_aggs())
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "gid", "n", "sum_qty",
        )
    )


@_q("q_pivot", """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase
FROM events GROUP BY user_id
""")
def q_pivot(spark, sf_dir):
    """Pivot (long -> wide): event-type counts as columns.  The value
    list is pinned so Catalyst plans ONE pass — an unpinned pivot runs
    an extra distinct-collect over the column at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=["view", "click", "purchase"])
    )


@_q("q_agg_percentile", """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS med_price,
       quantile_cont(l_extendedprice, 0.9) AS p90_price
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_percentile(spark, sf_dir):
    """Exact interpolated percentile per group (serving-layer latency/
    price distribution surface), as DISTRIBUTED order statistics
    (operators/relational.grouped_percentiles_exact, r6): the classic
    ``percentile()`` aggregate funnels every value into one reducer
    per group — with 3 dashboard groups over the 50x replica's 30M
    rows it ran 12.0 s of near-serial sorts; the rank-selection
    formulation (parallel (group, value) counts -> range-partitioned
    per-group running counts -> the two covering rows per target rank)
    runs fully parallel and matches Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` bit-for-bit (same interpolation tree;
    equivalence to the plain aggregate is pytest-pinned).  At 100 TB
    the swap-in is the ``percentile_approx`` sketch aggregate that
    ``q_agg_sketches`` runs (one partial/final agg, no sort); this
    certified query stays the EXACT form because the sketch returns
    elements, not interpolated statistics, so only the exact form is
    oracle-hashable.  HIGH-cardinality groups can also swap back to
    the plain aggregate (parallelism = groups)."""
    from real_timetransactionaldatalakehouse_spark.operators import relational as RL

    li = _t(spark, sf_dir, "lineitem")
    return RL.grouped_percentiles_exact(
        li, "l_returnflag", "l_extendedprice",
        {"med_price": 0.5, "p90_price": 0.9},
    )


@_q("q_agg_variance", """
SELECT l_returnflag,
       (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
         - CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
           * CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*))
         / (COUNT(*) - 1) AS var_qty
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_variance(spark, sf_dir):
    """Sample variance via the explicit exact-sum formula — exact
    integer accumulation makes the result order-independent, so Spark's
    partial/final agg tree and DuckDB's sequential scan agree
    bit-for-bit (built-in var_samp is Welford-style and float-order
    dependent, unusable for cross-engine hashing).  l_quantity is
    integral (1..50), so the sums run as primitive longs (LF.lsum,
    codegen) — identical values to the oracle's DECIMAL(28,4)
    accumulation, bounded safe past 1e15 rows/group."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    sum_sq = LF.lsum(qty * qty)
    sum_x = LF.lsum(qty)
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag").agg(
        ((sum_sq - sum_x * sum_x / n) / (n - F.lit(1))).alias("var_qty")
    )


@_q("q_agg_sketches")  # rows-only: sketch internals differ across engines
def q_agg_sketches(spark, sf_dir):
    """Mergeable-sketch aggregates — the documented 100 TB swap-ins for
    their exact counterparts (q_agg_count_distinct, q_agg_percentile):
    HyperLogLog++ approx distinct and t-digest approx percentile.  Both
    are deterministic within Spark (stable partial/final merge), so the
    rows-only check is reproducible; cross-engine value parity is
    impossible by construction (sketch state is engine-specific).

    Live rows-only signal (r9 VERDICT #4): one row per (returnflag,
    metric) that passes its error bound against the EXACT aggregate
    computed in the same pass — 3 flags x 2 metrics = 6 rows when the
    sketches are healthy; a silent accuracy regression (rsd/accuracy
    parameter drift, merge bug) DROPS rows, moving the driver's
    spark_rows.  Bounds: HLL++ at rsd=0.01 held to 5% (5 sigma);
    percentile_approx at accuracy=10000 held to 1% of the exact
    median."""
    li = _t(spark, sf_dir, "lineitem")
    # r13 (optimization): the sketches and COUNT(DISTINCT) must NOT
    # share one aggregation — the distinct rewrite keys the FIRST
    # aggregation phase by (l_returnflag, l_orderkey), so a
    # TypedImperative sketch buffer (t-digest at accuracy=10000, HLL
    # registers) is built and merged PER DISTINCT ORDERKEY instead of
    # per flag: measured 205-260 s at sf0.1 (plans/r13/
    # q_agg_sketches_before.txt, ObjectHashAggregate keyed by both).
    # Two aggregations joined on the 3-row flag key keep the sketches
    # in a 3-group ObjectHashAggregate and the distinct in its own
    # codegen hash agg: 2.9 s paired, identical values (same
    # aggregates, same rows).
    # r14 negative result (measured, REVERTED — do not re-try): a
    # projected-column core-count fan before both aggs (the
    # q_agg_harmonic move) read 1.19x paired.  Unlike harmonic's
    # trivial long partials, the partials HERE are the expensive
    # state (t-digest at accuracy=10000, HLL registers, the exact
    # percentile's per-group value map): 32 partials make the 3-group
    # final merge strictly heavier than the partial-build parallelism
    # saves (stageprof: the 4-task final stage grew to ~0.9-1.0 s/run
    # with the fan).  §2.3's "aggregate before you shuffle" cuts the
    # other way when the aggregation BUFFER is the heavy object.
    sketch_side = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_med_price"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_med_price"),
    )
    distinct_side = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    per_flag = sketch_side.join(distinct_side, "l_returnflag")
    rel = lambda a, e: F.abs(a.cast("double") - e) / e  # noqa: E731
    metrics = per_flag.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(
                    F.lit("count_distinct_hll").alias("metric"),
                    rel(F.col("approx_orders"), F.col("exact_orders")).alias("rel_err"),
                    F.lit(0.05).alias("bound"),
                ),
                F.struct(
                    F.lit("median_tdigest").alias("metric"),
                    rel(F.col("approx_med_price"), F.col("exact_med_price")).alias("rel_err"),
                    F.lit(0.01).alias("bound"),
                ),
            )
        ).alias("m"),
    ).select("l_returnflag", "m.metric", "m.rel_err", "m.bound")
    return metrics.filter(F.col("rel_err") <= F.col("bound")).select(
        "l_returnflag", "metric",
        F.round("rel_err", 6).alias("rel_err"),
    )


@_q("q_cube", """
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_cube(spark, sf_dir):
    """Grouping sets surface, CUBE variant (all 2^n groupings in one
    pass — Catalyst expands to a single shuffle over the Expand op).
    Pre-aggregated before the Expand — see :func:`_grouping_preagg`."""
    return (
        _grouping_preagg(_t(spark, sf_dir, "lineitem"))
        .cube("l_returnflag", "l_linestatus")
        .agg(*_grouping_final_aggs())
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "gid", "n", "sum_qty",
        )
    )


@_q("q_agg_binned_heatmap", """
SELECT CASE WHEN l_quantity < 15 THEN '0-15'
            WHEN l_quantity < 30 THEN '15-30'
            ELSE '30+' END AS qty_bin,
       l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
         / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price
FROM lineitem GROUP BY 1, 2
""")
def q_agg_binned_heatmap(spark, sf_dir):
    """G9: binned heatmap aggregation (reference Dashboard.md:70:
    duration bins x category -> avg completion)."""
    li = _t(spark, sf_dir, "lineitem")
    qty_bin = (
        F.when(F.col("l_quantity") < 15, "0-15")
        .when(F.col("l_quantity") < 30, "15-30")
        .otherwise("30+")
    )
    return li.groupBy(qty_bin.alias("qty_bin"), F.col("l_returnflag")).agg(
        F.count(F.lit(1)).alias("n"),
        LF.davg("l_extendedprice").alias("avg_price"),
    )


# =====================================================================
# E. Analytic windows
# =====================================================================

@_q("q_dedup_latest", """
SELECT user_id, event_id, event_type,
       date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_s
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""")
def q_dedup_latest(spark, sf_dir):
    """W1/T7: keep-latest-per-key dedup — the core CDC pattern
    (reference stream_dims.py:77-80) through ``dedup_latest``, the
    pipeline's one keep-latest operator: a ``max_by`` aggregation with
    map-side partial aggregation, so the shuffle carries one candidate
    per key per task instead of every event."""
    out = R.dedup_latest(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    return out.select("user_id", "event_id", "event_type", LF.ts_second("ts").alias("ts_s"))


@_q("q_first_value_ignore_nulls", """
SELECT user_id, last_purchase_value FROM (
  SELECT user_id,
         first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_purchase_value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""")
def q_first_value_ignore_nulls(spark, sf_dir):
    """W2: latest non-null value per key over an unbounded frame —
    the reference's sparse-column fill (streaming_job.py:101-128)
    through ``merge.latest_state``, the medallion gold operator: a
    conditional ``max_by`` is IGNORE NULLS + keep-one-row-per-key in
    one partial+final agg, replacing the two window passes (fill, then
    ROW_NUMBER) the oracle spells out."""
    # every non-fill column rides in latest_state's row struct, which
    # the scan cannot prune: project to the columns the query needs
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("amount"),
    )
    one = M.latest_state(
        ev, ["user_id"], "ts", ["amount"], tiebreak_cols=["event_id"]
    )
    return one.select("user_id", F.col("amount").alias("last_purchase_value"))


@_q("q_max_over_partition", """
SELECT l_orderkey, l_linenumber,
       MAX(l_shipdate) OVER (PARTITION BY l_orderkey) AS max_ship
FROM lineitem
""")
def q_max_over_partition(spark, sf_dir):
    """W3: MAX over partition, no frame (reference streaming_job.py:130-131)."""
    out = R.max_over_partition(
        _t(spark, sf_dir, "lineitem"), ["l_orderkey"], "l_shipdate", "max_ship"
    )
    return out.select("l_orderkey", "l_linenumber", "max_ship")


@_q("q_sessionize_lag", """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT event_id, user_id,
       CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM g
""")
def q_sessionize_lag(spark, sf_dir):
    """W4: 30-min-gap LAG sessionization — the reference's declared
    Silver session stitching (DataModel_SchemaDesign.md:47,58)."""
    out = R.sessionize(
        _t(spark, sf_dir, "events"), "user_id", "ts",
        gap_minutes=30, tiebreak_cols=["event_id"],
    )
    return out.select("event_id", "user_id", "session_id")


@_q("q_topk_per_group", """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
""")
def q_topk_per_group(spark, sf_dir):
    """W5: ranked top-k per group (reference Dashboard.md:48 trending).
    Projected to the 3 live columns BEFORE the window: Catalyst does
    not prune a scan through row_number's partition/order refs, so the
    explicit select keeps the shuffle narrow."""
    out = R.topk_per_group(
        _t(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_orderkey", "o_totalprice"
        ),
        ["o_orderpriority"], "o_totalprice", 3,
        tiebreak_cols=["o_orderkey"],
    )
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")


# =====================================================================
# H. Scalar functions
# =====================================================================

@_q("q_json_parse_struct", """
SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
FROM events
""")
def q_json_parse_struct(spark, sf_dir):
    """H1: from_json with explicit schema (reference streaming_job.py:200).
    GUARDED ``fan_out`` before the parse (r6 re-A/B): Jackson parsing
    is ~3 us/row — on the single-row-group bench file the unfanned
    form runs the whole parse in ONE task (measured 0.42 s unfanned vs
    0.24 s fanned at sf0.1; the r4-era 0.88 s fan regression predates
    the core-count target and no longer reproduces).  The guard keeps
    the exchange a no-op on a well-split table (the 100 TB case), so
    the fan only fires when the scan under-splits."""
    from real_timetransactionaldatalakehouse_spark.sources import fan_out

    p = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    ev = fan_out(_t(spark, sf_dir, "events").select("event_id", "props"), p)
    return ev.select(
        "event_id", LF.json_parse("props", "k INT").getField("k").alias("k")
    )


@_q("q_json_extract", """
SELECT event_id, props->>'$.k' AS k_str
FROM events
""")
def q_json_extract(spark, sf_dir):
    """H3: get_json_object promotion path (reference
    DataModel_SchemaDesign.md:129)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", LF.json_extract("props", "$.k").alias("k_str")
    )


@_q("q_ts_diff", """
SELECT event_id,
       date_diff('second',
                 date_trunc('second', CAST(ts AS TIMESTAMP)),
                 TIMESTAMP '2024-02-01 00:00:00') AS age_s
FROM events
""")
def q_ts_diff(spark, sf_dir):
    """H6: whole-second timestamp difference (reference
    lakehouse_monitor.json:181 freshness lag), pinned 'now'."""
    ev = _t(spark, sf_dir, "events")
    asof = F.lit("2024-02-01 00:00:00").cast("timestamp")
    return ev.select("event_id", LF.seconds_between(F.col("ts"), asof).alias("age_s"))


@_q("q_string_funcs", """
SELECT c_custkey,
       lower(c_name) AS name_lower,
       upper(c_mktsegment) AS seg_upper,
       substring(c_name, 1, 8) AS name_prefix,
       CAST(length(c_name) AS INTEGER) AS name_len,
       concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key
FROM customer
""")
def q_string_funcs(spark, sf_dir):
    """H10: string scalar surface (lower/upper/substring/length/concat)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")).alias("seg_key"),
    )


@_q("q_array_explode", """
SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val
FROM embeddings
""")
def q_array_explode(spark, sf_dir):
    """H9: array explode (reference hashtags ARRAY<STRING> analysis
    path, stream_dims.py:38); float widened to double losslessly."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.explode("embedding").alias("v")
    ).select("vec_id", F.col("v").cast("double").alias("val"))


# =====================================================================
# A/M. Infrastructure (rows-only checks)
# =====================================================================

def _summary_passing(spark, triples):
    """Row-dropping no-oracle convention (r12, VERDICT r11 #6 — the
    q_agg_sketches pattern): emit ONLY ``(kind, metric)`` rows whose
    invariant HOLDS, so a regression moves the driver's spark_rows
    instead of flipping a boolean value the rows-only check cannot
    see."""
    return spark.createDataFrame(
        [(k, int(m)) for k, m, ok in triples if ok],
        "kind string, metric long",
    )


@_q("q_table_stats")  # rows-only: file-level stats are env-dependent
def q_table_stats(spark, sf_dir):
    """A10: engine-maintained table stats — the reference's tbl$files
    metadata dashboards (lakehouse_monitor.json:117,314).

    Live rows-only signal, row-DROPPING form (r12, VERDICT r11 #6;
    previously the agreement was a 0/1 VALUE invisible to the
    driver's rows-only check): one row PER FILE (its row count via
    input_file_name), plus a ``files_agree`` summary row emitted ONLY
    when maintenance.table_stats' n_files equals the scan's
    distinct-file count, plus an unconditional ``total_rows`` row.  A
    listing/versioned-path regression moves the per-file row count; a
    stats/scan disagreement now DROPS the files_agree row — both move
    spark_rows (planted-violation pytest in
    tests/test_oracle_parity.py)."""
    from real_timetransactionaldatalakehouse_spark.maintenance import table_stats

    path = f"{sf_dir}/lineitem.parquet"
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(F.count(F.lit(1)).alias("metric"))
        .select(F.lit("file_rows").alias("kind"), "metric")
    )
    stats = table_stats(spark, path)
    scan_files = per_file.agg(
        F.count(F.lit(1)).alias("n"), F.sum("metric").alias("rows")
    ).first()
    st = stats.first()
    summary = _summary_passing(
        spark,
        [
            ("files_agree", int(st["n_files"]),
             int(st["n_files"]) == int(scan_files["n"])),
            ("total_rows", int(scan_files["rows"]), True),
        ],
    )
    return per_file.unionByName(summary).orderBy("kind", "metric")


@_q("q_sorted_write")  # rows-only: exercises the write path
def q_sorted_write(spark, sf_dir):
    """A5: cluster-by-partition-key sorted write (reference
    stream_content.py:51,64) — write events sorted within partitions by
    ts, read back and prove count + per-file ordering survive.

    Live rows-only signal, row-DROPPING form (r12, VERDICT r11 #6;
    previously a sort regression flipped the sorted_ok VALUE without
    moving the row count): one row PER WRITTEN FILE with its row
    count and distinct-key count, emitted ONLY when the file's
    read-back sort-violation count (lag(ts) > ts over the file's
    physical row order via monotonically_increasing_id — ids increase
    within a scan task, and these small files each read as one
    contiguous run) is zero.  A partitioning regression moves the
    file count AND a sort regression now drops files — both move
    spark_rows (planted-violation pytest in
    tests/test_oracle_parity.py drives _sorted_write_summary on a
    descending-sorted write)."""
    ev = _t(spark, sf_dir, "events")
    out = _scratch_dir("sorted_write_")
    ev.repartition(4, "user_id").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out).select(
        "user_id", "event_id", "ts",
        F.input_file_name().alias("__f"),
        F.monotonically_increasing_id().alias("__i"),
    )
    return _sorted_write_summary(back)


def _sorted_write_summary(back: DataFrame) -> DataFrame:
    """Per-file summary of a sorted write's read-back, keeping ONLY
    files whose physical order is non-decreasing in ts (the
    row-dropping convention — see q_sorted_write)."""
    w = Window.partitionBy("__f").orderBy("__i")
    flagged = back.select(
        "__f", "user_id", "event_id",
        (F.lag("ts").over(w) > F.col("ts")).cast("int").alias("__bad"),
    )
    return (
        flagged.groupBy("__f")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("event_id").alias("n_ids"),
            (F.coalesce(F.sum("__bad"), F.lit(0)) == 0).alias("sorted_ok"),
        )
        .filter(F.col("sorted_ok"))
        # sorted_ok is constant True on every surviving row by the
        # filter above — emitting it would imply it could vary
        .select("n_rows", "n_ids")
        .orderBy(F.desc("n_rows"), F.desc("n_ids"))
    )


@_q("q_snapshot_lifecycle")  # rows-only: exercises versioned writes (M2/M3)
def q_snapshot_lifecycle(spark, sf_dir):
    """M2/M3: snapshot-versioned table lifecycle — three snapshot
    commits (full write, retention rewrite, compaction rewrite), then
    expire-snapshots keeps the last 2 and remove-orphans clears a
    simulated crashed write.  Output proves: old snapshot readable
    before expiry (time travel), expired after, row counts preserved
    across rewrites."""
    import os as _os

    from real_timetransactionaldatalakehouse_spark import tablefmt as TF

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    tbl = _scratch_dir("versioned_tbl_")
    n_all = ev.count()
    TF.write_version(ev, tbl, expect_rows=n_all)
    cut = ev.agg(F.expr("percentile(unix_seconds(ts), 0.5)")).first()[0]
    kept = ev.filter(F.unix_seconds(F.col("ts")) >= F.lit(int(cut)))
    TF.write_version(kept, tbl, expect_rows=kept.count())
    TF.write_version(TF.read_table(spark, tbl).repartition(2), tbl)
    v1_rows_pre_expiry = TF.read_table(spark, tbl, version=1).count()
    _os.makedirs(_os.path.join(tbl, "_versions", ".tmp-v00000099"), exist_ok=True)
    orphans = len(TF.remove_orphans(tbl)["removed"])
    expired = TF.expire_snapshots(tbl, keep_last=2)
    v1_gone = not _os.path.isdir(TF.version_path(tbl, 1))
    # Live rows-only signal (r9 VERDICT #4): one row PER SURVIVING
    # VERSION (version id, its row count, is-current) instead of a
    # single summary row — an expiry/retention regression changes the
    # surviving-version list and with it the driver's spark_rows.
    cur = TF.current_version(tbl)
    survivors = [
        (
            int(v),
            TF.read_table(spark, tbl, version=v).count(),
            int(v) == int(cur),
            n_all,
            v1_rows_pre_expiry,
            len(expired["removed"]),
            orphans,
            v1_gone,
        )
        for v in TF.list_versions(tbl)
    ]
    return spark.createDataFrame(
        survivors,
        "version long, version_rows long, is_current boolean, "
        "n_rows_v1 long, v1_readable_rows long, n_expired long, "
        "n_orphans long, v1_expired boolean",
    ).orderBy("version")


# Version 1 pre-dates the ADD COLUMN, so reading it through the
# evolved schema must yield a typed NULL for every row; version 2
# backfills from the drifted JSON field.  Both reads project to a
# fixed column list, so the evolved-read semantics (not just counts)
# are oracle-checked against a plain SELECT with a NULL column.
_SCHEMA_EVO_ORACLE = """
SELECT 1 AS version, event_id, CAST(NULL AS BIGINT) AS k_val FROM events
UNION ALL
SELECT 2 AS version, event_id, CAST(props->>'$.k' AS BIGINT) AS k_val FROM events
"""


@_q("q_schema_evolution", _SCHEMA_EVO_ORACLE)
def q_schema_evolution(spark, sf_dir):
    """Schema evolution (reference DataModel_SchemaDesign.md:127-129):
    drifted JSON field read via get_json_object, promoted with a
    metadata-only ADD COLUMN, values supplied by the next snapshot;
    historical snapshots read the column as a typed null.  Output is
    the row-level union of the time-travel read (version 1, all-NULL
    k_val) and the backfilled current read.  The metadata-only-ALTER
    and declared-schema assertions stay in pytest
    (tests/test_tablefmt.py)."""
    from real_timetransactionaldatalakehouse_spark import tablefmt as TF

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "props")
    tbl = _scratch_dir("schema_evo_")
    n = ev.count()
    TF.write_version(ev, tbl, expect_rows=n)
    TF.add_column(tbl, "k_val", "bigint")
    promoted = ev.withColumn(
        "k_val", F.get_json_object("props", "$.k").cast("bigint")
    )
    TF.write_version(promoted, tbl, expect_rows=n)
    v1 = TF.read_table(spark, tbl, version=1)
    cur = TF.read_table(spark, tbl)
    return v1.select(
        F.lit(1).alias("version"), "event_id", "k_val"
    ).unionByName(cur.select(F.lit(2).alias("version"), "event_id", "k_val"))


@_q("q_bucket_pruned_lookup")  # rows-only: plan/metric assertion surface
def q_bucket_pruned_lookup(spark, sf_dir):
    """Bucket-pruned point lookup (reference bucket(16, video_id),
    stream_content.py:41): write events hash-bucketed on user_id, look
    one key up through the constant-folded bucket predicate, prove the
    scan pruned (numFiles below total) and returned the right rows."""
    from real_timetransactionaldatalakehouse_spark import tablefmt as TF
    from real_timetransactionaldatalakehouse_spark.serving import bucket_pruned_lookup

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    out = _scratch_dir("bucketed_")
    n_buckets = 16
    (
        ev.withColumn(
            "p_bucket", F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets))
        )
        .write.mode("overwrite").partitionBy("p_bucket").parquet(out)
    )
    back = spark.read.parquet(out)
    total_files = len(TF.live_files(out))
    # Live rows-only signal, row-DROPPING form (r12, VERDICT r11 #6;
    # previously a bucketing regression flipped a boolean VALUE
    # without moving the row count): three data-derived probe keys
    # (min, median, max) — one output row per distinct key, emitted
    # ONLY when the probe proves BOTH correctness (the bucketed
    # lookup equals the unbucketed filter) and pruning (numFiles
    # below total).  A probe-derivation regression AND a bucketing/
    # pruning regression now both move spark_rows (planted-violation
    # pytest in tests/test_oracle_parity.py drives
    # _bucket_probe_passing with a failing probe tuple).
    keys = list(
        ev.agg(
            F.min("user_id"), F.expr("percentile(user_id, 0.5)").cast("long"),
            F.max("user_id"),
        ).first()
    )
    rows_out = []
    for ordinal, key in enumerate(sorted(set(int(k) for k in keys))):
        looked = bucket_pruned_lookup(back, "user_id", key, n_buckets=n_buckets)
        rows = looked.collect()
        scan = looked._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        num_files = int(scan.metrics().apply("numFiles").value())
        expected = ev.filter(F.col("user_id") == key).count()
        rows_out.append(
            (ordinal, len(rows), expected, len(rows) == expected,
             num_files, total_files, num_files < total_files)
        )
    return _bucket_probe_passing(spark, rows_out)


def _bucket_probe_passing(spark, rows_out):
    """Keep only probe rows proving rows_agree AND pruned (the
    row-dropping convention — see q_bucket_pruned_lookup)."""
    return (
        spark.createDataFrame(
            rows_out,
            "key_ord long, lookup_rows long, expected_rows long, "
            "rows_agree boolean, files_scanned long, files_total long, "
            "pruned boolean",
        )
        .filter(F.col("rows_agree") & F.col("pruned"))
        # the two booleans are constant True on survivors; the counts
        # they were derived from stay, so the evidence remains visible
        .select("key_ord", "lookup_rows", "expected_rows",
                "files_scanned", "files_total")
        .orderBy("key_ord")
    )


_FRESHNESS_ORACLE = """
WITH mx AS (
  SELECT date_trunc('second', MAX(ts)) + INTERVAL 20 SECONDS AS as_of FROM events
), rows_ AS (
  SELECT 'bronze_events' AS tbl,
         CAST(epoch(mx.as_of) AS BIGINT)
           - CAST(epoch(date_trunc('second', MAX(e.ts))) AS BIGINT) AS lag_s
  FROM events e, mx GROUP BY mx.as_of
  UNION ALL
  SELECT 'gold_stats_1min',
         CAST(epoch(mx.as_of) AS BIGINT)
           - CAST(epoch(date_trunc('second', MAX(date_trunc('minute', e.ts)))) AS BIGINT)
  FROM events e, mx GROUP BY mx.as_of
)
SELECT tbl AS "table", lag_s,
       CASE WHEN lag_s < 30 THEN 'green'
            WHEN lag_s < 60 THEN 'yellow'
            ELSE 'red' END AS band
FROM rows_ ORDER BY 1
"""


@_q("q_freshness_view", _FRESHNESS_ORACLE)
def q_freshness_view(spark, sf_dir):
    """Freshness/alert serving view (reference lakehouse_monitor.json:
    134-150,181): per-table ingest lag vs an as_of pinned 20 s past the
    newest bronze event (deterministic, no now()), banded green/yellow/
    red at the dashboard thresholds.  Gold freshness is measured on
    window_start — the 1-minute tumbling bucket of the newest event."""
    from real_timetransactionaldatalakehouse_spark.serving import freshness_alert_view

    ev = _t(spark, sf_dir, "events")
    gold = ev.groupBy(F.window("ts", "1 minute").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.col("w.start").alias("window_start"))
    import datetime as _dt

    newest = ev.agg(F.date_trunc("second", F.max("ts"))).first()[0]
    as_of = (newest + _dt.timedelta(seconds=20)).strftime("%Y-%m-%d %H:%M:%S")
    return freshness_alert_view(
        spark,
        as_of,
        {"bronze_events": (ev, "ts"), "gold_stats_1min": (gold, "window_start")},
    ).orderBy("table")


_EWMA_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       list_reduce(
         list(value::DOUBLE ORDER BY ts, event_id),
         (a, b) -> 0.3 * b + 0.7 * a
       ) AS ewma,
       CAST(epoch(date_trunc('second', MAX(ts))) AS BIGINT) AS last_ts_s
FROM events
GROUP BY user_id
"""


@_q("q_ewma_state", _EWMA_ORACLE)
def q_ewma_state(spark, sf_dir):
    """Custom stateful operator's batch twin (streaming/stateful.py):
    per-key EWMA folded in (ts, event_id) order — the exact final state
    the streaming ``ewma_by_key`` reaches after full replay (pinned by
    the multi-batch replay test).  The oracle replicates the identical
    left-to-right double fold via list_reduce, so values match
    bit-for-bit."""
    from real_timetransactionaldatalakehouse_spark.streaming.stateful import (
        ewma_batch_oracle,
    )

    ev = _t(spark, sf_dir, "events")
    return ewma_batch_oracle(
        ev, "user_id", "ts", "value", alpha=0.3, tiebreak_col="event_id"
    )


# The two snapshots are DETERMINISTIC SELECTs over events (delete 10 %
# by key, bump value where key % 7 == 0, append the 5 lowest keys
# shifted by 10M), so the full-outer-join change classification has an
# exact SQL twin and the driver hashes row-level diff output.
_SNAPDIFF_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, value FROM events
), v2 AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END AS value
  FROM base WHERE event_id % 10 <> 0
  UNION ALL
  SELECT event_id + 10000000 AS event_id, user_id, value
  FROM (SELECT * FROM base ORDER BY event_id LIMIT 5)
)
SELECT * FROM (
  SELECT COALESCE(b.event_id, a.event_id) AS event_id,
         COALESCE(b.user_id, a.user_id) AS user_id,
         COALESCE(b.value, a.value) AS value,
         CASE WHEN a.event_id IS NULL THEN 'insert'
              WHEN b.event_id IS NULL THEN 'delete'
              WHEN a.value <> b.value OR a.user_id <> b.user_id THEN 'update'
         END AS change
  FROM base a FULL OUTER JOIN v2 b ON a.event_id = b.event_id
) WHERE change IS NOT NULL
"""


@_q("q_snapshot_diff", _SNAPDIFF_ORACLE)
def q_snapshot_diff(spark, sf_dir):
    """Incremental read (Iceberg changelog-scan analogue): diff two
    snapshots of a versioned table row-level — inserts, updates and
    deletes classified by a keyed full-outer join; one key shuffle.
    Both snapshots are deterministic SELECTs over events so the diff
    itself (not just its counts) is oracle-checked."""
    from real_timetransactionaldatalakehouse_spark import tablefmt as TF

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    tbl = _scratch_dir("snapdiff_")
    TF.write_version(ev, tbl)
    changed = (
        ev.filter(F.col("event_id") % 10 != 0)  # delete 10%
        .withColumn(
            "value",
            F.when(F.col("event_id") % 7 == 0, F.col("value") + 1).otherwise(
                F.col("value")
            ),
        )
    )
    appended = ev.orderBy("event_id").limit(5).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "user_id", "value"
    )
    TF.write_version(changed.unionByName(appended), tbl)
    diff = TF.snapshot_diff(spark, tbl, 1, 2, key_cols=["event_id"])
    return diff.withColumnRenamed("_change", "change")


# The MoR chain is built from DETERMINISTIC SELECTs over events, so the
# resolved read (base minus equality-delete keys plus delta, twice, then
# a delete-only commit) has an exact SQL twin and the driver hashes the
# merged rows themselves.
_MOR_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, value FROM events WHERE event_id % 3 <> 0
), ups AS (
  SELECT event_id, user_id, value + 100 AS value FROM events
  WHERE event_id % 5 = 0
), merged AS (
  SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM ups)
  UNION ALL
  SELECT * FROM ups
)
SELECT event_id, user_id, value FROM merged WHERE event_id % 11 <> 0
"""


@_q("q_mor_upsert", _MOR_ORACLE)
def q_mor_upsert(spark, sf_dir):
    """A6/M6 merge-on-read write path (tablefmt.write_mor_upsert /
    write_mor_delete): an upsert commit materializes ONLY the delta —
    upserted rows plus an equality-delete key file — and a delete
    commit only keys; the read side resolves base minus deletes plus
    delta per un-flattened commit (reference ``streaming_job.py:55-60``
    Iceberg v2 merge-on-read TBLPROPERTIES; trade-off
    ``design_doc/PipelineArchitecture.md:235-238``).  Commit cost is
    O(|delta|) at any table size — the write-amplification answer for
    high-frequency upserts — and readers pay one broadcast anti-join
    per commit until a maintenance rewrite folds the chain.  The query
    builds base -> MoR upsert -> MoR delete from deterministic event
    slices and returns the resolved table; the oracle is the
    whole-row MERGE the chain must equal."""
    from real_timetransactionaldatalakehouse_spark import tablefmt as TF

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    tbl = _scratch_dir("mor_tbl_")
    TF.write_version(ev.filter(F.col("event_id") % 3 != 0), tbl)
    TF.write_mor_upsert(
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "value", F.col("value") + 100
        ),
        tbl,
        ["event_id"],
    )
    TF.write_mor_delete(
        ev.filter(F.col("event_id") % 11 == 0).select("event_id"),
        tbl,
        ["event_id"],
    )
    return TF.read_table(spark, tbl)


# NB: a DuckDB list_reduce + struct_pack fold is NOT a faithful oracle
# for multi-field state — v1.0.0 rebinds accumulator fields
# sequentially inside the lambda (later fields read already-updated
# values, observed empirically).  The recursive CTE replays the exact
# recurrence row-by-row instead: same IEEE double ops in the same
# order as the Spark struct fold, no lambda evaluation semantics.
_EWMA_ANOMALY_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, value::DOUBLE AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt,
         CAST(epoch(date_trunc('second',
               MAX(ts) OVER (PARTITION BY user_id))) AS BIGINT) AS last_ts_s
  FROM events
), walk AS (
  SELECT user_id, rn, cnt, last_ts_s, v AS ew, 0.0::DOUBLE AS vr,
         1::BIGINT AS n, 0::BIGINT AS anom
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.cnt, o.last_ts_s,
         w.ew + 0.3 * (o.v - w.ew),
         0.7 * (w.vr + 0.3 * (o.v - w.ew) * (o.v - w.ew)),
         w.n + 1,
         w.anom + CASE WHEN w.n >= 3
                        AND (o.v - w.ew) * (o.v - w.ew) > 9.0 * w.vr
                       THEN 1 ELSE 0 END
  FROM walk w JOIN ordered o ON o.user_id = w.user_id AND o.rn = w.rn + 1
)
SELECT user_id, n AS n_events, ew AS ewma, vr AS ew_var,
       anom AS n_anomalies, last_ts_s
FROM walk WHERE rn = cnt
"""


@_q("q_ewma_anomaly", _EWMA_ANOMALY_ORACLE)
def q_ewma_anomaly(spark, sf_dir):
    """Adaptive per-key anomaly counts over the EW mean/variance model
    (streaming/stateful.py) — final state of the exact recurrence the
    streaming operator folds, with a bit-exact DuckDB struct-fold
    oracle (alpha=0.3, z=3, min_n=3)."""
    from real_timetransactionaldatalakehouse_spark.streaming.stateful import (
        ewma_anomaly_batch_oracle,
    )

    ev = _t(spark, sf_dir, "events")
    return ewma_anomaly_batch_oracle(
        ev, "user_id", "ts", "value", alpha=0.3, z=3.0, min_n=3,
        tiebreak_col="event_id",
    )


_PROFILE_ORACLE = """
SELECT 'c_custkey' AS "column", COUNT(*) AS n_rows,
       COUNT(c_custkey) AS n_nonnull, COUNT(DISTINCT c_custkey) AS n_distinct
FROM customer
UNION ALL
SELECT 'c_name', COUNT(*), COUNT(c_name), COUNT(DISTINCT c_name) FROM customer
UNION ALL
SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey),
       COUNT(DISTINCT c_nationkey) FROM customer
UNION ALL
SELECT 'c_acctbal', COUNT(*), COUNT(c_acctbal),
       COUNT(DISTINCT c_acctbal) FROM customer
UNION ALL
SELECT 'c_mktsegment', COUNT(*), COUNT(c_mktsegment),
       COUNT(DISTINCT c_mktsegment) FROM customer
ORDER BY 1
"""


@_q("q_column_profile", _PROFILE_ORACLE)
def q_column_profile(spark, sf_dir):
    """ANALYZE-style column profile: per-column non-null and exact
    distinct counts in ONE pass (single Expand-planned aggregation),
    unpivoted to one row per column."""
    from real_timetransactionaldatalakehouse_spark.maintenance import column_profile

    cust = _t(spark, sf_dir, "customer")
    return column_profile(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    ).orderBy("column")


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pairs AS (
  SELECT doc_id, t[i.i] || ' ' || t[i.i + 1] AS ng
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS i(i)
  WHERE len(t) >= 2
), counts AS (
  SELECT doc_id, ng, COUNT(*) AS c FROM pairs GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       1.0 - (CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE))
         AS dup_ngram_ratio,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_ngram_ratio
FROM counts GROUP BY doc_id
"""


@_q("q_text_repetition", _REPETITION_ORACLE)
def q_text_repetition(spark, sf_dir):
    """X4: duplicate-bigram and top-bigram fractions per document — the
    repetition filters of corpus-quality pipelines, as two partial-agg
    shuffles of (id, ngram, count) rows."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs, n=2)


# TF-IDF ranked retrieval with EXACTLY TWO query terms: each matched
# doc's score sums exactly two doubles, and two-operand double
# addition is commutative — so the hash matches regardless of Spark's
# partial-agg order.  (Three or more terms would re-associate.)
_SEARCH_ORACLE = """
WITH pairs AS (
  SELECT doc_id, t.term AS term, COUNT(*) AS tf
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS dfc FROM pairs GROUP BY term
), n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT p.doc_id,
         p.tf * (ln((1.0 + n.nd) / (1.0 + dfreq.dfc)) + 1.0) AS tfidf
  FROM pairs p JOIN dfreq USING (term), n
  WHERE p.term IN ('window', 'sort')
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched, SUM(tfidf) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_matched, score FROM agg
WHERE n_matched = 2
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


@_q("q_search_ranked", _SEARCH_ORACLE)
def q_search_ranked(spark, sf_dir):
    """X4: TF-IDF ranked keyword retrieval (operators/text.tfidf_scores
    + search_ranked): (doc, term) counts -> smoothed idf -> query-term
    postings only -> require-all gate -> top-k.  The raw text crosses
    the wire zero times; shuffles carry (doc, term, count) rows."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        search_ranked,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return search_ranked(docs, ["window", "sort"], k=10)


_RESAMPLE_ORACLE = """
WITH b AS (
  SELECT date_trunc('minute', ts) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
spine AS (
  SELECT unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 1 MINUTE)) AS bucket
  FROM bounds
)
SELECT spine.bucket, COALESCE(b.n, 0) AS n
FROM spine LEFT JOIN b USING (bucket)
"""


@_q("q_resample_fill", _RESAMPLE_ORACLE)
def q_resample_fill(spark, sf_dir):
    """Time-series densify (operators/relational.resample_fill):
    1-minute buckets over events with every gap emitted as a zero row
    — the spine comes from sequence+explode off a metadata-sized
    bounds agg, never a driver loop."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        resample_fill,
    )

    ev = _t(spark, sf_dir, "events")
    return resample_fill(ev, "ts", "1 minute").select(
        "bucket", F.col("n").cast("long").alias("n")
    )


# Expectations over events with a deliberately-failing threshold rule
# so every counter is non-trivial; NULL-valued rules count as failed.
_QUALITY_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(CASE WHEN value < 5.0 AND user_id IS NOT NULL
                   AND event_type IN ('view','click','purchase','signup','error')
             THEN 1 END) AS n_clean,
       COUNT(CASE WHEN NOT COALESCE(value < 5.0, FALSE) THEN 1 END) AS fail_value_low,
       COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS fail_user_known,
       COUNT(CASE WHEN event_type NOT IN
                  ('view','click','purchase','signup','error')
                  OR event_type IS NULL
             THEN 1 END) AS fail_type_valid
FROM events
"""


@_q("q_quality_gate", _QUALITY_ORACLE)
def q_quality_gate(spark, sf_dir):
    """Data-quality expectations (quality.quality_stats): named rules
    -> one-pass per-rule violation counters — the bronze->silver gate
    that quarantines instead of dropping.  Map-only projection + one
    scalar aggregation."""
    from real_timetransactionaldatalakehouse_spark import quality as Q

    ev = _t(spark, sf_dir, "events")
    return Q.quality_stats(
        ev,
        {
            "value_low": F.col("value") < 5.0,
            "user_known": F.col("user_id").isNotNull(),
            "type_valid": F.col("event_type").isin(
                "view", "click", "purchase", "signup", "error"
            ),
        },
    )


_BPE_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
       CAST(len(regexp_extract_all(text, '@PAT@')) AS INTEGER) AS n_bpe,
       CAST(len(regexp_extract_all(text, '@PAT@')) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS bpe_per_word
FROM documents
"""

from real_timetransactionaldatalakehouse_spark.operators.text import (  # noqa: E402
    BPE_SPLIT_PATTERN as _BPE_PAT,
)

# single quotes in the pattern must double inside the SQL literal
_BPE_ORACLE = _BPE_ORACLE.replace("@PAT@", _BPE_PAT.replace("'", "''"))


@_q("q_text_tokens_bpe", _BPE_ORACLE)
def q_text_tokens_bpe(spark, sf_dir):
    """X4: pre-tokenizer (BPE-style) token counting next to whitespace
    counts — the budget unit LLM pipelines cost documents in; pure
    regexp projection, zero shuffle."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        token_count_bpe, tokens,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_ws = F.size(tokens("text"))
    n_bpe = token_count_bpe("text")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws"),
        n_bpe.alias("n_bpe"),
        (n_bpe.cast("double") / n_ws.cast("double")).alias("bpe_per_word"),
    )


# SCD2 history from the per-user event_type change stream: collapse
# consecutive unchanged types, then validity = [ts, next changed ts).
_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), changed AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
       epoch(ts) AS from_s,
       epoch(LEAD(ts) OVER
         (PARTITION BY user_id ORDER BY ts, event_id)) AS to_s,
       (LEAD(ts) OVER
         (PARTITION BY user_id ORDER BY ts, event_id)) IS NULL AS is_current
FROM changed
"""


@_q("q_scd2_history", _SCD2_ORACLE)
def q_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension history (operators/merge.scd2_from_changes):
    per-user event_type change stream -> validity intervals with
    ``is_current`` — the "value at time t" layout the reference's SCD1
    stream can't answer; one keyed window shuffle."""
    from real_timetransactionaldatalakehouse_spark.operators.merge import (
        scd2_from_changes,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    hist = scd2_from_changes(
        ev, ["user_id"], "ts",
        tiebreak_cols=["event_id"], drop_unchanged=["event_type"],
    )
    return hist.select(
        "user_id", "event_type",
        F.col("effective_from").cast("double").alias("from_s"),
        F.col("effective_to").cast("double").alias("to_s"),
        "is_current",
    )


@_q("q_agg_skew", """
WITH b AS (
  SELECT l_returnflag,
         CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(9,0)) AS c,
         CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
              * CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0)) AS c2
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(c) AS DOUBLE) AS s1,
         CAST(SUM(c2) AS DOUBLE) AS s2,
         CAST(SUM(c2 * CAST(c AS DECIMAL(10,0))) AS DOUBLE) AS s3
  FROM b GROUP BY 1
)
SELECT l_returnflag,
       ((s3 - 3.0 * (s1 / n) * s2 + 2.0 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n)
         / (((s2 - s1 * s1 / n) / n) * sqrt((s2 - s1 * s1 / n) / n)) AS skew_cents
FROM s
""")
def q_agg_skew(spark, sf_dir):
    """Exact skewness per group (population g1), completing the
    moment-statistics family (mean / variance / correlation): the
    first three moments accumulate as EXACT decimals — cents cast to
    DECIMAL(9,0), squares (19,0) and cubes (29,0) stay exact per row,
    sums exact to 1e38 — and the closed form combines once in doubles
    with a fixed expression tree (built-in skewness is a single-pass
    update whose float order differs per engine).  One partial+final
    shuffle, three extra multiplications per row."""
    li = _t(spark, sf_dir, "lineitem")
    c = F.round(F.col("l_extendedprice") * 100).cast("long").cast("decimal(9,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).cast("double").alias("s1"),
        F.sum(c * c).cast("double").alias("s2"),
        F.sum((c * c) * c).cast("double").alias("s3"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    mu = s1 / n
    m3 = (s3 - F.lit(3.0) * mu * s2 + F.lit(2.0) * n * mu * mu * mu) / n
    m2 = (s2 - s1 * s1 / n) / n
    # m2^1.5 as m2*sqrt(m2): sqrt is IEEE correctly-rounded in every
    # libm, pow(x, 1.5) is not (same last-ulp divergence as ln)
    return s.select(
        "l_returnflag",
        (m3 / (m2 * F.sqrt(m2))).alias("skew_cents"),
    )


@_q("q_minmax_scale", """
WITH st AS (
  SELECT l_returnflag,
         MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
  FROM lineitem GROUP BY 1
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       CASE WHEN st.mx > st.mn
            THEN (l.l_quantity - st.mn) / (st.mx - st.mn) END AS scaled
FROM lineitem l JOIN st USING (l_returnflag)
""")
def q_minmax_scale(spark, sf_dir):
    """Min-max feature scaling per group ((x - min)/(max - min) into
    [0,1]) — the bounded-range companion to q_zscore_norm.  Min/max
    are exact order statistics and the per-row division is IEEE
    correctly-rounded, so the result is bit-portable with NO decimal
    machinery at all; constant groups yield NULL (ANSI-safe guard).
    Broadcast stats join — the fact side never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    st = li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("__mn"), F.max("l_quantity").alias("__mx")
    )
    scaled = F.when(
        F.col("__mx") > F.col("__mn"),
        (F.col("l_quantity") - F.col("__mn")) / (F.col("__mx") - F.col("__mn")),
    )
    return (
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .join(F.broadcast(st), "l_returnflag")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            scaled.alias("scaled"),
        )
    )


@_q("q_robust_scale", """
WITH st AS (
  SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS med,
         quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqr
  FROM lineitem GROUP BY 1
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       CASE WHEN st.iqr > 0
            THEN (l.l_quantity - st.med) / st.iqr END AS scaled
FROM lineitem l JOIN st USING (l_returnflag)
""")
def q_robust_scale(spark, sf_dir):
    """Robust feature scaling per group ((x - median)/IQR,
    operators/relational.robust_scale) — the outlier-resistant third
    member of the normalization family (zscore / minmax / robust).
    Exact interpolated percentiles share DuckDB's quantile_cont
    definition (q_agg_percentile precedent) and the per-row division
    is IEEE correctly-rounded — bit-portable with no decimal
    machinery.  Broadcast stats join; the fact side never shuffles."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = R.robust_scale(li, ["l_returnflag"], "l_quantity")
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "scaled")


@_q("q_spike_detect", """
WITH binned AS (
  SELECT user_id,
         CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT)
           // 600 AS bin, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), mx AS (
  SELECT MAX(bin) AS last_bin FROM binned
), per_key AS (
  SELECT user_id,
         -- CAST: DuckDB integer SUM yields HUGEINT, which the driver's
         -- pandas canonicalizer renders as float64 ("0.0" vs Spark's
         -- "0") -> hash mismatch.  r5's only red row; BIGINT restores
         -- the int64 dtype.  base_sum is consumed via CAST AS DOUBLE
         -- below and never projected, so it needs no cast.
         CAST(SUM(CASE WHEN bin = last_bin THEN cnt ELSE 0 END) AS BIGINT)
           AS recent_cnt,
         SUM(CASE WHEN bin < last_bin THEN cnt ELSE 0 END) AS base_sum,
         COUNT(CASE WHEN bin < last_bin THEN 1 END) AS base_bins
  FROM binned CROSS JOIN mx GROUP BY 1
)
SELECT user_id, recent_cnt,
       CAST(base_sum AS DOUBLE) / base_bins AS base_avg,
       recent_cnt / (CAST(base_sum AS DOUBLE) / base_bins) AS spike_ratio,
       recent_cnt / (CAST(base_sum AS DOUBLE) / base_bins) > 3.0 AS is_spike
FROM per_key WHERE base_bins > 0
""")
def q_spike_detect(spark, sf_dir):
    """Traffic-spike detection per entity (operators/relational.
    spike_detect) — the batch twin of the reference's "Supernova"
    chaos scenario (MockEventGenerator.md:156-163, validated end-to-end
    by test_chaos_supernova_viral_entity_captures_rank_one): latest
    10-minute-bin event count vs the entity's earlier-bin average,
    flagged above 3x.  Raw events shuffle once as (key, bin) partial
    counts; the global MAX(bin) is a one-row broadcast."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return R.spike_detect(ev, ["user_id"], "ts", bin_seconds=600, threshold=3.0)


@_q("q_agg_harmonic", """
SELECT l_returnflag,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(CAST(1.0 / l_extendedprice AS DECIMAL(18,12))) AS DOUBLE)
         AS harmonic_price
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_harmonic(spark, sf_dir):
    """Harmonic mean per group (the correct average for rates):
    n / sum(1/x).  Each reciprocal is IEEE-exact division; the SUM is
    the order-dependent step, so reciprocals decimal-round at 12
    digits (values ~1e-5) into an exact commutative accumulation —
    same discipline as every other float sum in the engine."""
    from real_timetransactionaldatalakehouse_spark.sources import fan_out

    li = _t(spark, sf_dir, "lineitem")
    recip = (F.lit(1.0) / F.col("l_extendedprice")).cast("decimal(18,12)")
    # r13 (optimization, guide §2.2): the double -> DECIMAL(18,12) cast
    # allocates a BigDecimal per row, so the scan+partial-agg stage is
    # CPU-bound (measured 1.2 s across lineitem's 3 row-group splits at
    # sf0.1); fanning the two projected columns to core count halves it
    # (width A/B: base 1.11 s, 4: 0.82, 16: 0.59, 32: 0.58).  Guarded:
    # the fan only pays its exchange when it would at least DOUBLE
    # parallelism (existing splits <= cores/2 — fan_out's skip), so a
    # reasonably-split production table skips it, and only
    # (flag, price) rows ever move.
    li = fan_out(
        li.select("l_returnflag", "l_extendedprice"),
        spark.sparkContext.defaultParallelism,
    )
    return li.groupBy("l_returnflag").agg(
        (
            F.count(F.lit(1)).cast("double") / F.sum(recip).cast("double")
        ).alias("harmonic_price")
    )


@_q("q_agg_geomean", """
SELECT l_returnflag,
       CAST(CAST(exp(
         CAST(SUM(CAST(ln(l_extendedprice) AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE)
       ) AS DECIMAL(18,4)) AS DOUBLE) AS geomean_price
FROM lineitem
GROUP BY l_returnflag
""")
def q_agg_geomean(spark, sf_dir):
    """Geometric mean per group (the multiplicative-average the
    arithmetic mean misrepresents for ratios/prices): exp of the mean
    log.  Engine-portable float discipline on BOTH transcendentals:
    each ln is decimal-rounded at 6 digits before the exact
    commutative sum, and the final exp is decimal-rounded at 4 digits
    — last-ulp libm divergence (measured for ln, same risk for exp)
    cannot reach the certified value."""
    li = _t(spark, sf_dir, "lineitem")
    # r13 (optimization, tried and REVERTED): the q_agg_harmonic
    # core-count fan was paired-A/B'd here too and REGRESSED (base
    # 0.51-0.53 s vs fanned 0.61-0.64 s): ln + a scale-6 decimal cast
    # is ~4x cheaper per row than the scale-12 reciprocal cast, so the
    # exchange costs more than the parallelism wins.
    sum_ln = F.sum(
        F.log(F.col("l_extendedprice")).cast("decimal(18,6)")
    ).cast("double")
    mean_ln = sum_ln / F.count(F.lit(1)).cast("double")
    return li.groupBy("l_returnflag").agg(
        F.exp(mean_ln).cast("decimal(18,4)").cast("double").alias("geomean_price")
    )


@_q("q_text_entropy", """
WITH pairs AS (
  SELECT doc_id, t.term AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  GROUP BY 1, 2
), tot AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens FROM pairs GROUP BY 1
)
SELECT p.doc_id, MAX(t.n_tokens) AS n_tokens,
       CAST(-SUM(CAST((CAST(p.tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                      * ln(CAST(p.tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                      AS DECIMAL(18,6))) AS DOUBLE) AS entropy_nats
FROM pairs p JOIN tot t ON p.doc_id = t.doc_id
GROUP BY p.doc_id
""")
def q_text_entropy(spark, sf_dir):
    """X4: per-document token-distribution Shannon entropy
    (operators/text.token_entropy) — the diversity/boilerplate signal
    quality pipelines threshold on.  Each term's contribution is
    decimal-rounded at 6 digits before the commutative decimal sum
    (the repo's engine-portable-float-log convention: libm vs JVM ln
    differ by a last ulp on some inputs)."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        token_entropy,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_entropy(docs)


@_q("q_join_asof_nearest", """
WITH timeline AS (
  SELECT o_custkey AS user_id, o_orderdate AS t_ts, MAX(o_orderstatus) AS status
  FROM orders GROUP BY 1, 2
), u AS (
  SELECT user_id, t_ts AS ts, 0 AS side, status, NULL AS event_id FROM timeline
  UNION ALL
  SELECT user_id, ts, 1 AS side, NULL AS status, event_id FROM events
), w AS (
  SELECT *,
    last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wb AS b_ts,
    first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wf AS n_ts,
    last_value(status IGNORE NULLS) OVER wb AS b_v,
    first_value(status IGNORE NULLS) OVER wf AS n_v
  FROM u
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts, side, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY ts, side, event_id NULLS FIRST
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, date_trunc('second', ts) AS ts_s,
       CASE WHEN b_ts IS NULL
                 OR (n_ts IS NOT NULL
                     AND (epoch(n_ts) - epoch(ts)) < (epoch(ts) - epoch(b_ts)))
            THEN n_v ELSE b_v END AS status
FROM w WHERE side = 1
""")
def q_join_asof_nearest(spark, sf_dir):
    """J5 extension: as-of join, NEAREST direction (pandas merge_asof
    direction='nearest') — each event takes the order-status change
    closest in time, before or after; ties and exact matches resolve
    backward.  joins.asof_join_nearest computes both directions from
    ONE sorted window pass (backward running-last + forward
    running-first over the same union), so it costs the same single
    keyed exchange as the plain as-of."""
    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        asof_join_nearest,
    )

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    timeline = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("t_ts"),
        )
        .agg(F.max("o_orderstatus").alias("status"))
    )
    out = asof_join_nearest(
        events, timeline, key="user_id", fact_ts="ts", timeline_ts="t_ts",
        value_cols=["status"], fact_tiebreaks=["event_id"],
    )
    return out.select(
        "event_id", "user_id", LF.ts_second("ts").alias("ts_s"), "status"
    )


@_q("q_sample_exact_n", """
SELECT doc_id, lang
FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
LIMIT 100
""")
def q_sample_exact_n(spark, sf_dir):
    """EXT curation: EXACT-size deterministic subsample — rank by a
    cryptographic hash of the stable id and take the first N (the
    companion to hash_split's rate-based sampling, for when the
    contract is "exactly N docs", e.g. eval-set carving).  Compiles to
    TakeOrderedAndProject: per-partition heaps of N, one tiny merge —
    no global sort, no rand(), stable under reprocessing and engine-
    portable (md5 of the id string is identical everywhere)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang")
        .orderBy(
            F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
        )
        .limit(100)
    )


@_q("q_keywords_per_doc", """
WITH pairs AS (
  SELECT doc_id, t.term AS term, COUNT(*) AS tf
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS dfc FROM pairs GROUP BY term
), n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT p.doc_id, p.term,
         p.tf * (ln((1.0 + n.nd) / (1.0 + dfreq.dfc)) + 1.0) AS tfidf
  FROM pairs p JOIN dfreq USING (term), n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term
FROM ranked WHERE rnk <= 3
""")
def q_keywords_per_doc(spark, sf_dir):
    """X4: keyword extraction — each document's top-3 terms by TF-IDF
    (operators/text.tfidf_scores + relational.topk_per_group with a
    term tie-break).  The ranking window runs over the (doc, term)
    score table, never raw text; at corpus scale the window partitions
    by doc — bounded by per-doc vocabulary.  The tfidf score itself is
    excluded from the output (per-row double product is deterministic
    but the top-3 CUT is what the check certifies; ranks + terms are
    integers/strings, immune to float canon differences)."""
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        topk_per_group,
    )
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        tfidf_scores,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scores = tfidf_scores(docs)
    top = topk_per_group(
        scores, ["doc_id"], "tfidf", 3, tiebreak_cols=["term"], desc=True
    )
    return top.select("doc_id", F.col("rank").cast("int").alias("rnk"), "term")


@_q("q_silver_view", """
WITH gated AS (
  SELECT * FROM events WHERE COALESCE(value >= 0, FALSE)
), lagged AS (
  SELECT event_id, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM gated
), s AS (
  SELECT event_id, user_id, ts,
         SUM(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM lagged
), t AS (
  SELECT o_custkey AS user_id, o_orderdate AS t_ts, MAX(o_orderstatus) AS status
  FROM orders GROUP BY 1, 2
)
SELECT s.event_id, s.user_id,
       date_trunc('second', s.ts) AS ts_s,
       CAST(s.session_id AS BIGINT) AS session_id,
       CAST(s.ts AS DATE) AS date,
       t2.status
FROM s ASOF LEFT JOIN t t2
  ON s.user_id = t2.user_id AND s.ts >= t2.t_ts
""")
def q_silver_view(spark, sf_dir):
    """The medallion SILVER layer as one certified query (medallion.
    build_silver — the reference's declared-but-unbuilt core product,
    DataModel_SchemaDesign.md:44-62): quality-gated bronze events ->
    LAG sessionization -> date partition column -> as-of dim
    enrichment, end to end.  Each stage is the certified operator;
    this row certifies the COMPOSITION the streaming silver job runs
    inside foreachBatch."""
    from real_timetransactionaldatalakehouse_spark.medallion import build_silver

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    timeline = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("t_ts"),
        )
        .agg(F.max("o_orderstatus").alias("status"))
    )
    silver = build_silver(
        ev, dim_timeline=timeline,
        expectations={"value_nonneg": F.col("value") >= 0},
    )
    return silver.select(
        "event_id", "user_id",
        LF.ts_second("ts").alias("ts_s"),
        F.col("session_id").cast("long").alias("session_id"),
        F.col("date"),
        "status",
    )


@_q("q_window_lead", """
SELECT user_id, event_id,
       epoch(ts) AS ts_s,
       epoch(LEAD(ts) OVER w) - epoch(ts) AS gap_to_next_s,
       LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_window_lead(spark, sf_dir):
    """LEAD window family: per-user time-to-next-event and the next
    event's type — the churn/inactivity signal (the forward twin of
    q_sessionize_lag's LAG).  Epoch subtraction keeps the gap exact
    (integer-microsecond timestamps on both engines); one exchange
    keyed by user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_s = F.col("ts").cast("double")
    return ev.select(
        "user_id", "event_id",
        ts_s.alias("ts_s"),
        (F.lead(F.col("ts")).over(w).cast("double") - ts_s).alias("gap_to_next_s"),
        F.lead(F.col("event_type")).over(w).alias("next_type"),
    )


@_q("q_scd2_pointlookup", """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), changed AS (
  SELECT user_id, ts, event_type FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT o.o_orderkey, o.o_custkey AS user_id,
       date_trunc('second', o.o_orderdate) AS order_ts,
       c.event_type AS state_at_order
FROM orders o ASOF LEFT JOIN changed c
  ON o.o_custkey = c.user_id AND o.o_orderdate >= c.ts
""")
def q_scd2_pointlookup(spark, sf_dir):
    """The classic warehouse read over SCD Type-2: each fact row
    enriched with the dimension's value AT THE FACT'S OWN TIMESTAMP —
    orders joined to the user's event-type state at order time.
    Because SCD2 validity intervals tile time per key, the interval
    predicate reduces to an as-of join on ``effective_from`` — one
    keyed shuffle (joins.asof_join), never a per-key range scan; the
    oracle is DuckDB's native ASOF over the same change stream."""
    from real_timetransactionaldatalakehouse_spark.operators.joins import asof_join
    from real_timetransactionaldatalakehouse_spark.operators.merge import (
        scd2_from_changes,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    hist = scd2_from_changes(
        ev, ["user_id"], "ts",
        tiebreak_cols=["event_id"], drop_unchanged=["event_type"],
    ).select("user_id", F.col("effective_from").alias("t_ts"),
             F.col("event_type").alias("state_at_order"))
    facts = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ots"),
    )
    out = asof_join(
        facts, hist, key="user_id", fact_ts="ots", timeline_ts="t_ts",
        value_cols=["state_at_order"], fact_tiebreaks=["o_orderkey"],
    )
    return out.select(
        "o_orderkey", "user_id",
        F.date_trunc("second", "ots").alias("order_ts"),
        "state_at_order",
    )


# Injected synthetic PII (the corpus itself is PII-free) so the
# redaction actually fires; patterns come from operators.text
# PII_PATTERNS verbatim (Java-regex/RE2-shared subset).
_REDACT_ORACLE = """
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com from 10.0.'
              || (doc_id % 256) || '.7 call +1 555 867 53'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
  FROM documents
),
s1 AS (
  SELECT doc_id, text,
         regexp_replace(text, '@EMAIL@', '[email]', 'g') AS t1
  FROM pii
),
s2 AS (
  SELECT doc_id, text, t1,
         regexp_replace(t1, '@IPV4@', '[ipv4]', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '@EMAIL@')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(t1, '@IPV4@')) AS INTEGER) AS n_ipv4,
       CAST(len(regexp_extract_all(t2, '@PHONE@')) AS INTEGER) AS n_phone,
       md5(regexp_replace(t2, '@PHONE@', '[phone]', 'g')) AS fp
FROM s2
"""
# Each kind counts on the text its replacement actually sees (earlier
# kinds already applied) — the engine-side sequential semantics, so the
# reported counts equal the redactions performed (r9 review fix; on
# this planted data the kinds never overlap, so values are unchanged).

from real_timetransactionaldatalakehouse_spark.operators.text import (  # noqa: E402
    PII_PATTERNS as _PII,
)

_REDACT_ORACLE = (
    _REDACT_ORACLE
    .replace("@EMAIL@", _PII["email"])
    .replace("@IPV4@", _PII["ipv4"])
    .replace("@PHONE@", _PII["phone"])
)


@_q("q_text_redact", _REDACT_ORACLE)
def q_text_redact(spark, sf_dir):
    """X4: PII scrubbing — emails / IPv4s / phone numbers replaced by
    typed placeholders with per-document redaction counts (density
    gating), all JVM-side regexp projection, zero shuffle.  Synthetic
    PII is appended deterministically per doc so every pattern fires;
    output carries the md5 of the redacted text (value-exact across
    engines) instead of the kilobyte text body.  The operator itself
    is map-only (plan-locked); here the single-split bench file is
    fanned out first so the 12-regex-per-row work uses the cores
    (sources.fan_out — a well-split production table skips this)."""
    from real_timetransactionaldatalakehouse_spark.operators.text import redact_pii
    from real_timetransactionaldatalakehouse_spark.sources import fan_out

    docs = fan_out(
        _t(spark, sf_dir, "documents"),
        spark.sparkContext.defaultParallelism,
    ).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 call +1 555 867 53"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    out = redact_pii(docs, token="[{kind}]")
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", F.md5("text").alias("fp")
    )


# 20 overlapping windows spanning the corpus's full time range
# (stride = span/20, length = 1.5x stride -> every event matches 1-2
# windows at ANY sf) — deterministic intervals, so the bucketized
# range join has a plain BETWEEN-join twin.
_INTERVAL_JOIN_ORACLE = """
WITH span AS (
  SELECT epoch(MIN(ts)) AS t0,
         (epoch(MAX(ts)) - epoch(MIN(ts))) / 20.0 AS stride
  FROM events
),
iv AS (
  SELECT i.i AS interval_id,
         span.t0 + i.i * span.stride AS start_s,
         span.t0 + i.i * span.stride + 1.5 * span.stride AS end_s
  FROM span, (SELECT unnest(generate_series(0, 19)) AS i) i
)
SELECT e.event_id, iv.interval_id
FROM events e JOIN iv
  ON iv.start_s <= epoch(e.ts) AND epoch(e.ts) < iv.end_s
"""


@_q("q_join_interval", _INTERVAL_JOIN_ORACLE)
def q_join_interval(spark, sf_dir):
    """Range/interval join: events matched to overlapping 10-minute
    windows via operators.joins.interval_join — time-bucketized to an
    EQUI-join (hash join, work scales with overlap density), never the
    BroadcastNestedLoop a raw non-equi join plans."""
    from real_timetransactionaldatalakehouse_spark.operators.joins import (
        interval_join,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    span = ev.agg(
        F.min("ts").cast("double").alias("t0"),
        ((F.max("ts").cast("double") - F.min("ts").cast("double")) / 20.0).alias(
            "stride"
        ),
    )
    iv = (
        spark.range(20).withColumnRenamed("id", "interval_id")
        .crossJoin(span)
        .select(
            "interval_id",
            (F.col("t0") + F.col("interval_id") * F.col("stride")).alias("start_s"),
            (
                F.col("t0")
                + F.col("interval_id") * F.col("stride")
                + 1.5 * F.col("stride")
            ).alias("end_s"),
        )
    )
    pts = ev.select("event_id", F.col("ts").cast("double").alias("ts_s"))
    # bucket near the window length: ~2 bucket rows per interval
    return interval_join(pts, iv, "ts_s", "start_s", "end_s", bucket_s=600).select(
        "event_id", "interval_id"
    )


_PACK_ORACLE = """
WITH counted AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
), runs AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM counted
)
SELECT doc_id, n_tokens,
       CAST(start // 4096 AS BIGINT) AS pack_id,
       CAST(start % 4096 AS BIGINT) AS pack_pos
FROM runs
"""


@_q("q_pack_sequences", _PACK_ORACLE)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing for pretraining shards: concat-and-chunk window
    assignment over the id-ordered corpus, 4096-token windows, via the
    two-phase distributed prefix sum (no single-partition window)."""
    from real_timetransactionaldatalakehouse_spark.operators.sampling import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, budget=4096).select(
        "doc_id", "n_tokens", "pack_id", "pack_pos"
    )


# =====================================================================
# X. EXT — LLM-data-pipeline operators (SURVEY.md section 2 L)
# =====================================================================

@_q("q_dedup_exact", """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
)
SELECT md5(text) AS fp, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       COUNT(*) AS n_copies
FROM all_docs GROUP BY text
""")
def q_dedup_exact(spark, sf_dir):
    """X1: exact dedup via hash-groupBy on the map-side md5 fingerprint,
    exact_dedup's only key (the shuffle carries (fp, id), never the
    text — plan-locked by test_exact_dedup_shuffle_carries_no_text);
    duplicate docs injected deterministically (corpus texts are
    unique) so the keeper/count semantics are actually exercised."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = D.exact_dedup(docs.unionByName(dups))
    return out.select("fp", "keeper_id", "n_copies")


# --- oracle SQL builders for the LSH/ANN family ---------------------
# These oracles replicate the APPROXIMATE algorithms exactly (same
# hashes, same banding, same probe order) rather than comparing against
# an exact answer — so the check holds regardless of recall.  The only
# cross-engine dependency is IEEE-double arithmetic: dot products fold
# sequentially (list_reduce == F.aggregate), hash inputs are md5-based
# or pure integer arithmetic.

# corpus + injected near-copies (drop last 2 words of docs 0-19) —
# SQL twin of the mutation in the q_neardup_* queries
_MUTATED_CORPUS_CTE = """
all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
  FROM documents WHERE doc_id < 20
)"""


def _mutated_corpus(docs: DataFrame) -> DataFrame:
    """Spark twin of _MUTATED_CORPUS_CTE: the documents corpus plus
    drop-last-2-words near-copies of docs 0-19 at doc_id+200000.

    Extracted in r12 (the r11 review flagged 8 verbatim copies of this
    block as a silent-divergence hazard — an edit to one site would
    unsync its 7 siblings' oracles).  Per the rotation rule, call
    sites migrate here only in the round their query holds a window
    head slot; the remaining literal sites are byte-identical to this
    body and rotate in as their heads come up (r13+).
    """
    return docs.unionByName(_mutant_docs(docs))


def _mutant_docs(docs: DataFrame) -> DataFrame:
    """Just the injected near-copies: docs 0-19 with the last 2 words
    dropped, re-keyed to doc_id+200000 (the benchmark/incoming side
    of the cross-corpus and decontamination queries)."""
    toks = F.split(F.col("text"), " ")
    return docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )

# distinct word-3-gram shingle sets per doc (twin of dedup.word_shingles)
_SHINGLES_CTE = """
sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
  FROM all_docs
)"""

_SHINGLE_JACCARD = (
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)"
)

_NEARDUP_MINHASH_ORACLE = f"""
WITH {_MUTATED_CORPUS_CTE}, {_SHINGLES_CTE}
SELECT id_a, id_b FROM (
  SELECT a.id AS id_a, b.id AS id_b, {_SHINGLE_JACCARD} AS jaccard
  FROM sh a JOIN sh b ON a.id < b.id
) WHERE jaccard >= 0.5
"""

_NEARDUP_VERIFIED_ORACLE = f"""
WITH {_MUTATED_CORPUS_CTE}, {_SHINGLES_CTE}
SELECT id_a, id_b, jaccard FROM (
  SELECT a.id AS id_a, b.id AS id_b, {_SHINGLE_JACCARD} AS jaccard
  FROM sh a JOIN sh b ON a.id < b.id
) WHERE jaccard >= 0.5
"""

# SimHash twin: md5-prefix 60-bit token hashes -> per-bit majority ->
# 4x16-bit chunk banding with the 256 hot-bucket cap -> hamming <= 4.
# Mirrors dedup.simhash_neardup_pairs(token_hash="md5_60") step by step.
_SIMHASH_ORACLE = f"""
WITH {_MUTATED_CORPUS_CTE},
th AS (
  SELECT doc_id AS id, ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
  FROM all_docs, UNNEST(list_distinct(string_split(text, ' '))) AS t(tok)
),
votes AS (
  SELECT id, bb.b AS b, SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, (SELECT unnest(generate_series(0, 59)) AS b) bb
  GROUP BY id, bb.b
),
sig AS (
  SELECT id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY id
),
banded AS (
  SELECT id, sig, cc.c AS c, (sig >> (cc.c * 16)) & 65535 AS ck
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS c) cc
),
cold AS (
  SELECT * FROM banded ANTI JOIN (
    SELECT c, ck FROM banded GROUP BY c, ck HAVING COUNT(*) > 256
  ) hot USING (c, ck)
),
pairs AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
         bit_count(xor(l.sig, r.sig)) AS hamming
  FROM cold l JOIN cold r ON l.c = r.c AND l.ck = r.ck AND l.id < r.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 4
"""


def _lsh_planes_cte(n_planes_total: int) -> str:
    """Twin of similarity._hyperplane as a CTE: splitmix-style integer
    mix in HUGEINT (the first xor stage is an identity because the
    seed is < 2^27), components in [-1, 1]."""
    return f"""
planes AS (
  SELECT p, list(comp ORDER BY d) AS pv
  FROM (
    SELECT p, d,
      (CAST(xor(x2, x2 >> 33) % 2000001 AS DOUBLE) / 1000000.0) - 1.0 AS comp
    FROM (
      SELECT g1.p AS p, g2.d AS d,
        ((CAST(g1.p * 1000003 + g2.d * 7919 + 12345 AS HUGEINT)
          * 18397679294719823053::HUGEINT) % 18446744073709551616::HUGEINT) AS x2
      FROM (SELECT unnest(generate_series(0, {n_planes_total - 1})) AS p) g1,
           (SELECT unnest(generate_series(0, 63)) AS d) g2
    )
  )
  GROUP BY p
)"""


def _lsh_bucket_cte(name: str, src: str, planes: int) -> str:
    """Per-(vector, table) sign-LSH bucket id: MSB-first fold of the
    projection signs, exactly as similarity._lsh_buckets_udf packs
    them."""
    return f"""
{name} AS (
  SELECT id, CAST(p // {planes} AS INTEGER) AS tbl,
    CAST(SUM(CASE WHEN list_reduce(list_transform(list_zip(v, pv),
            x -> CAST(x[1] AS DOUBLE) * x[2]), (s, t) -> s + t) > 0
        THEN 1 << ({planes - 1} - (p % {planes})) ELSE 0 END) AS INTEGER) AS bucket
  FROM {src}, planes
  GROUP BY id, p // {planes}
)"""


_FOLD_DOT = (
    "list_reduce(list_transform(list_zip(a.v, b.v),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, t) -> s + t)"
)


def _fold_norm(expr: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({expr},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, t) -> s + t))"
    )


_KNN_LSH_ORACLE = f"""
WITH {_lsh_planes_cte(64)},
qv AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 10),
cv AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
{_lsh_bucket_cte("qb", "qv", 4)},
{_lsh_bucket_cte("cb", "cv", 4)},
cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM qb q JOIN cb c ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.id <> q.id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
    {_FOLD_DOT} / ({_fold_norm("a.v")} * {_fold_norm("b.v")}) AS score
  FROM cand JOIN qv a ON cand.query_id = a.id JOIN cv b ON cand.neighbor_id = b.id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

_EMBED_LSH_ORACLE = f"""
WITH {_lsh_planes_cte(64)},
allv AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
{_lsh_bucket_cte("bk", "allv", 4)},
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bk l JOIN bk r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id
),
scored AS (
  SELECT cand.id_a, cand.id_b,
    {_FOLD_DOT} / ({_fold_norm("a.v")} * {_fold_norm("b.v")}) AS score
  FROM cand JOIN allv a ON cand.id_a = a.id JOIN allv b ON cand.id_b = b.id
)
SELECT id_a, id_b, score FROM scored WHERE score >= 0.35
"""

# IVF twin (iterations=0): centroids are the 16 vectors with the
# smallest md5-prefix hash of their id; assignment and probe order are
# cosine-ranked with ties toward the lower centroid index (the stable
# argsort in similarity._nearest_cells_udf).
_KNN_IVF_ORACLE = f"""
WITH qv AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 10),
cv AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cid) - 1 AS c_idx, cvec FROM (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT ASC,
             vec_id ASC
    LIMIT 16
  )
),
inv AS (
  SELECT id, c_idx AS centroid_id FROM (
    SELECT a.id, cent.c_idx,
      ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY
        {_FOLD_DOT.replace("b.v", "cent.cvec")}
          / ({_fold_norm("a.v")} * {_fold_norm("cent.cvec")}) DESC,
        cent.c_idx ASC) AS rn
    FROM cv a, cent
  ) WHERE rn = 1
),
qprobe AS (
  SELECT id, c_idx AS centroid_id FROM (
    SELECT a.id, cent.c_idx,
      ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY
        {_FOLD_DOT.replace("b.v", "cent.cvec")}
          / ({_fold_norm("a.v")} * {_fold_norm("cent.cvec")}) DESC,
        cent.c_idx ASC) AS rn
    FROM qv a, cent
  ) WHERE rn <= 4
),
scored AS (
  SELECT a.id AS query_id, b.id AS neighbor_id,
    {_FOLD_DOT} / ({_fold_norm("a.v")} * {_fold_norm("b.v")}) AS score
  FROM qprobe JOIN inv ON qprobe.centroid_id = inv.centroid_id AND inv.id <> qprobe.id
  JOIN qv a ON qprobe.id = a.id JOIN cv b ON inv.id = b.id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


_EMBED_PROJECT_ORACLE = f"""
WITH {_lsh_planes_cte(8)},
v AS (SELECT vec_id AS id, embedding AS v FROM embeddings)
SELECT v.id AS vec_id, CAST(planes.p AS INTEGER) AS dim_idx,
       list_reduce(list_transform(list_zip(v.v, planes.pv),
           x -> CAST(x[1] AS DOUBLE) * x[2]), (s, t) -> s + t) AS comp
FROM v, planes
"""


@_q("q_embed_project", _EMBED_PROJECT_ORACLE)
def q_embed_project(spark, sf_dir):
    """X3-adjacent: Johnson-Lindenstrauss random projection to 8 dims
    (operators/similarity.project_embeddings) — ANN preprocessing that
    shrinks index and shuffle width; the deterministic splitmix plane
    matrix makes every component bit-reproducible cross-engine.
    Output exploded to (vec_id, dim_idx, comp) rows for hashing."""
    from real_timetransactionaldatalakehouse_spark.operators.similarity import (
        project_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = project_embeddings(emb, out_dim=8)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim_idx", "comp")
    )


@_q("q_neardup_minhash", _NEARDUP_MINHASH_ORACLE)
def q_neardup_minhash(spark, sf_dir):
    """X2: MinHash+LSH near-dup pairs over the corpus + injected
    mutated near-copies (drop last 2 words of docs 0-19).

    The oracle is the exact shingle-Jaccard >= 0.5 pair set.  The
    signature estimate itself is xxhash64-based (not SQL-expressible),
    so the declared output is the pair set only; the corpus has no
    pairs with shingle Jaccard in (0.35, 0.65), so the estimate
    (stddev ~1/sqrt(32) ~ 0.18) and banding (miss prob < 1e-3 at
    J >= 0.9) cannot flip a pair across the 0.5 gate — verified
    empirically at sf0.01/sf0.001, and deterministic because the
    hashes are fixed."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    return D.minhash_neardup_pairs(
        docs.unionByName(mutated), jaccard_threshold=0.5
    ).select("id_a", "id_b")


_NEARDUP_CROSS_ORACLE = f"""
WITH incoming AS (
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, text
  FROM documents WHERE doc_id >= 20 AND doc_id < 30
), shl AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
  FROM documents
), shr AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
  FROM incoming
)
SELECT left_id, right_id FROM (
  SELECT a.id AS left_id, b.id AS right_id, {_SHINGLE_JACCARD} AS jaccard
  FROM shl a JOIN shr b ON TRUE
) WHERE jaccard >= 0.5
"""


@_q("q_neardup_cross_corpus", _NEARDUP_CROSS_ORACLE)
def q_neardup_cross_corpus(spark, sf_dir):
    """X2 cross-corpus: which INCOMING documents near-duplicate the
    existing corpus (operators/dedup.minhash_cross_pairs) — the
    dedupe-the-new-crawl primitive and batch twin of the streaming
    band-index probe.  Incoming = 20 mutated near-copies (drop last 2
    words) + 10 exact copies under fresh ids.  The oracle is the exact
    cross-side shingle-Jaccard >= 0.5 pair set; the same margin
    argument as q_neardup_minhash applies (no cross pair sits in the
    (0.35, 0.65) estimate band, so the 32-hash estimate cannot flip
    one across the gate)."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = corpus.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    copies = corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30)).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    incoming = mutated.unionByName(copies)
    return D.minhash_cross_pairs(
        corpus, incoming, jaccard_threshold=0.5
    ).select("left_id", "right_id")


@_q("q_neardup_verified", _NEARDUP_VERIFIED_ORACLE)
def q_neardup_verified(spark, sf_dir):
    """X2 end-to-end: MinHash candidates -> exact shingle-set Jaccard
    verify at 0.5 — the candidates-then-verify pipeline shape.  The
    exact Jaccard values are integer ratios, bit-identical to the
    oracle; candidate recall over the >= 0.5 set is total here (see
    q_neardup_minhash margins)."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    return D.minhash_verified_neardup_pairs(
        docs.unionByName(mutated), jaccard_threshold=0.5
    )


# Connected components over the exact >= 0.5 shingle-Jaccard pair
# graph, as a recursive reachability CTE: min reachable id is the
# cluster id, distinct reachable count is the component size.  The
# corpus injects TWO mutants for docs 0-9 (drop last 2 and last 4
# words) so clusters with real transitivity (size >= 3) exist.
_NEARDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 4, 1)), ' ') AS text
  FROM documents WHERE doc_id < 10
),
sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
  FROM all_docs
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
  ) WHERE jaccard >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS id, MIN(dst) AS cluster_id,
       CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_members
FROM reach GROUP BY src
"""


@_q("q_neardup_clusters", _NEARDUP_CLUSTERS_ORACLE)
def q_neardup_clusters(spark, sf_dir):
    """X2 terminal: near-dup CLUSTERS — verified MinHash pairs ->
    hash-min connected components (operators/dedup.neardup_clusters);
    cluster id = component min doc id, n_members = component size.
    Docs 0-9 carry two mutants each, so size-3 components exercise the
    transitive closure the pairwise queries cannot.  Pair-set equality
    with the exact-Jaccard oracle follows the q_neardup_verified
    argument (candidates-then-verify, total recall at these margins);
    the component labeling on an equal pair graph is deterministic."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")

    def _mutant(max_id, offset, drop):
        return docs.filter(F.col("doc_id") < max_id).select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, F.greatest(F.size(toks) - drop, F.lit(1)))
            ).alias("text"),
        )

    corpus = docs.unionByName(_mutant(20, 200000, 2)).unionByName(
        _mutant(10, 300000, 4)
    )
    # degenerate-graph-safe composition (r7): exact-dup cliques are
    # pre-collapsed to one node before label propagation — output-
    # equivalent on any corpus (see verified_neardup_clusters), and the
    # difference between seconds and 10-minute straggler reducers on
    # duplicate-heavy inputs (50x replica, SCALING.md)
    return D.verified_neardup_clusters(corpus, jaccard_threshold=0.5)


@_q("q_simhash_neardup", _SIMHASH_ORACLE)
def q_simhash_neardup(spark, sf_dir):
    """X2-adjacent: SimHash near-dup pairs (hamming <= 4) over corpus +
    the same mutated near-copies, with md5-prefix token hashes so the
    ENTIRE pipeline — signature bits, chunk banding, hot-bucket cap,
    hamming distances — has an exact SQL twin."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    # hamming <= 4: the standard near-dup band for 64-bit SimHash —
    # <=8 admits a quadratic tail of merely-similar pairs on a
    # shared-vocabulary corpus (~250k rows at sf0.1 vs ~53k at 4)
    return D.simhash_neardup_pairs(
        docs.unionByName(mutated), max_hamming=4, token_hash="md5_60"
    )


@_q("q_jaccard_pairs", """
WITH toks AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 30
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.tok, b.tok))) AS DOUBLE) AS jaccard
FROM toks a, toks b WHERE a.id < b.id
""")
def q_jaccard_pairs(spark, sf_dir):
    """X2: token-set Jaccard over a bounded pair space (at scale the
    pair space comes from MinHash LSH candidates instead)."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    return D.jaccard_pairs(_t(spark, sf_dir, "documents"), max_id=30)


_KNN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
    list_reduce(list_transform(list_zip(qv, cv),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
                (s, v) -> s + v)
    / (sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v))
     * sqrt(list_reduce(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v)))
    AS score
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


@_q("q_knn_topk", _KNN_ORACLE)
def q_knn_topk(spark, sf_dir):
    """X3: exact brute-force cosine top-5 for a bounded query set —
    query matrix in the kernel closure, partition-local partial top-k
    before the single tiny shuffle (knn_topk_smallq).  The kernel's
    left-to-right accumulation is bit-identical to the DuckDB oracle's
    list_reduce fold."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_topk_smallq(emb.filter(F.col("vec_id") < 10), emb, k=5)


@_q("q_knn_lsh", _KNN_LSH_ORACLE)
def q_knn_lsh(spark, sf_dir):
    """X3 scale path: sign-random-projection LSH buckets + in-bucket
    exact re-rank (approximate top-k).  The oracle replicates the
    approximation itself — deterministic integer-hash hyperplanes,
    same bucket packing, same candidate join — so the check is exact
    at any recall."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_lsh(
        emb.filter(F.col("vec_id") < 10), emb, k=5, planes=4, tables=16,
        collect_queries=True,
    )


@_q("q_knn_ivf", _KNN_IVF_ORACLE)
def q_knn_ivf(spark, sf_dir):
    """X3 scale path B: IVF inverted-file ANN — deterministic
    hash-sampled quantizer (iterations=0 so any engine can reconstruct
    the centroids; Lloyd refinement stays available on the operator),
    probe the 4 nearest of 16 cells, exact re-rank.  The oracle
    replicates assignment, probe order, and re-rank."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_ivf(
        emb.filter(F.col("vec_id") < 10), emb,
        k=5, n_centroids=16, n_probe=4, iterations=0,
        collect_queries=True,
    )


@_q("q_embed_neardup", """
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, v) -> s + v)
  / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v))
   * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v)))
  AS score
FROM sub a, sub b
WHERE a.vec_id < b.vec_id AND score >= 0.25
""")
def q_embed_neardup(spark, sf_dir):
    """X2/X3: embedding-cosine near-duplicate pairs over a bounded
    subset (scale path feeds the same scorer from LSH buckets)."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    return S.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, max_id=60
    )


@_q("q_embed_neardup_lsh", _EMBED_LSH_ORACLE)
def q_embed_neardup_lsh(spark, sf_dir):
    """X2/X3 scale path: embedding near-dup with LSH-bucketed candidate
    pairs + exact cosine verify (the formulation that survives 10^9
    vectors — see similarity.embedding_neardup_pairs_lsh).  The oracle
    replicates the banding, so recall misses cancel out exactly."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    # planes/tables tuned for the corpus's moderate-similarity pairs:
    # p(co-bucket per table) = (1 - theta/pi)^4, OR-amplified over 16
    # tables => ~0.9 recall at cosine 0.35 (theta ~ 69 deg).  planes
    # pinned so the static oracle's hyperplane CTE matches at every sf
    # (production leaves planes="auto" — derive_planes tracks corpus
    # size).  Certified WITH the r8 exact-vector collapse: it is
    # bit-equal to plain banding (copies share every bucket and every
    # expanded score is the same fold arithmetic), so the unchanged
    # oracle pins the equivalence; the collapse is what removes the
    # duplicate-clique straggler on re-crawl-heavy corpora (SCALING r8)
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs_lsh(
        emb, threshold=0.35, planes=4, tables=16
    )


@_q("q_text_tokens", """
SELECT t.token, COUNT(*) AS n
FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
GROUP BY 1
""")
def q_text_tokens(spark, sf_dir):
    """X4: corpus term frequencies (explode -> groupBy)."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    return TX.token_counts(_t(spark, sf_dir, "documents"))


@_q("q_text_stats", r"""
WITH t AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
       n_distinct AS n_distinct_tokens,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       CAST(length(text) - n_tokens + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len
FROM t
""")
def q_text_stats(spark, sf_dir):
    """X4: per-document stats — whitespace + BPE-ish regex token
    counts, distinct-token ratio, mean token length."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    return TX.text_stats(_t(spark, sf_dir, "documents"))


_LANGID_ORACLE = """
WITH s AS (
  SELECT doc_id,
    CAST(len(list_intersect(list_distinct(string_split(text,' ')), ['the','and','of','to','is'])) AS INTEGER) AS score_en,
    CAST(len(list_intersect(list_distinct(string_split(text,' ')), ['el','la','de','que','es'])) AS INTEGER) AS score_es,
    CAST(len(list_intersect(list_distinct(string_split(text,' ')), ['der','die','und','das','ist'])) AS INTEGER) AS score_de,
    CAST(len(list_intersect(list_distinct(string_split(text,' ')), ['le','la','et','les','est'])) AS INTEGER) AS score_fr,
    CAST(len(list_intersect(list_distinct(string_split(text,' ')), ['de5','shi4','le5','zai4','he2'])) AS INTEGER) AS score_zh
  FROM documents
)
SELECT *,
  CASE WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_de AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
       WHEN score_es > 0 AND score_es >= score_de AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
       WHEN score_de > 0 AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
       WHEN score_fr > 0 AND score_fr >= score_zh THEN 'fr'
       WHEN score_zh > 0 THEN 'zh'
       ELSE 'unknown' END AS lang_guess
FROM s
"""


@_q("q_text_langid", _LANGID_ORACLE)
def q_text_langid(spark, sf_dir):
    """X4: stopword-marker language ID with priority tie-break."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    return TX.language_id(_t(spark, sf_dir, "documents"))


@_q("q_text_quality", """
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
  FROM documents
), r AS (
  SELECT doc_id,
    CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS DOUBLE) / n_tok AS stopword_ratio,
    CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok AS ttr,
    least(n_tok / 64.0, 1.0) AS len_sat
  FROM t
)
SELECT doc_id, stopword_ratio, ttr, len_sat,
       len_sat * 0.4 + stopword_ratio * 0.3 + ttr * 0.3 AS quality
FROM r
""")
def q_text_quality(spark, sf_dir):
    """X4: heuristic quality score (length saturation + stopword ratio
    + type-token ratio)."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    return TX.quality_score(_t(spark, sf_dir, "documents"))


@_q("q_corpus_prep", """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY text
), t AS (
  SELECT d.doc_id,
         string_split(d.text, ' ') AS toks,
         CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS n_tok
  FROM all_docs d JOIN keep k ON d.doc_id = k.doc_id
), scored AS (
  SELECT doc_id,
    least(n_tok / 64.0, 1.0) * 0.4
      + CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS DOUBLE) / n_tok * 0.3
      + CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok * 0.3 AS quality,
    CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
         WHEN s_zh > 0 THEN 'zh'
         ELSE 'unknown' END AS lang_guess
  FROM (
    SELECT doc_id, toks, n_tok,
      CAST(len(list_intersect(list_distinct(toks), ['the','and','of','to','is'])) AS INTEGER) AS s_en,
      CAST(len(list_intersect(list_distinct(toks), ['el','la','de','que','es'])) AS INTEGER) AS s_es,
      CAST(len(list_intersect(list_distinct(toks), ['der','die','und','das','ist'])) AS INTEGER) AS s_de,
      CAST(len(list_intersect(list_distinct(toks), ['le','la','et','les','est'])) AS INTEGER) AS s_fr,
      CAST(len(list_intersect(list_distinct(toks), ['de5','shi4','le5','zai4','he2'])) AS INTEGER) AS s_zh
    FROM t
  )
)
SELECT doc_id, lang_guess, quality
FROM scored WHERE lang_guess = 'en' AND quality >= 0.5
""")
def q_corpus_prep(spark, sf_dir):
    """EXT flagship composition: the training-corpus prep pipeline —
    exact-dedup keeper selection, language gate, quality threshold —
    built by composing the X1/X4 operators.  One dedup shuffle + one
    map-only scoring pass over keepers; at 100 TB the keeper semi-join
    is the only wide stage (the dedup key shuffle carries md5
    fingerprints, not documents)."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dups)
    keepers = D.exact_dedup(corpus).select(F.col("keeper_id").alias("doc_id"))
    kept = corpus.join(keepers, "doc_id", "left_semi")
    # chained map-only enrichment (keep_cols): lang + quality compute
    # in ONE pass over kept — the r4 branch-and-join-back shape
    # recomputed the dedup+semi-join subtree three times (73 s -> 25 s
    # at the 50x replica)
    scored = TX.quality_score(TX.language_id(kept, keep_cols=True), keep_cols=True)
    return (
        scored.filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.5))
        .select("doc_id", "lang_guess", "quality")
    )


@_q("q_text_winnow", """
WITH g AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(length(text) - 7, 1)),
         i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT) AS h
  FROM documents
)
SELECT doc_id, unnest(list_distinct(list_transform(
  generate_series(1, greatest(len(h) - 3, 1)),
  j -> list_min(list_slice(h, j, j + 3))))) AS fp
FROM g
""")
def q_text_winnow(spark, sf_dir):
    """X4: winnowing (rolling-hash) document fingerprints — char
    8-grams, window 4, per-window minimum (MOSS).  md5-prefix gram
    hashes make the selected fingerprint set bit-identical in SQL."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    return TX.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, window=4)


@_q("q_text_fingerprint", r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
""")
def q_text_fingerprint(spark, sf_dir):
    """X4: md5 fingerprint of whitespace-normalized lowercase text."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    return TX.fingerprint(_t(spark, sf_dir, "documents"))


@_q("q_split_assign", """
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split-v1'), 1, 15))::BIGINT % 1000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n
FROM b GROUP BY 1, 2
""")
def q_split_assign(spark, sf_dir):
    """EXT curation: deterministic train/val/test assignment by hash
    bucket of the stable doc id (sampling.hash_split) — map-only, no
    rand(), stable under reprocessing/appends/retries (the property
    that prevents contamination-by-retry).  Aggregated per (split,
    lang) so the oracle checks the full assignment."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        S.hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q("q_balance_cap", """
SELECT doc_id, source, lang, n_chars FROM (
  SELECT doc_id, source, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 5
""")
def q_balance_cap(spark, sf_dir):
    """EXT curation: per-(source, lang) balancing cap — keep at most 5
    docs per cell in deterministic preference order, so no crawl
    domain dominates the mixture (sampling.cap_per_group).  Plans as
    partial WindowGroupLimit: shuffle carries <= k rows per group per
    map task."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "n_chars")
    return S.cap_per_group(
        docs, ["source", "lang"], "n_chars", 5, tiebreak_cols=["doc_id"]
    )


@_q("q_decontaminate", """
WITH fp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(h) - 7, 1)),
    j -> list_min(list_slice(h, j, j + 7))))) AS fp
  FROM (
    SELECT doc_id, list_transform(generate_series(1, greatest(length(text) - 23, 1)),
           i -> ('0x' || substr(md5(substr(text, i, 24)), 1, 15))::BIGINT) AS h
    FROM documents
  )
), bench_fp AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 20 = 0
), contaminated AS (
  SELECT DISTINCT f.doc_id FROM fp f JOIN bench_fp b ON f.fp = b.fp
  WHERE f.doc_id % 20 <> 0
)
SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id % 20 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""")
def q_decontaminate(spark, sf_dir):
    """EXT curation: benchmark decontamination — drop corpus docs
    sharing any winnowing fingerprint with the eval set (every 20th
    doc stands in for the benchmark).  24-char grams with an 8-hash
    window: any shared substring >= 31 chars is guaranteed flagged,
    while the short stock phrases the synthetic corpus repeats stay
    below the bar (k=8 grams mark the entire corpus contaminated —
    tune k to the verbatim-overlap length that matters).  Fingerprints
    shuffle, documents never do; the benchmark side broadcasts
    (sampling.decontaminate)."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return S.decontaminate(corpus, benchmark, k=24, window=8).select("doc_id", "n_chars")


@_q("q_decontaminate_ngram", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 12), ' ') AS g
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 12, 1))) AS u(i)
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
), contaminated AS (
  SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
  WHERE gr.doc_id % 20 <> 0
)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id % 20 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""")
def q_decontaminate_ngram(spark, sf_dir):
    """EXT curation: token 13-gram overlap decontamination (the
    GPT-3/Pile-published standard) — drop corpus docs sharing any
    13-token gram with the eval set (every 20th doc).  Same broadcast
    semi/anti join shape as the winnowing variant; the oracle joins on
    raw gram strings while the engine joins on their md5-60 hashes
    (equal strings <=> equal hashes at these corpus sizes)."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return S.decontaminate_ngram(corpus, benchmark, n=13).select("doc_id", "lang")


#: shared CTE chain of the bigram LM (q_lm_score + the staged CCNet
#: bucket query build on the same model; extracted r12 so the two
#: oracles cannot silently diverge — the mutant-corpus lesson).
_LM_SCORE_CTES = """toked AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM toked) GROUP BY w1
), v AS (
  SELECT COUNT(*) AS v FROM uni
), doc_bi AS (
  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg
  FROM toked, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
), bi AS (
  SELECT bg, COUNT(*) AS cb FROM doc_bi GROUP BY bg
), scored AS (
  SELECT d.doc_id, ln((b.cb + 0.5) / (u.c1 + 0.5 * v.v)) AS logp
  FROM doc_bi d JOIN bi b USING (bg) JOIN uni u USING (w1), v
)"""


@_q("q_lm_score", f"""
WITH {_LM_SCORE_CTES}
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(logp AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS avg_logprob
FROM scored GROUP BY doc_id
""")
def q_lm_score(spark, sf_dir):
    """EXT quality: CCNet-style n-gram LM scoring — mean smoothed
    bigram log-likelihood per document under a model counted from the
    corpus itself (the perplexity-filtering gate of LLM pipelines).
    Two partial-agg count shuffles build the model, gram-keyed joins
    score the bigram stream, one keyed agg folds per-doc means; the
    mean accumulates as an exact DECIMAL sum so float logs stay
    engine-portable (text.ngram_lm_score)."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.ngram_lm_score(docs)


@_q("q_corpus_mix", """
WITH tok AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), tot AS (
  SELECT source, SUM(n) AS total FROM tok GROUP BY source
), th AS (
  SELECT source,
         CAST(FLOOR(LEAST(
           (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                        WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 1.0 END)
           * 2000 / total, 1.0) * 100000) AS BIGINT) AS thresh
  FROM tot
  WHERE source IN ('src0', 'src1', 'src2', 'src3')
), kept AS (
  SELECT t.doc_id, t.source, t.n
  FROM tok t JOIN th ON t.source = th.source
  WHERE ('0x' || substr(md5(t.doc_id || ':mix-v1'), 1, 15))::BIGINT % 100000
        < th.thresh
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
FROM kept GROUP BY source
""")
def q_corpus_mix(spark, sf_dir):
    """EXT curation: token-budget data mixing (the pretraining mixture
    primitive) — sample each source at rate w_s * B / tokens_s so its
    EXPECTED token mass is its mixture share (src0 50% / src1 30% /
    src2 20% of a 2000-token budget, src3 weight 1.0 exercising the
    rate clamp at sf0.01).  One metadata-sized per-source total, then
    a map-only deterministic hash filter (sampling.mix_corpus);
    aggregated per source so the oracle checks the exact keep set."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    kept = S.mix_corpus(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2, "src3": 1.0},
        token_budget=2000,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


@_q("q_chunk_documents", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
  SELECT doc_id, t,
         UNNEST(generate_series(
           0, greatest(CAST(ceil((len(t) - 8) / 24.0) AS BIGINT), 1) - 1
         )) AS chunk_id
  FROM toks
)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
         AS chunk_text
FROM idx
""")
def q_chunk_documents(spark, sf_dir):
    """EXT RAG prep: fixed-size token chunking, 32-token windows with
    8-token overlap (stride 24; small enough that the testdata's
    ~100-token docs split into several overlapping chunks) —
    document-local sequence+explode, zero shuffles
    (text.chunk_documents); the chunk layout every embedding-index
    build feeds from."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.chunk_documents(docs, budget=32, overlap=8)


@_q("q_stratified_sample", """
WITH b AS (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample-v1'), 1, 15))::BIGINT % 1000 AS bucket
  FROM documents
)
SELECT lang, COUNT(*) AS n
FROM b
WHERE bucket < (CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 500 ELSE 1000 END)
GROUP BY lang
""")
def q_stratified_sample(spark, sf_dir):
    """EXT curation: deterministic per-stratum downsampling — keep 25%
    of 'en', 50% of 'zh', all of the rest, by hash bucket of the doc
    id (sampling.stratified_sample).  Unlike df.sample, the keep set
    is a pure function of (id, seed): re-running any partition
    reproduces the identical sample.  Aggregated per lang so the
    oracle checks the exact keep set."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    kept = S.stratified_sample(
        docs, ["lang"], {("en",): 0.25, ("zh",): 0.50}, seed="sample-v1"
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@_q("q_vocab_topn", """
SELECT token, n, rank FROM (
  SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM (
    SELECT token, COUNT(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
  )
) WHERE rank <= 100
""")
def q_vocab_topn(spark, sf_dir):
    """EXT curation: corpus vocabulary — top-100 tokens by frequency
    (the seed step of vocab/BPE training).  explode -> partial+final
    count (shuffle carries (token, partial_count)) -> TakeOrdered
    top-k; the full token set never sorts globally.  The final
    row_number ranks the 100 surviving rows in one partition — that
    window never sees the corpus."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    counts = TX.token_counts(_t(spark, sf_dir, "documents"))
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(100)
    # this unpartitioned window is the source of the bench's recurring
    # "WindowExec: No Partition Defined" warning — benign by design:
    # it ranks the 100 post-limit rows, never the corpus (r13 VERDICT)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("token").asc())
        ),
    )


_MULTIMODAL_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         md5(text || '0') AS h
  FROM documents WHERE doc_id < 64
)
SELECT media_id, kind, 16 AS dim,
  ((('0x' || substr(h, 7, 2) || substr(h, 5, 2) || substr(h, 3, 2) || substr(h, 1, 2))::BIGINT
    % 2000001) / 1000000.0 - 1.0)::FLOAT AS f0
FROM m
"""


@_q("q_multimodal_features", _MULTIMODAL_ORACLE)
def q_multimodal_features(spark, sf_dir):
    """X5: multimodal binary-column pipeline — synthetic media table ->
    feature extraction over the opaque payload bytes.  The FAKE md5
    decode kernel is byte-pure, so it runs as a whole-stage-codegen
    expression (no Python worker; tested row by row against its
    Python reference), and feature 0 has an exact SQL twin (first 4
    digest bytes little-endian, scaled to [-1, 1], FLOAT32)."""
    from real_timetransactionaldatalakehouse_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.synthetic_media(spark, docs, n=64)
    feats = MM.extract_features(media)
    return feats.select(
        "media_id", "kind",
        F.size("features").alias("dim"),
        F.col("features")[0].alias("f0"),
    )


# =====================================================================
# Round-4 additions (session continuation): set ops, grouping sets,
# unpivot, analytic rank stats, mode, z-score normalization, session
# windows, BM25 retrieval, embedding near-dup clusters.
# =====================================================================


@_q("q_intersect", """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""")
def q_intersect(spark, sf_dir):
    """Set op: INTERSECT (distinct) — customers with orders in BOTH
    statuses.  Catalyst plans a left-semi hash join over the two
    distinct-aggregated sides; at 100 TB both sides shuffle once on
    the compare key (same shape as the anti-join MERGE half,
    reference streaming_job.py:148-154).  INTERSECT ALL is the same
    surface with a per-row multiplicity counter."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@_q("q_except", """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""")
def q_except(spark, sf_dir):
    """Set op: EXCEPT (distinct) — customers with finished orders and
    no open ones.  ``DataFrame.subtract`` compiles to a left-anti hash
    join over the distinct left side (one shuffle per side on the
    key)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@_q("q_grouping_sets", """
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""")
def q_grouping_sets(spark, sf_dir):
    """Grouping sets surface, explicit-list variant (the general form
    ROLLUP/CUBE desugar to): per-returnflag and per-linestatus margins
    in ONE pass — Catalyst expands each row to its grouping-set
    replicas before a single partial+final hash agg (one shuffle, same
    Expand-op plan as q_rollup/q_cube).  Pre-aggregated before the
    Expand — see :func:`_grouping_preagg`."""
    return (
        _grouping_preagg(_t(spark, sf_dir, "lineitem"))
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(*_grouping_final_aggs())
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "gid", "n", "sum_qty",
        )
    )


@_q("q_unpivot", """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
""")
def q_unpivot(spark, sf_dir):
    """Unpivot (wide -> long, the inverse of q_pivot): per-line-item
    measures melted to (key, metric, value) rows — the shape feature
    stores and metric pipelines ingest.  Spark's ``unpivot`` plans an
    Expand op (each row emits its value-column replicas map-side):
    zero shuffles, zero joins — strictly better than the UNION-ALL
    formulation, which would scan the table once per measure."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric", "value",
    )


@_q("q_window_rank_stats", """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
""")
def q_window_rank_stats(spark, sf_dir):
    """Analytic rank family: ntile quartile binning + percent_rank +
    cume_dist per event type — quantile-bucket feature engineering as
    a single window pass (all three share one sort, one exchange
    keyed by event_type).  The order key carries a unique tiebreak
    (event_id) so bucket assignment is total-order deterministic.
    Both engines implement the SQL-standard definitions, so values
    hash-match bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc(), F.col("event_id").asc())
    )
    return ev.select(
        "event_id", "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@_q("q_agg_mode", """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn
  FROM c
)
SELECT user_id, event_type AS mode_value, n AS n_occurrences
FROM r WHERE rn = 1
""")
def q_agg_mode(spark, sf_dir):
    """Deterministic MODE per group (operators/relational.
    mode_per_group): dominant event type per user, ties to the
    lexicographically smallest — built-in ``mode()`` is
    tie-nondeterministic across engines.  The ranking window runs
    over the aggregated (user, type, count) rows, not raw events."""
    ev = _t(spark, sf_dir, "events")
    return R.mode_per_group(ev, ["user_id"], "event_type")


@_q("q_zscore_norm", """
WITH st AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
              AS DOUBLE) AS sxx,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
), m AS (
  SELECT l_returnflag, sx / n AS mean,
         sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
  FROM st
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       (l.l_quantity - m.mean) / m.sd AS z
FROM lineitem l JOIN m USING (l_returnflag)
""")
def q_zscore_norm(spark, sf_dir):
    """Per-group z-score normalization (operators/relational.
    zscore_normalize) — group moments from exact decimal sums
    (order-independent, so the partial-agg tree and DuckDB's
    sequential scan agree bit-for-bit), broadcast back onto the rows:
    the fact side never shuffles.  Certified on the fixed-point
    l_quantity column (squares exact in binary); arbitrary-precision
    doubles can land exactly on a decimal rounding tie where engines'
    HALF_UP vs HALF_EVEN conventions split — see the operator
    docstring for the fixed-point-input requirement."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    # l_quantity is integral (1..50): long-sum fast path, same values
    out = R.zscore_normalize(li, ["l_returnflag"], "l_quantity", integral=True)
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "z")


@_q("q_session_window_agg", """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       date_trunc('second', MIN(ts)) AS session_start,
       date_trunc('second', MAX(ts) + INTERVAL 30 MINUTE) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""")
def q_session_window_agg(spark, sf_dir):
    """Session windows as a GROUP BY unit (operators/relational.
    session_window_agg, Spark's built-in ``session_window``): one row
    per (user, session) with start / end(+gap) / event count.  The
    oracle is the LAG gap-and-island twin with the verified boundary
    semantics (an event at EXACTLY last+gap still merges -> new
    session iff gap STRICTLY exceeded).  Same operator runs unchanged
    under Structured Streaming with a watermark."""
    ev = _t(spark, sf_dir, "events")
    out = R.session_window_agg(ev, "ts", ["user_id"], gap="30 minutes")
    return out.select(
        "user_id",
        F.date_trunc("second", "session_start").alias("session_start"),
        F.date_trunc("second", "session_end").alias("session_end"),
        "n_events",
    )


# BM25 with EXACTLY TWO query terms: the per-doc score sums two
# doubles (commutative), so the hash is partial-agg-order independent
# — same argument as q_search_ranked's TF-IDF oracle.
_BM25_ORACLE = """
WITH pairs AS (
  SELECT doc_id, t.term AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  GROUP BY 1, 2
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM pairs GROUP BY 1
), c AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
), dfreq AS (
  SELECT term, COUNT(*) AS dfc FROM pairs GROUP BY term
), scored AS (
  SELECT p.doc_id,
         ln(1.0 + (c.nd - dfreq.dfc + 0.5) / (dfreq.dfc + 0.5))
           * (CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
           / (CAST(p.tf AS DOUBLE)
              + 1.2 * (0.25 + (0.75 * CAST(dl.dl AS DOUBLE)) / c.avgdl)) AS w
  FROM pairs p JOIN dfreq USING (term) JOIN dl USING (doc_id), c
  WHERE p.term IN ('window', 'sort')
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched, SUM(w) AS score
FROM scored GROUP BY doc_id
HAVING COUNT(*) = 2
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


@_q("q_bm25_search", _BM25_ORACLE)
def q_bm25_search(spark, sf_dir):
    """X4: Okapi BM25 ranked retrieval (operators/text.search_bm25,
    published k1=1.2 / b=0.75) — the retrieval-quality
    upgrade over q_search_ranked's TF-IDF: length-normalized term
    saturation.  Postings are cut to the query terms before ranking;
    shuffles carry (doc, term, count) rows only."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        search_bm25,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return search_bm25(docs, ["window", "sort"], k=10)


@_q("q_running_total", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
FROM orders
""")
def q_running_total(spark, sf_dir):
    """Analytic running total: cumulative customer revenue in order
    date order (unique o_orderkey tiebreak) — the balance/burn-down
    surface.  The accumulator is an exact DECIMAL windowed sum cast to
    DOUBLE at the end, so every prefix is order-independent inside the
    frame and bit-identical across engines (a double accumulator would
    drift by association).  Window partitioned by customer — scales
    with per-key row counts, never a global sort."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).over(w)
        .cast("double").alias("running_rev"),
    )


@_q("q_ratio_to_total", """
WITH seg AS (
  SELECT c.c_mktsegment,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT c_mktsegment, rev,
       rev / CAST(SUM(CAST(rev AS DECIMAL(28,4))) OVER () AS DOUBLE) AS share
FROM seg
""")
def q_ratio_to_total(spark, sf_dir):
    """Ratio-to-report: each market segment's share of total revenue —
    the percent-of-total analytic.  The global window runs over the
    POST-AGGREGATION segment rows (metadata-sized: one row per
    segment), so the single-partition window is fine at any input
    scale; the denominator re-sums the segment revenues through exact
    decimals (commutative), making the share bit-stable across
    engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(LF.dsum("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy()
    return seg.select(
        "c_mktsegment", "rev",
        (
            F.col("rev")
            / F.sum(F.col("rev").cast("decimal(28,4)")).over(w).cast("double")
        ).alias("share"),
    )


@_q("q_array_hof", """
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                                    x -> length(x)), x -> x > 3) AS ll
  FROM documents
)
SELECT doc_id,
       CAST(len(ll) AS INTEGER) AS n_long,
       CAST(COALESCE(list_sum(ll), 0) AS BIGINT) AS long_len_sum
FROM t
""")
def q_array_hof(spark, sf_dir):
    """Higher-order array functions (the lambda surface: transform /
    filter / aggregate) — per-document count and summed length of
    long tokens, computed INSIDE the array without an explode: a
    map-only projection, zero shuffles, all JVM expressions (the
    100 TB-friendly alternative to explode+groupBy when the
    aggregation is per-row).  Integer fold, so any fold order agrees
    with DuckDB's list_sum."""
    docs = _t(spark, sf_dir, "documents")
    lens = F.transform(F.split(F.col("text"), " "), lambda x: F.length(x))
    long_ = F.filter(lens, lambda l: l > 3)
    return docs.select(
        "doc_id",
        F.size(long_).alias("n_long"),
        F.aggregate(
            long_, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("long_len_sum"),
    )


@_q("q_moving_avg", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE)
         / CAST(COUNT(*) OVER w AS DOUBLE) AS avg3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""")
def q_moving_avg(spark, sf_dir):
    """Rows-frame moving aggregate: trailing-3-order average spend per
    customer (unique o_orderkey tiebreak) — the smoothing/trend
    analytic.  Exact DECIMAL frame sum / frame count, both cast to
    DOUBLE only at the division, so every frame value is
    order-independent and bit-identical across engines.  One exchange
    keyed by customer; frame evaluation is a per-partition sliding
    accumulator."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, 0)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,4)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("avg3"),
    )


@_q("q_window_range_frame", """
SELECT event_id, event_type,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_10m,
       MIN(value) OVER w AS min_10m,
       MAX(value) OVER w AS max_10m
FROM (SELECT *, epoch_us(ts) // 1000000 AS ts_s FROM events)
WINDOW w AS (PARTITION BY event_type ORDER BY ts_s
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
""")
def q_window_range_frame(spark, sf_dir):
    """Time-RANGE window frame: per event type, the count and value
    extremes over the trailing 10 minutes of EVENT TIME (range frame
    over floored epoch seconds — both engines floor identically via
    integer division; rows in the same second are frame peers, so tie
    order is irrelevant by construction).  COUNT/MIN/MAX are exact
    order statistics — no float accumulation to drift.  One exchange
    keyed by event_type."""
    ev = _t(spark, sf_dir, "events").withColumn("ts_s", F.col("ts").cast("long"))
    w = (
        Window.partitionBy("event_type").orderBy("ts_s").rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id", "event_type",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.min("value").over(w).alias("min_10m"),
        F.max("value").over(w).alias("max_10m"),
    )


@_q("q_fuzzy_pairs", """
WITH k AS (
  SELECT doc_id, substring(text, 1, 40) AS key FROM documents WHERE doc_id < 60
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= 20
""")
def q_fuzzy_pairs(spark, sf_dir):
    """Fuzzy string matching: Levenshtein edit distance over a bounded
    candidate set (doc-key prefixes) — the entity-resolution /
    near-identical-title dedup primitive.  Both engines implement the
    classic unit-cost DP, so distances match exactly.  At scale the
    pair space comes from a blocking key (LSH bands / sorted
    neighborhood), never this demonstration cartesian — same
    candidates-then-verify shape as q_neardup_verified."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    k = docs.select("doc_id", F.substring("text", 1, 40).alias("key"))
    a = k.select(F.col("doc_id").alias("id_a"), F.col("key").alias("ka"))
    b = k.select(F.col("doc_id").alias("id_b"), F.col("key").alias("kb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein("ka", "kb").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 20)
    )


@_q("q_funnel", """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t_view
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click
  GROUP BY 1
)
SELECT s1.user_id,
       date_trunc('second', s1.t_view) AS t_view,
       date_trunc('second', s2.t_click) AS t_click,
       date_trunc('second', s3.t_purchase) AS t_purchase,
       CAST(1 + CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END
            AS INTEGER) AS stage
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
""")
def q_funnel(spark, sf_dir):
    """Ordered conversion funnel (operators/relational.funnel_stages):
    first view -> first click at/after it -> first purchase at/after
    that, plus the reached stage — per-step filtered min-ts
    aggregations joined by user (per-user partials only; no window
    over raw events, no per-user history arrays)."""
    ev = _t(spark, sf_dir, "events")
    out = R.funnel_stages(
        ev, "user_id", "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    return out.select(
        "user_id",
        F.date_trunc("second", "t_view").alias("t_view"),
        F.date_trunc("second", "t_click").alias("t_click"),
        F.date_trunc("second", "t_purchase").alias("t_purchase"),
        "stage",
    )


@_q("q_agg_corr", """
WITH b AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS sq,
         CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS sc,
         CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
         CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS scc,
         CAST(SUM(CAST(q * c AS DECIMAL(38,0))) AS DOUBLE) AS sqc
  FROM b GROUP BY 1
)
SELECT l_returnflag,
       (sqc - sq * sc / n) / (n - 1) AS covar_qty_cents,
       (n * sqc - sq * sc)
         / sqrt((n * sqq - sq * sq) * (n * scc - sc * sc)) AS corr_qty_price
FROM s
""")
def q_agg_corr(spark, sf_dir):
    """Exact correlation / sample covariance per group — the
    statistics surface built the engine-portable way: built-in
    corr/covar are single-pass Welford updates whose float order
    differs per engine, so instead the five moment sums run over
    EXACT integers (quantity, price in cents via the fixed-point
    round; every product fits a long per row, sums accumulate in
    DECIMAL(38,0)) and the closed-form combination happens once in
    doubles with a fixed expression tree.  Correlation is
    scale-invariant, so cents vs dollars changes nothing; one
    partial+final shuffle, same cost as any 5-metric agg.

    Accumulation is primitive-long (LF.lsum) for the narrow terms and
    hi/lo split-long with exact decimal recombine (LF.xlsum) for the
    wide ones (c*c reaches 1.2e14 per row — its group sum is 7.4e18 at
    sf0.1, already 80 percent of Long.MAX, so the plain long sum is one
    doubling from overflow while the split path is exact to 2^39 rows
    per group).  Bit-identical to the previous DECIMAL(38,0)
    accumulation — exact integer sums, one rounding at the double cast
    — but the hot path stays in whole-stage codegen primitives."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    c = F.round(F.col("l_extendedprice") * 100).cast("long")

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        # q <= 2^6, q*q <= 2^12, c <= 2^24 per row: plain long sums
        # hold past 5e11 rows/group (a full 100 TB table in one group)
        LF.lsum(q).alias("sq"), LF.lsum(c).alias("sc"),
        LF.lsum(q * q).alias("sqq"),
        # c*c <= 2^47, q*c <= 2^30 per row: split accumulation
        LF.xlsum(c * c).alias("scc"),
        LF.xlsum(q * c).alias("sqc"),
    )
    n, sq, sc = F.col("n"), F.col("sq"), F.col("sc")
    sqq, scc, sqc = F.col("sqq"), F.col("scc"), F.col("sqc")
    return s.select(
        "l_returnflag",
        ((sqc - sq * sc / n) / (n - F.lit(1))).alias("covar_qty_cents"),
        (
            (n * sqc - sq * sc)
            / F.sqrt((n * sqq - sq * sq) * (n * scc - sc * sc))
        ).alias("corr_qty_price"),
    )


@_q("q_embed_quantize", """
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
)
SELECT vec_id,
       CASE WHEN maxabs > 0 THEN 127.0 / maxabs END AS scale,
       CASE WHEN maxabs > 0 THEN
         array_to_string(
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / maxabs))
                                    AS INTEGER)), ',')
       END AS qvec_csv
FROM m
""")
def q_embed_quantize(spark, sf_dir):
    """X3: symmetric int8 embedding quantization (operators/similarity.
    quantize_embeddings) — the 4x ANN storage/bandwidth shrink.
    Map-only higher-order expressions; both engines round ties away
    from zero, so the codes hash-match bit-for-bit.

    The certified projection joins the int8 codes to a canonical CSV
    string (changed in r6): the driver's pandas canonicalizer crashes
    on list-valued columns (CORRECTNESS_r05 ``err``), so the raw
    ``ARRAY<INT>`` shape can never certify.  ``quantize_embeddings``
    itself still returns the array column and stays pytest-covered."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    q = S.quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "scale",
        F.array_join(F.col("qvec").cast("array<string>"), ",")
        .alias("qvec_csv"),
    )


@_q("q_trend_slope", """
WITH b AS (
  SELECT user_id,
         CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT)
           - 1704067200 AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
), s AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM b GROUP BY 1
)
SELECT user_id,
       CASE WHEN n > 1 AND n * sxx - sx * sx > 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
       CASE WHEN n > 1 AND n * sxx - sx * sx > 0
            THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
            END AS intercept,
       CASE WHEN n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2,
       CAST(n AS BIGINT) AS n
FROM s
""")
def q_trend_slope(spark, sf_dir):
    """Per-user OLS trend of event value over time (operators/fitting.
    grouped_ols, the exact moment-sum fit): inputs quantize to
    integers (epoch seconds from a fixed 2024-01-01 origin; value in
    cents — exact for this corpus, pinned by pytest), the five moment
    sums accumulate exactly (lsum/xlsum, exact to 2^39 rows/group),
    and the closed form combines them once in doubles with the same
    expression tree as the oracle — bit-portable, hence hashable, the
    corr/covar discipline applied to fitting.  Slope units: cents per
    second.

    One partial+final shuffle of six longs per (user, partition) —
    events never shuffle whole.  The origin shift keeps x to ~2^25 for
    a year of data so x*x stays within xlsum's per-row bound."""
    from real_timetransactionaldatalakehouse_spark.operators.fitting import (
        grouped_ols,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.col("ts").cast("long") - F.lit(1704067200)).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    return grouped_ols(ev, ["user_id"], "x", "y")


_NEARDUP_FREE_ORACLE = """
WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 4, 1)), ' ') AS text
  FROM documents WHERE doc_id < 10
),
sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
  FROM all_docs
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
  ) WHERE jaccard >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (
  SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src
),
drop_ids AS (SELECT id FROM labels WHERE id != cluster_id)
SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
FROM all_docs d
WHERE d.doc_id NOT IN (SELECT id FROM drop_ids)
"""


@_q("q_neardup_free_corpus", _NEARDUP_FREE_ORACLE)
def q_neardup_free_corpus(spark, sf_dir):
    """X2 terminal product: the DEDUPLICATED corpus — verified MinHash
    pairs -> connected components -> keep one document per component
    (the cluster-min id), everything else anti-joined away.  This is
    the answer a fuzzy-dedup pipeline actually ships; the pairwise and
    cluster queries are its intermediates.  The drop set is
    |duplicates|-sized (tiny next to the corpus), so the final
    anti-join broadcasts."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")

    def _mutant(max_id, offset, drop):
        return docs.filter(F.col("doc_id") < max_id).select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, F.greatest(F.size(toks) - drop, F.lit(1)))
            ).alias("text"),
        )

    corpus = docs.unionByName(_mutant(20, 200000, 2)).unionByName(
        _mutant(10, 300000, 4)
    )
    # r14 (guide §2.4): the keep-one terminal never reads n_members, so
    # the drop set comes from the light losers path (row-identical to
    # filtering the full cluster table; the cluster-size aggregation
    # and its joins vanish from the plan)
    drop = D.neardup_losers(corpus, jaccard_threshold=0.5).select(
        F.col("doc_id").alias("id")
    )
    return (
        corpus.join(
            F.broadcast(drop), corpus["doc_id"] == drop["id"], "left_anti"
        )
        .select("doc_id", F.length("text").cast("long").alias("n_chars"))
    )


@_q("q_union_evolve", """
SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL BY NAME
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders WHERE o_orderkey % 2 = 1
""")
def q_union_evolve(spark, sf_dir):
    """Schema-evolving union: two frames with different column sets
    united BY NAME with missing columns NULL-filled
    (``unionByName(allowMissingColumns=True)``) — the read-side shape
    of appending to a table whose later files carry added columns.
    Position-based UNION would silently misalign; by-name is the only
    safe union under schema evolution."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return old.unionByName(new, allowMissingColumns=True)


@_q("q_collect_set", """
SELECT user_id,
       array_to_string(list_sort(list_distinct(array_agg(event_type))), ',')
         AS types_csv,
       CAST(len(list_distinct(array_agg(event_type))) AS INTEGER) AS n_types
FROM events GROUP BY user_id
""")
def q_collect_set(spark, sf_dir):
    """Set aggregation to an array column: the distinct event types
    per user, SORTED so the array value is deterministic (collect_set
    order is partitioning-dependent; sort_array pins it).  Partial
    map-side set union bounds the shuffle to distinct values per key.

    The certified projection joins the array to a canonical CSV string
    (changed in r6): the driver's pandas canonicalizer cannot sort
    list-valued columns (``TypeError: unhashable type: 'list'`` — both
    ``err`` rows in CORRECTNESS_r05), so an array output column can
    never certify.  The array-typed aggregation itself is unchanged and
    remains pytest-covered."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",")
        .alias("types_csv"),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )


@_q("q_agg_bool", """
SELECT user_id,
       bool_and(value >= 0) AS all_nonneg,
       bool_or(event_type = 'purchase') AS any_purchase,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
         AS n_purchases
FROM events GROUP BY user_id
""")
def q_agg_bool(spark, sf_dir):
    """Boolean aggregates (every / any): the audit-style per-entity
    invariant check — all values non-negative, any purchase present.
    Both engines implement three-valued bool_and/bool_or identically;
    partial aggregation carries one boolean per key per map task."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("event_type") == "purchase").alias("any_purchase"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
    )


@_q("q_join_asof_tolerance", """
WITH timeline AS (
  SELECT o_custkey AS user_id, o_orderdate AS t_ts, MAX(o_orderstatus) AS status
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       date_trunc('second', CAST(e.ts AS TIMESTAMP)) AS ts_s,
       CASE WHEN e.ts - t.t_ts <= INTERVAL 30 DAY THEN t.status END AS status
FROM events e ASOF LEFT JOIN timeline t
  ON e.user_id = t.user_id AND e.ts >= t.t_ts
""")
def q_join_asof_tolerance(spark, sf_dir):
    """J5 extension: as-of join with bounded staleness (pandas
    merge_asof ``tolerance``) — a fact whose matched state is older
    than 30 days gets NULL instead of arbitrarily stale values.  The
    matched timestamp rides the same running-last window frame, so the
    bound costs one extra window column, not a second join."""
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    timeline = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t_ts"),
        F.col("o_orderstatus").alias("status"),
    )
    out = J.asof_join(
        events, timeline, key="user_id", fact_ts="ts", timeline_ts="t_ts",
        value_cols=["status"], fact_tiebreaks=["event_id"],
        dedup_keep_max=True, tolerance_s=30 * 24 * 3600,
    )
    return out.select("event_id", "user_id", LF.ts_second("ts").alias("ts_s"), "status")


@_q("q_contamination_report", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 12), ' ') AS g
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 12, 1))) AS u(i)
), bench AS (
  SELECT doc_id, g FROM grams WHERE doc_id % 20 = 0
), corp AS (
  SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0
), hits AS (
  SELECT b.doc_id AS bid,
         CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_contaminating_docs,
         CAST(COUNT(DISTINCT b.g) AS BIGINT) AS n_shared_grams
  FROM bench b JOIN corp c ON b.g = c.g
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs,
       CAST(COALESCE(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams
FROM documents d LEFT JOIN hits h ON d.doc_id = h.bid
WHERE d.doc_id % 20 = 0
""")
def q_contamination_report(spark, sf_dir):
    """EXT curation audit: the per-eval-doc leakage report published
    next to the decontamination drop (operators/sampling.
    contamination_report) — contaminating-corpus-doc and shared-gram
    counts per benchmark document, with explicit zeros (the report
    proves absence).  Same broadcast gram-hash join shape as
    q_decontaminate_ngram; corpus text never shuffles."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return S.contamination_report(corpus, benchmark, n=13)


_CORPUS_PIPELINE_ORACLE = r"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
), bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
),
sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
  FROM corpus
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
  ) WHERE jaccard >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
dup_drop AS (SELECT id FROM labels WHERE id != cluster_id),
gq AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS toks,
         CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS INTEGER) AS n_symbols
  FROM corpus
), gm AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_words,
         CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_len,
         n_symbols,
         CAST(len(list_filter(list_distinct(toks),
              x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x)))
              AS INTEGER) AS stop_hits
  FROM gq
), gopher_keep AS (
  SELECT doc_id FROM gm
  WHERE n_words >= 50 AND n_words <= 100000
    AND COALESCE(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
                 AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0, FALSE)
    AND COALESCE(CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) < 0.1, FALSE)
    AND stop_hits >= 2
),
toks13 AS (
  SELECT doc_id, string_split(text, ' ') AS t, 0 AS is_bench FROM corpus
  UNION ALL
  SELECT doc_id, string_split(text, ' ') AS t, 1 AS is_bench FROM bench
), grams AS (
  SELECT DISTINCT doc_id, is_bench,
         array_to_string(list_slice(t, i, i + 12), ' ') AS g
  FROM toks13, UNNEST(generate_series(1, greatest(len(t) - 12, 1))) AS u(i)
), contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM grams c JOIN (SELECT DISTINCT g FROM grams WHERE is_bench = 1) b
    ON c.g = b.g
  WHERE c.is_bench = 0
)
SELECT c.doc_id,
       CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens
FROM corpus c
WHERE c.doc_id NOT IN (SELECT id FROM dup_drop)
  AND c.doc_id IN (SELECT doc_id FROM gopher_keep)
  AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@_q("q_corpus_pipeline", _CORPUS_PIPELINE_ORACLE)
def q_corpus_pipeline(spark, sf_dir):
    """EXT flagship v2 — the COMPLETE training-corpus prep pipeline in
    one declared query: near-dup-free (verified MinHash pairs ->
    connected components -> keep cluster min) -> Gopher quality gate
    (published MassiveText rules) -> benchmark decontamination (token
    13-gram overlap vs the eval split) -> surviving docs with token
    counts.  Every stage is the independently-certified operator
    (q_neardup_free_corpus / q_gopher_filter / q_decontaminate_ngram);
    the composition proves they stack: filters are set-subtractions on
    the same base corpus, so shuffles stay per-stage (band buckets,
    gram hashes, component labels) and the corpus text itself streams
    through map-only projections between them."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D
    from real_timetransactionaldatalakehouse_spark.operators import sampling as SM
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        gopher_rules, tokens,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)

    # r14 (guide §2.4): light losers path — see q_neardup_free_corpus
    dup_drop = D.neardup_losers(corpus, jaccard_threshold=0.5).select(
        F.col("doc_id").alias("id")
    )
    deduped = corpus.join(
        F.broadcast(dup_drop), corpus["doc_id"] == dup_drop["id"], "left_anti"
    )
    gated = gopher_rules(deduped).filter(F.col("gopher_keep")).select("doc_id", "text")
    clean = SM.decontaminate_ngram(gated, benchmark, n=13)
    return clean.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )


_SQL_TEXT = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@_q("q_sql_text", _SQL_TEXT)
def q_sql_text(spark, sf_dir):
    """SQL entry path: the SAME ANSI text runs through ``spark.sql``
    over registered views AND through DuckDB as its own oracle — the
    literal every-user surface (revenue by nation, two joins, exact
    scaled-long money sum).  Catalyst plans it identically to the
    DataFrame build: pushed scans, broadcast dims, partial+final agg
    — proving the two front-ends share one engine."""
    from real_timetransactionaldatalakehouse_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_TEXT)


_GOPHER_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS toks,
         CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS INTEGER) AS n_symbols
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_words,
         CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS sum_len,
         n_symbols,
         CAST(len(list_filter(list_distinct(toks),
              x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x)))
              AS INTEGER) AS stopword_hits
  FROM t
), m AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
         CASE WHEN n_words > 0
              THEN CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symbol_ratio,
         stopword_hits
  FROM s
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, stopword_hits,
       (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
       COALESCE(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE) AS rule_mean_word_len,
       COALESCE(symbol_ratio < 0.1, FALSE) AS rule_symbol_ratio,
       (stopword_hits >= 2) AS rule_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND COALESCE(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE)
        AND COALESCE(symbol_ratio < 0.1, FALSE)
        AND (stopword_hits >= 2)) AS gopher_keep
FROM m
"""


@_q("q_gopher_filter", _GOPHER_ORACLE)
def q_gopher_filter(spark, sf_dir):
    """X4: the published Gopher/MassiveText quality rules (Rae et al.
    2021) as named per-document booleans + overall keep flag
    (operators/text.gopher_rules) — word-count bounds, mean word
    length bounds, symbol-to-word ratio, stopword presence.  Map-only
    JVM expressions: one pass at any corpus size."""
    from real_timetransactionaldatalakehouse_spark.operators.text import gopher_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = gopher_rules(docs)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "stopword_hits",
        "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
        "rule_stopwords", "gopher_keep",
    )


@_q("q_bpe_pairs", """
WITH w AS (
  SELECT t.w AS w, COUNT(*) AS freq
  FROM documents,
       UNNEST(list_filter(string_split(text, ' '), x -> x != '')) AS t(w)
  GROUP BY 1
), p AS (
  SELECT substring(w.w, i.i, 2) AS pair, w.freq
  FROM w, UNNEST(generate_series(1, length(w.w) - 1)) AS i(i)
  WHERE length(w.w) >= 2
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
FROM p GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT 50
""")
def q_bpe_pairs(spark, sf_dir):
    """X4: BPE tokenizer training, merge-selection step (Sennrich et
    al. 2016; operators/text.bpe_pair_counts) — adjacent character
    pairs ranked by corpus frequency, weighted by word counts.  The
    corpus-sized shuffle carries word partials once; the pair stage
    runs over the vocabulary-sized word table only."""
    from real_timetransactionaldatalakehouse_spark.operators.text import (
        bpe_pair_counts,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_pair_counts(docs, top_n=50)


@_q("q_embed_centroids", """
WITH e AS (
  SELECT label, i.i - 1 AS dim,
         CAST(CAST(embedding[i.i] AS DOUBLE) * 8796093022208.0 AS BIGINT) AS sv
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS i(i)
)
SELECT label, dim,
       CAST(SUM(sv) AS DOUBLE) / 8796093022208.0 / COUNT(*) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM e GROUP BY 1, 2
""")
def q_embed_centroids(spark, sf_dir):
    """X3: per-label mean embedding (operators/similarity.
    embedding_centroids, dyadic mode) — the mean-pooling /
    class-prototype / IVF-refresh primitive.  Every float32 component
    here is an exact multiple of 2^-43 (checked by
    test_embeddings_are_dyadic_43), so components scale to exact longs
    and accumulate via the split-long partial+final sum — bit-equal
    across engines and partitionings with NO ordered fold (the r4
    collect_list formulation went superlinear at the 50x replica);
    the oracle's 8796093022208 literal is 2^43.  Without
    ``dyadic_bits`` the operator folds in id order, for non-dyadic
    inputs."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    return S.embedding_centroids(
        _t(spark, sf_dir, "embeddings"), dyadic_bits=43
    )


_EMBED_CLUSTERS_ORACLE = """
WITH RECURSIVE sub AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, v) -> s + v)
      / (sqrt(list_reduce(list_transform(a.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v))
       * sqrt(list_reduce(list_transform(b.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v)))
      AS score
    FROM sub a, sub b WHERE a.vec_id < b.vec_id
  ) WHERE score >= 0.25
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
), nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS id, MIN(dst) AS cluster_id,
       CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_members
FROM reach GROUP BY src
"""


@_q("q_embed_clusters", _EMBED_CLUSTERS_ORACLE)
def q_embed_clusters(spark, sf_dir):
    """X2/X3 terminal: semantic near-dup CLUSTERS — embedding-cosine
    pairs (same bounded subset and threshold as q_embed_neardup) ->
    hash-min connected components (operators/dedup.neardup_clusters).
    A semantic-dedup pipeline keeps one doc per component; cluster id
    = component min vec id, so labeling on an equal pair graph is
    deterministic.  At scale the pair source swaps to the LSH-bucketed
    scorer (q_embed_neardup_lsh) with the component step unchanged."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    pairs = S.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, max_id=60
    )
    return D.neardup_clusters(pairs.select("id_a", "id_b"))


_COS_AB = (
    "list_reduce(list_transform(list_zip(a.v, b.v),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, t) -> s + t)"
    " / (sqrt(list_reduce(list_transform(a.v,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, t) -> s + t))"
    " * sqrt(list_reduce(list_transform(b.v,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, t) -> s + t)))"
)

_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE sub AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 500
), cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cid) - 1 AS c_idx, cvec FROM (
    SELECT id AS cid, v AS cvec FROM sub
    ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT ASC,
             id ASC
    LIMIT 8
  )
), assign AS (
  SELECT id, v, cell, cent_cos FROM (
    SELECT id, v, c_idx AS cell, cos AS cent_cos,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY cos DESC, c_idx ASC) AS rn
    FROM (
      SELECT a.id, a.v, b.c_idx, {_COS_AB.replace("b.v", "b.cvec")} AS cos
      FROM sub a, cent b
    )
  ) WHERE rn = 1
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b, {_COS_AB} AS score
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
  ) WHERE score >= 0.32
), edges AS (
  SELECT id_a AS ea, id_b AS eb FROM pairs
  UNION ALL
  SELECT id_b AS ea, id_a AS eb FROM pairs
), nodes AS (SELECT DISTINCT ea AS nid FROM edges),
reach(src, dst) AS (
  SELECT nid, nid FROM nodes
  UNION
  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
), comp AS (
  SELECT src AS id, MIN(dst) AS cluster_id,
         CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_members
  FROM reach GROUP BY src
)
SELECT c.id, a.cell, c.cluster_id, c.n_members,
       (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                           ORDER BY a.cent_cos ASC, c.id ASC) = 1) AS keep
FROM comp c JOIN assign a ON c.id = a.id
"""


@_q("q_semdedup", _SEMDEDUP_ORACLE)
def q_semdedup(spark, sf_dir):
    """X2 semantic tier: SemDeDup (operators/similarity.semantic_dedup)
    — deterministic hash-seeded cells, cell-scoped exact-cosine pairs,
    hash-min components, keep = the least-prototypical member (lowest
    centroid cosine) per duplicate group.  The whole pipeline (seed
    sample, assignment argmax, pair scores, keep ranking) runs on
    sequential-fold cosines, so the ANSI-SQL twin is bit-exact; the
    k-row seed collect is metadata-sized by construction (same plan
    shape as q_knn_ivf's quantizer).  Bounded to vec_id < 500 for the
    oracle's all-pairs-within-cell reach CTE; the scale path is the
    same operator unbounded with k sized to the corpus.

    Certified on the PRODUCTION combo (r8, VERDICT r7 #5):
    the exact-vector collapse with ``max_cell=256`` — the 23x
    configuration the 50x replica measured.  At certification scale no cell exceeds the
    cap and the exact-vector collapse is output-equivalent by
    construction, so the oracle is unchanged and the hash compare
    pins BOTH facts (equivalence is also pytested directly).

    r9 (VERDICT r8 #2): the collapse is now gated on a build-time
    duplicate-ratio probe (similarity._exact_dup_probe) — on this
    dup-free certification data the gate disengages and the timed
    plan IS the plain plan (work-proportional: the r8 form paid the
    fingerprint groupBy + expansion joins here for zero collapsed
    rows, doubling the bench wall); on the duplicate-heavy 50x
    replica the gate engages and the collapse runs exactly as
    certified in r8.  Both sides of the gate are oracle-identical,
    so this certification pins the disengaged path and the pytest
    equivalence suite pins the engaged one."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    return S.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=8, threshold=0.32, max_id=500,
        max_cell=256,
    )


_SEMANTIC_CONTAM_ORACLE = f"""
WITH ev AS (
  SELECT vec_id AS eid, embedding AS v FROM embeddings WHERE vec_id % 97 = 0
), c AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 97 <> 0
), hits AS (
  SELECT * FROM (
    SELECT a.id, b.eid, {_COS_AB} AS score FROM c a, ev b
  ) WHERE score >= 0.28
), ranked AS (
  SELECT id, eid,
         ROW_NUMBER() OVER (PARTITION BY id
                            ORDER BY score DESC, eid ASC) AS rn
  FROM hits
)
SELECT g.id, g.n_eval_hits, r.eid AS top_eval_id, g.top_score
FROM (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
         MAX(score) AS top_score
  FROM hits GROUP BY id
) g JOIN (SELECT id, eid FROM ranked WHERE rn = 1) r ON g.id = r.id
"""


@_q("q_semantic_decontaminate", _SEMANTIC_CONTAM_ORACLE)
def q_semantic_decontaminate(spark, sf_dir):
    """X6s semantic tier: embedding-space contamination report
    (operators/similarity.semantic_contamination) — corpus rows whose
    cosine to any held-out eval vector clears the threshold, with hit
    count and best-matching eval id.  Complements the n-gram
    decontamination pair (q_decontaminate / q_contamination_report):
    paraphrases share no 8-grams but do share a neighborhood.  Eval
    side: the deterministic vec_id % 97 == 0 slice standing in for a
    benchmark table; broadcast nested-loop + map-side partial agg, the
    corpus never shuffles."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.semantic_contamination(
        emb.filter(F.col("vec_id") % 97 != 0),
        emb.filter(F.col("vec_id") % 97 == 0),
        threshold=0.28,
    )


_SEMANTIC_CONTAM_LSH_ORACLE = f"""
WITH {_lsh_planes_cte(64)},
cv AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 97 <> 0
), ev AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 97 = 0
),
{_lsh_bucket_cte("cb", "cv", 8)},
{_lsh_bucket_cte("eb", "ev", 8)},
cand AS (
  SELECT DISTINCT c.id AS id, e.id AS eid
  FROM cb c JOIN eb e ON c.tbl = e.tbl AND c.bucket = e.bucket
),
hits AS (
  SELECT * FROM (
    SELECT cand.id, cand.eid,
      {_FOLD_DOT} / ({_fold_norm("a.v")} * {_fold_norm("b.v")}) AS score
    FROM cand JOIN cv a ON cand.id = a.id JOIN ev b ON cand.eid = b.id
  ) WHERE score >= 0.28
), ranked AS (
  SELECT id, eid,
         ROW_NUMBER() OVER (PARTITION BY id
                            ORDER BY score DESC, eid ASC) AS rn
  FROM hits
)
SELECT g.id, g.n_eval_hits, r.eid AS top_eval_id, g.top_score
FROM (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
         MAX(score) AS top_score
  FROM hits GROUP BY id
) g JOIN (SELECT id, eid FROM ranked WHERE rn = 1) r ON g.id = r.id
"""


@_q("q_semantic_decontaminate_lsh", _SEMANTIC_CONTAM_LSH_ORACLE)
def q_semantic_decontaminate_lsh(spark, sf_dir):
    """X6s semantic tier, SCALE path
    (operators/similarity.semantic_contamination_lsh): the same
    contamination report as q_semantic_decontaminate, but candidate
    (corpus, eval) pairs come from multi-table sign-LSH co-bucketing
    (8 tables x 8 planes — the q_embed_neardup_lsh hash family)
    instead of the |corpus| x |eval| broadcast product.  This is the
    form that runs at 100 TB: both sides shuffle only ``tables`` small
    band rows per vector, never the pair space, and the brute-force
    twin's 50 s wall at the 50x replica becomes a bucket join.  The
    oracle twins the ENTIRE algorithm — deterministic hyperplanes,
    MSB-first bucket packing, co-bucket candidates, sequential-fold
    cosines — so the rows hash bit-for-bit; the recall gap vs the
    exact operator is the banding's documented trade, not noise."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    # planes AND tables pinned (8 x 8) so the static oracle's
    # hyperplane CTE matches at every sf; production callers leave
    # planes="auto"/tables="auto" and the derivations track corpus
    # size and the recall model (similarity.derive_planes /
    # derive_tables, r9)
    return S.semantic_contamination_lsh(
        emb.filter(F.col("vec_id") % 97 != 0),
        emb.filter(F.col("vec_id") % 97 == 0),
        threshold=0.28,
        planes=8,
        tables=8,
    )


_SEM_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % 97 = 0
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
  WHERE vec_id % 97 <> 0
), scored AS (
  SELECT query_id, neighbor_id,
    list_reduce(list_transform(list_zip(qv, cv),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
                (s, v) -> s + v)
    / (sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v))
     * sqrt(list_reduce(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v)))
    AS score
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


@_q("q_semantic_topk_contaminants", _SEM_TOPK_ORACLE)
def q_semantic_topk_contaminants(spark, sf_dir):
    """X6s semantic tier, review side: for EACH eval item, its top-3
    nearest corpus documents by exact cosine — the ranked review queue
    published next to the contamination report (the report says WHICH
    corpus docs cleared the threshold; reviewers triage per eval item,
    nearest first, including near-misses below it).  The eval side is
    metadata-sized by definition, so it rides the fused Arrow lookup
    kernel (operators/similarity.knn_topk_smallq): the corpus streams
    once, each partition emits only its local top-3 per eval item, and
    the single shuffle carries |partitions| x |eval| x 3 narrow rows —
    never the |corpus| x |eval| product.  Scores fold left-to-right,
    bit-identical to the oracle's list_reduce."""
    from real_timetransactionaldatalakehouse_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_topk_smallq(
        emb.filter(F.col("vec_id") % 97 == 0),
        emb.filter(F.col("vec_id") % 97 != 0),
        k=3,
    )


@_q("q_sample_weighted", """
WITH c AS (
  SELECT doc_id, n_chars,
         CAST(SUM(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(n_chars) OVER () AS BIGINT) AS total
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       cum AS cum_weight,
       CAST((cum * 37) // total - ((cum - n_chars) * 37) // total AS BIGINT)
         AS n_tickets
FROM c
WHERE (cum * 37) // total > ((cum - n_chars) * 37) // total
""")
def q_sample_weighted(spark, sf_dir):
    """X6: systematic PPS (probability-proportional-to-size) weighted
    sampling — 37 tickets dropped on the cumulative-weight line, docs
    weighted by length (operators/sampling.sample_systematic).  Pure
    integer ticket arithmetic over an exact two-phase distributed
    prefix sum, so the sample is deterministic, retry-stable and
    bit-identical across engines — the portable alternative to
    float exponential-race reservoirs, and the exact analogue of the
    reference's deterministic-id discipline for splits
    (stream_dims.py CDC keys).  sum(n_tickets) == 37 exactly."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    return Smp.sample_systematic(
        _t(spark, sf_dir, "documents"), k=37, weight_col="n_chars"
    )


@_q("q_vocab_coverage", """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token
), ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS pos,
         CAST(SUM(n) OVER (ORDER BY n DESC, token ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(n) OVER () AS BIGINT) AS total
  FROM counts
)
SELECT t.target_pct,
       CAST(MIN(CASE WHEN cum * 100 >= t.target_pct * total THEN pos END)
            AS BIGINT) AS n_terms,
       CAST(MIN(CASE WHEN cum * 100 >= t.target_pct * total THEN cum END)
            AS BIGINT) AS tokens_covered
FROM ranked CROSS JOIN (VALUES (50), (90), (99)) AS t(target_pct)
GROUP BY t.target_pct
""")
def q_vocab_coverage(spark, sf_dir):
    """X4/X6h: tokenizer-design coverage curve — smallest vocabulary
    (terms in descending corpus frequency) covering >= 50/90/99% of
    token occurrences (operators/text.vocab_coverage).  The corpus
    pass is the token_counts partial agg; the rank+running-sum over
    the VOCABULARY uses the two-phase prefix sum (no single-partition
    window at any vocab size); the coverage test is exact integer
    (cum*100 >= pct*total), so rows hash bit-for-bit."""
    from real_timetransactionaldatalakehouse_spark.operators import text as T

    return T.vocab_coverage(
        _t(spark, sf_dir, "documents"), targets=(50, 90, 99)
    )


@_q("q_dedup_passage", f"""
WITH {_MUTATED_CORPUS_CTE}, t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM all_docs
), c AS (
  SELECT doc_id, toks, CAST(len(toks) // 8 AS INT) AS nc
  FROM t WHERE len(toks) >= 8
), g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, nc - 1),
                s -> array_to_string(list_slice(toks, s*8 + 1, s*8 + 8), ' ')))
           AS gram
  FROM c
), occ AS (
  SELECT gram, COUNT(*) AS o FROM g GROUP BY gram
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN occ.o > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
FROM g JOIN occ USING (gram)
GROUP BY g.doc_id
""")
def q_dedup_passage(spark, sf_dir):
    """X1/X4b: inter-document PASSAGE-level duplication profile
    (operators/dedup.passage_repetition) — non-overlapping 8-token
    chunks fingerprinted and counted corpus-wide; per doc the number
    of chunks appearing more than once anywhere (the MassiveText /
    RefinedWeb boilerplate signal whole-document dedup cannot see).
    Same mutant injection as the near-dup queries (docs 0-19 get a
    2-token-trimmed copy) so duplicated passages exist by
    construction.  The oracle groups on RAW gram strings while the
    engine groups on md5-60 fingerprints — parity doubles as the
    collision-freeness check.  Chunks shuffle as (fp, id) pairs,
    never text (exact_dedup's fingerprint discipline)."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.passage_repetition(_mutated_corpus(docs), chunk=8)


@_q("q_shard_layout", """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle-v1:shard'),
          1, 15))::BIGINT % 8 AS shard,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle-v1:pos'),
          1, 15))::BIGINT AS oh
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY oh ASC, doc_id ASC)
            AS INTEGER) AS pos
FROM h
""")
def q_shard_layout(spark, sf_dir):
    """X6: deterministic training-shard shuffle layout
    (operators/sampling.training_shard_layout) — every document gets
    a (shard, pos) such that reading shards in position order yields
    a fixed pseudo-random global permutation, with NO global sort:
    shard assignment is a map-only md5 bucket and the position is one
    keyed window per shard.  Retry-stable and layout-independent
    (pure function of id and seed), unlike rand()/repartition order —
    the same determinism discipline as hash_split, applied to
    training ORDER."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    return Smp.training_shard_layout(
        _t(spark, sf_dir, "documents"), shards=8, seed="shuffle-v1"
    )


@_q("q_split_leakage", f"""
WITH {_MUTATED_CORPUS_CTE}, {_SHINGLES_CTE},
pairs AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT a.id AS id_a, b.id AS id_b, {_SHINGLE_JACCARD} AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
  ) WHERE jaccard >= 0.5
), splits AS (
  SELECT id,
         CASE WHEN ('0x' || substr(md5(CAST(id AS VARCHAR) || ':split-v1'),
                    1, 15))::BIGINT % 1000 < 900
              THEN 'train' ELSE 'eval' END AS split
  FROM sh
)
SELECT p.id_a, p.id_b, p.jaccard,
       sa.split AS split_a, sb.split AS split_b
FROM pairs p
JOIN splits sa ON p.id_a = sa.id
JOIN splits sb ON p.id_b = sb.id
WHERE sa.split <> sb.split
""")
def q_split_leakage(spark, sf_dir):
    """X6: train/eval near-dup LEAKAGE audit
    (operators/sampling.split_leakage) — hash_split 90/10 over the
    mutated corpus, verified MinHash near-dup pairs (candidates ->
    exact shingle Jaccard at 0.5, the q_neardup_verified pipeline),
    keep pairs straddling the split boundary.  Trimmed mutants hash
    to different buckets than their originals, so cross-split
    near-dup leakage exists by construction — the audit a split
    table must publish before eval numbers are trusted (benchmark
    decontamination's in-corpus sibling)."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    return Smp.split_leakage(
        docs.unionByName(mutated),
        jaccard_threshold=0.5,
        weights={"train": 0.90, "eval": 0.10},
        seed="split-v1",
    )


# =====================================================================
# Registered in r12 as the reserved window heads (VERDICT r10 #4,
# r11 #1) — written and both-SF parity-certified in r11 while the
# r11 window had zero free slots; see _CHECK_FIRST.
# =====================================================================

_SPLIT_ASSIGN_SAFE_ORACLE = f"""
WITH RECURSIVE {_MUTATED_CORPUS_CTE}, {_SHINGLES_CTE},
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b, {_SHINGLE_JACCARD} AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
  ) WHERE jaccard >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
clusters AS (SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
keyed AS (
  SELECT d.doc_id,
         CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) AS key
  FROM all_docs d LEFT JOIN clusters c ON d.doc_id = c.id
)
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(key || ':split-v1'), 1, 15))::BIGINT
                 % 1000 < 900
            THEN 'train' ELSE 'eval' END AS split
FROM keyed
"""


@_q("q_split_assign_safe", _SPLIT_ASSIGN_SAFE_ORACLE)
def q_split_assign_safe(spark, sf_dir):
    """X6aj promotion (registered r12): leakage-safe split assignment —
    verified near-dup clusters (the q_neardup_clusters reachability
    semantics) made split-ATOMIC: every member hash-buckets on its
    cluster id, the un-clustered majority on its own doc id, so no
    verified near-dup pair can straddle train/eval by construction
    (operators/sampling.leakage_safe_split).  Same mutated corpus and
    90/10 weights as q_split_leakage, whose audit over this
    assignment is empty (pytest-pinned)."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Smp.leakage_safe_split(
        _mutated_corpus(docs),
        jaccard_threshold=0.5,
        weights={"train": 0.90, "eval": 0.10},
        seed="split-v1",
    ).select("doc_id", "split")


_DEDUP_SUBSTRING_ORACLE = f"""
WITH {_MUTATED_CORPUS_CTE},
tk AS (
  SELECT doc_id AS id, string_split(text, ' ') AS t
  FROM all_docs WHERE text IS NOT NULL
),
g AS (
  SELECT id, i AS start,
         ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')),
          1, 15))::BIGINT AS fp
  FROM tk, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
dup AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) > 1),
hits AS (SELECT g.id, g.start, g.start + 7 AS e FROM g JOIN dup USING (fp)),
m AS (
  SELECT id, start, e,
         MAX(e) OVER (PARTITION BY id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM hits
),
isl AS (
  SELECT id, start, e,
         SUM(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY start) AS island
  FROM m
)
SELECT id, MIN(start) AS span_start, MAX(e) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY id, island
"""


@_q("q_dedup_substring", _DEDUP_SUBSTRING_ORACLE)
def q_dedup_substring(spark, sf_dir):
    """X6ak (registered r12): exact duplicated-substring spans — the
    ExactSubstr dedup class (Lee et al. ACL'22) as sliding 8-gram
    banding + per-doc gaps-and-islands merge
    (operators/dedup.substring_dup_spans, md5_60 hashes for the exact
    SQL twin).  The drop-last-2-words mutants share long prefixes
    with their originals at shifted-by-nothing offsets AND the
    synthetic corpus carries natural cross-document repeats, so the
    oracle checks both planted and organic spans."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.substring_dup_spans(
        _mutated_corpus(docs), min_gram=8, hash_fn="md5_60"
    )


# =====================================================================
# STAGED FOR r13 — q_dedup_substring_keepfirst
# =====================================================================
# Written in r12 alongside the keep-one election it certifies
# (operators/dedup.removable_spans_keep_first, VERDICT r11 #4); NOT
# yet in _QUERIES/_ORACLES because the r12 window's 50 slots are
# fully owed (2 new heads + 5 r8 at the bound + 43 r9).  r13
# registration is mechanical: decorate with
# @_q("q_dedup_substring_keepfirst", _DEDUP_SUBSTRING_KEEPFIRST_ORACLE)
# and place the name in the reserved r13 head block.  Until then
# tests/test_oracle_parity.py drives the pair through the same
# three-way compare as registered queries at sf0.001 and sf0.01.

_DEDUP_SUBSTRING_KEEPFIRST_ORACLE = f"""
WITH {_MUTATED_CORPUS_CTE},
tk AS (
  SELECT doc_id AS id, string_split(text, ' ') AS t
  FROM all_docs WHERE text IS NOT NULL
),
g AS (
  SELECT id, i AS start,
         ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')),
          1, 15))::BIGINT AS fp
  FROM tk, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
dup AS (
  SELECT fp, MIN(id * 100000 + start) AS keep_key
  FROM g GROUP BY fp HAVING COUNT(*) > 1
),
hits AS (
  SELECT g.id, g.start, g.start + 7 AS e
  FROM g JOIN dup USING (fp)
  WHERE g.id * 100000 + g.start <> dup.keep_key
),
m AS (
  SELECT id, start, e,
         MAX(e) OVER (PARTITION BY id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM hits
),
isl AS (
  SELECT id, start, e,
         SUM(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY start) AS island
  FROM m
)
SELECT id, MIN(start) AS span_start, MAX(e) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY id, island
"""


def _staged_q_dedup_substring_keepfirst(spark, sf_dir):
    """X6ak keep-one promotion (staged for r13): the spans a
    keep-ONE-copy ExactSubstr pass removes — Lee et al. ACL'22's
    published semantics, vs q_dedup_substring's all-occurrences
    report.  The survivor of every duplicated 8-gram is its global
    first occurrence; the SQL twin orders by the composite key
    id*100000+start, equivalent to the engine's min(struct(id,
    start)) because every document here is under 100k tokens (max
    100 measured across all SFs; the engine itself uses the true
    lexicographic struct ordering with no such bound).  The mutants
    make the survivor side interesting: every mutant (doc_id+200000)
    shares its prefix grams with its original, so originals survive
    and mutants carry the removable spans — plus the corpus's
    organic cross-document repeats elect survivors by id order."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.removable_spans_keep_first(
        _mutated_corpus(docs), min_gram=8, hash_fn="md5_60"
    )


# Bloom-screened decontamination (r12 EXT addition): the oracle
# replicates the APPROXIMATE screen exactly — same md5-prefix double
# hashes, same (h1 + j*h2) mod m positions, same all-k-bits
# membership — plus the exact confirm join, so the check holds
# regardless of the false-positive draw (the LSH/ANN oracle
# convention).  m_bits is deliberately SMALL (16384) so the screen's
# false positives are visible in the certified output (n_confirmed <
# n_screened rows) instead of a formula claim.
_DECONTAMINATE_BLOOM_ORACLE = """
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
bench AS (
  SELECT string_split(array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 2, 1)), ' '), ' ') AS t
  FROM documents WHERE doc_id < 20 AND text IS NOT NULL
),
bg AS (
  -- h2 derives from h1's decimal string (the engine's one-hash gram
  -- stream + post-explode derivation)
  SELECT g, h1,
         ('0x' || substr(md5(CAST(h1 AS VARCHAR)), 1, 15))::BIGINT AS h2
  FROM (
    SELECT DISTINCT g, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1
    FROM bench, UNNEST(CASE WHEN len(t) >= 8
      THEN list_transform(generate_series(1, len(t) - 7),
                          i -> array_to_string(list_slice(t, i, i + 7), ' '))
      ELSE [array_to_string(t, ' ')] END) AS u(g)
  )
),
js AS (SELECT unnest(generate_series(0, 3)) AS j),
-- both hashes project to 57 bits before mixing (the engine's ANSI
-- no-overflow rule; 144115188075855872 = 2^57)
bpos AS (
  SELECT DISTINCT (h1 % 144115188075855872
                   + j * (h2 % 144115188075855872)) % 16384 AS p
  FROM bg, js
),
cg AS (
  SELECT doc_id, g, h1,
         ('0x' || substr(md5(CAST(h1 AS VARCHAR)), 1, 15))::BIGINT AS h2
  FROM (
    SELECT DISTINCT doc_id, g,
           ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1
    FROM corpus, UNNEST(CASE WHEN len(t) >= 8
      THEN list_transform(generate_series(1, len(t) - 7),
                          i -> array_to_string(list_slice(t, i, i + 7), ' '))
      ELSE [array_to_string(t, ' ')] END) AS u(g)
  )
),
scr AS (
  SELECT doc_id, g
  FROM (SELECT doc_id, g, j,
               (h1 % 144115188075855872
                + j * (h2 % 144115188075855872)) % 16384 AS p
        FROM cg, js) c
  JOIN bpos USING (p)
  GROUP BY doc_id, g
  HAVING COUNT(DISTINCT j) = 4
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_screened,
       CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_confirmed
FROM scr s LEFT JOIN (SELECT DISTINCT g FROM bg) b ON s.g = b.g
GROUP BY s.doc_id
"""


def _staged_q_decontaminate_bloom(spark, sf_dir):
    """X6s Bloom tier (staged for r13): benchmark decontamination
    through a Bloom membership screen
    (operators/sampling.bloom_contamination_report) — the shape for
    benchmark-UNION eval sets whose distinct-gram table outgrows a
    broadcast join while a fixed bitmap does not.  Per corpus doc:
    distinct 8-grams passing the m=16384/k=4 screen (n_screened) and
    surviving the exact confirm join (n_confirmed).  The benchmark is
    the 20 drop-last-2-words mutants, so docs 0-19 confirm by
    construction; the small bitmap makes screen false positives part
    of the certified output (n_confirmed=0 rows), and the oracle
    replays the identical double-hash positions, so parity certifies
    the SCREEN, not just the exact join."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    return Smp.bloom_contamination_report(
        docs, _mutant_docs(docs), n=8, m_bits=16384, k=4,
        hash_fn="md5_60"
    )


_PERPLEXITY_BUCKETS_ORACLE = f"""
WITH {_LM_SCORE_CTES},
lm AS (
  SELECT doc_id,
         CAST(SUM(CAST(logp AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS avg_logprob
  FROM scored GROUP BY doc_id
)
SELECT l.doc_id, d.lang, l.avg_logprob,
       (['head', 'middle', 'tail'])[
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY l.avg_logprob DESC, l.doc_id)
       ] AS bucket
FROM lm l JOIN documents d USING (doc_id)
"""


def _staged_q_perplexity_buckets(spark, sf_dir):
    """X6am (staged for r13): CCNet head/middle/tail perplexity
    bucketing (operators/text.perplexity_buckets) — equal per-language
    thirds by mean bigram log-likelihood under the corpus LM, the
    partition CCNet publishes and pretraining mixtures sample from.
    Certified in the NTILE mode (deterministic total order on
    (avg_logprob DESC, doc_id), bit-equal across engines because the
    LM's per-doc mean is the q_lm_score DECIMAL-sum value); the
    sketch-cutoff mode is the documented 100-TB path (one
    percentile_approx agg + map-side fold — no per-language sort) and
    is pytest-compared against NTILE away from bucket boundaries."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return TX.perplexity_buckets(docs)


# DSIR importance weights (r12 EXT addition, staged for r13): the
# oracle replays the full hashed-ngram model — same md5_60 gram hash,
# same bucket modulus, same smoothed single-ln log-ratio, DECIMAL-sum
# fold — so parity certifies the model's counts AND the float
# discipline, not just row shapes.  The target corpus is source
# 'src1' (stands in for "quality domain"); raw is the whole corpus,
# so src1's own documents must surface with high logw — an oracle
# property, not a test assertion.
#
# The CTE chain is shared with q_dsir_resample's oracle (the
# _LM_SCORE_CTES / _mutated_corpus discipline: one source of truth,
# two oracles that cannot silently diverge).
_DSIR_CTES = """toked AS (
  SELECT doc_id, source, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
cg AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS b
  FROM toked, UNNEST(list_concat(
      t,
      CASE WHEN len(t) >= 2
        THEN list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1])
        ELSE []::VARCHAR[] END
  )) AS u(g)
),
tg AS (
  SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS b
  FROM (SELECT t FROM toked WHERE source = 'src1') s, UNNEST(list_concat(
      t,
      CASE WHEN len(t) >= 2
        THEN list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1])
        ELSE []::VARCHAR[] END
  )) AS u(g)
),
raw AS (SELECT b, COUNT(*) AS cr FROM cg GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS ct FROM tg GROUP BY b),
tot AS (SELECT (SELECT SUM(cr) FROM raw) AS tr,
               (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt),
model AS (
  SELECT r.b,
         ln(((COALESCE(g.ct, 0)::DOUBLE + 0.5::DOUBLE)
             * (tot.tr::DOUBLE + 2048.0::DOUBLE))
            / ((r.cr::DOUBLE + 0.5::DOUBLE)
               * (tot.tt::DOUBLE + 2048.0::DOUBLE))) AS lam
  FROM raw r LEFT JOIN tgt g USING (b), tot
),
db AS (
  SELECT doc_id, b, COUNT(*) AS cnt FROM cg GROUP BY doc_id, b
),
lw AS (
  SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_grams,
         CAST(SUM(CAST(m.lam AS DECIMAL(28,6)) * d.cnt) AS DOUBLE) AS logw
  FROM db d JOIN model m USING (b)
  GROUP BY d.doc_id
)"""

_DSIR_WEIGHTS_ORACLE = f"""
WITH {_DSIR_CTES}
SELECT doc_id, n_grams, logw FROM lw
"""


def _staged_q_dsir_weights(spark, sf_dir):
    """X6an (staged for r13): DSIR hashed-ngram importance log-weights
    (operators/sampling.dsir_logweights, Xie et al. NeurIPS'23) —
    the published "select raw data that looks like the target domain"
    primitive of pretraining pipelines.  Target = source 'src1', raw
    = the full corpus; 4096 feature buckets, alpha=0.5, md5_60 gram
    hashing for the exact DuckDB twin (the xxhash64 default is the
    scale path).  Certified output is the raw (doc_id, n_grams,
    logw) triple — ranking/resampling composes downstream."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("text").isNotNull())
    )
    target = docs.filter(F.col("source") == "src1")
    return Smp.dsir_logweights(
        docs.select("doc_id", "text"),
        target.select("doc_id", "text"),
        n_buckets=4096,
        alpha=0.5,
        hash_fn="md5_60",
    )


# Gumbel resampling over the DSIR weights (the "R" in DSIR): the
# oracle extends the SHARED _DSIR_CTES chain, so the weight model
# cannot diverge between the two certified queries; the Gumbel key
# replays the engine exactly — same md5_60-derived uniform, same
# -ln(-ln(u)) perturbation, same DECIMAL(28,6) rounding before the
# (key DESC, doc_id) total order — so parity certifies the SAMPLE
# MEMBERSHIP itself, not a distributional claim.
_DSIR_RESAMPLE_ORACLE = f"""
WITH {_DSIR_CTES},
keyed AS (
  SELECT doc_id, n_grams, logw,
         CAST(CAST(logw / 1.0
                   + (-ln(-ln(((('0x' || substr(md5(doc_id || ':gumbel-v1'), 1, 15))::BIGINT
                                % 1000000)::DOUBLE + 0.5::DOUBLE) / 1000000.0::DOUBLE)))
              AS DECIMAL(28,6)) AS DOUBLE) AS sample_key
  FROM lw
)
SELECT doc_id, n_grams, logw, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
"""


def _staged_q_dsir_resample(spark, sf_dir):
    """X6an resampling half (staged for r13): Gumbel top-k over the
    DSIR log-weights (operators/sampling.gumbel_topk + dsir_logweights
    — Xie et al. NeurIPS'23's actual selection step).  k=100 documents
    sampled without replacement proportionally-ish to exp(logw), via
    the deterministic hash-derived Gumbel race (never rand(): the
    retry-stability rule).  Plan: the DSIR pipeline + one map-only key
    projection + TakeOrderedAndProject — per-partition k-heaps, k-row
    driver merge, no global sort.  The oracle extends _DSIR_CTES with
    the identical key arithmetic, so the certified rows are the exact
    sample membership at both SFs."""
    from real_timetransactionaldatalakehouse_spark.operators import sampling as Smp

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("text").isNotNull())
    )
    lw = Smp.dsir_logweights(
        docs.select("doc_id", "text"),
        docs.filter(F.col("source") == "src1").select("doc_id", "text"),
        n_buckets=4096,
        alpha=0.5,
        hash_fn="md5_60",
    )
    return Smp.gumbel_topk(lw, "logw", 100, seed="gumbel-v1")


# C4 line-level cleaning (r12 EXT addition, staged for r13): the
# synthetic corpus has no newlines or punctuation, so the query
# wrapper deterministically LINES the corpus first (6-token chunks;
# a chunk ends in '.' iff md5_60(doc_id:i:line) % 3 > 0 — so ~1/3 of
# lines fail the terminal-punctuation rule), plants 'lorem ipsum'
# pages at doc_id % 37 = 0 and curly-bracket code pages at
# doc_id % 41 = 0, and the oracle replays the identical lining +
# the filter — certifying BOTH tiers of the C4 rules row-for-row.
#
# The lining CTEs are SHARED with q_dedup_lines' oracle (plain-string
# concatenation, not f-strings — the planted code page contains
# braces); the Spark-side twin is _lined_corpus() below.  One source
# of truth per corpus transform — the _mutated_corpus lesson.
_LINED_CORPUS_CTES = """toked AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
lined AS (
  SELECT doc_id,
     array_to_string(list_transform(generate_series(1, (len(t) + 5) // 6),
        i -> array_to_string(list_slice(t, (i - 1) * 6 + 1, (i - 1) * 6 + 6), ' ')
             || CASE WHEN ('0x' || substr(md5(doc_id || ':' || i || ':line'), 1, 15))::BIGINT % 3 > 0
                THEN '.' ELSE '' END
     ), chr(10))
     || CASE WHEN doc_id % 37 = 0
        THEN chr(10) || 'this page has lorem ipsum inside it okay.' ELSE '' END
     || CASE WHEN doc_id % 41 = 0
        THEN chr(10) || 'var f = function() { return 1; }' ELSE '' END AS text
  FROM toked
)"""


def _lined_corpus(docs):
    """Spark twin of _LINED_CORPUS_CTES: deterministically line a
    (doc_id, text) corpus — 6-token chunks, md5-chosen terminal
    punctuation, planted lorem (doc_id%37=0) and code (doc_id%41=0)
    pages.  Shared by q_c4_line_filter and q_dedup_lines."""
    from real_timetransactionaldatalakehouse_spark.operators.dedup import _md5_60

    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("__t"))
    n_lines = F.floor((F.size("__t") + F.lit(5)) / F.lit(6)).cast("int")

    def mk_line(i):
        start = (i - F.lit(1)) * F.lit(6) + F.lit(1)
        base = F.array_join(F.slice(F.col("__t"), start, F.lit(6)), " ")
        key = F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            i.cast("string"),
            F.lit(":line"),
        )
        punct = F.when(
            F.pmod(_md5_60(key), F.lit(3)) > 0, F.lit(".")
        ).otherwise(F.lit(""))
        return F.concat(base, punct)

    lined = F.array_join(
        F.transform(F.sequence(F.lit(1), n_lines), mk_line), "\n"
    )
    text2 = F.concat(
        lined,
        F.when(
            F.col("doc_id") % 37 == 0,
            F.lit("\nthis page has lorem ipsum inside it okay."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 41 == 0,
            F.lit("\nvar f = function() { return 1; }"),
        ).otherwise(F.lit("")),
    )
    return toked.select("doc_id", text2.alias("text"))


_C4_LINE_FILTER_ORACLE = "WITH " + _LINED_CORPUS_CTES + """,
ls0 AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lined
),
flt AS (
  SELECT doc_id,
         len(ls) AS n_in,
         list_filter(ls, l ->
            substr(l, -1) IN ('.', '!', '?', '"')
            AND len(list_filter(string_split(l, ' '), w -> w != '')) >= 5
            AND NOT contains(lower(l), 'javascript')) AS kl
  FROM ls0
  WHERE NOT contains(lower(text), 'lorem ipsum')
    AND NOT contains(text, '{')
)
SELECT doc_id, array_to_string(kl, chr(10)) AS clean_text,
       CAST(n_in AS BIGINT) AS n_lines_in,
       CAST(len(kl) AS BIGINT) AS n_lines_kept
FROM flt WHERE len(kl) >= 3
"""


def _staged_q_c4_line_filter(spark, sf_dir):
    """X6ao (staged for r13): C4 line-level cleaning
    (operators/text.c4_line_filter, Raffel et al. JMLR'20 section
    2.2) — terminal-punctuation + min-words + javascript line rules,
    lorem-ipsum / curly-bracket / min-surviving-lines page rules,
    row-dropping output.  The corpus is deterministically lined
    (6-token chunks, hash-chosen punctuation) and salted with planted
    lorem/code pages so every rule fires at sf0.01; the oracle
    replays the lining and the filter exactly."""
    from real_timetransactionaldatalakehouse_spark.operators import text as TX

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return TX.c4_line_filter(_lined_corpus(docs)).select(
        "doc_id", "clean_text", "n_lines_in", "n_lines_kept"
    )


# Cross-document line dedup (r12 EXT addition, staged for r13): runs
# on the SAME deterministically-lined corpus as q_c4_line_filter
# (shared _LINED_CORPUS_CTES / _lined_corpus) — the planted lorem and
# code pages are exact cross-document repeated lines, and the short
# unpunctuated tail chunks repeat organically, so both the survivor
# election and the multi-document drop fire at sf0.01.  The oracle's
# first-occurrence key is doc_id * 100000 + pos — equivalent to the
# engine's min(struct(id, pos)) because every page here has far fewer
# than 100000 lines (<= ~20 measured; the engine itself uses the true
# lexicographic struct ordering with no such bound — the
# q_dedup_substring_keepfirst convention).
_DEDUP_LINES_ORACLE = "WITH " + _LINED_CORPUS_CTES + """,
ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined
),
st AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(ls[i]), 1, 15))::BIGINT AS h
  FROM ls, UNNEST(generate_series(1, len(ls))) AS u(i)
),
occ AS (
  SELECT h, COUNT(*) AS n, MIN(doc_id * 100000 + pos) AS first_k
  FROM st GROUP BY h
),
dp AS (
  SELECT s.doc_id, list(s.pos) AS dp
  FROM st s JOIN occ o USING (h)
  WHERE o.n > 1 AND s.doc_id * 100000 + s.pos != o.first_k
  GROUP BY s.doc_id
)
SELECT l.doc_id,
       array_to_string(list_transform(
          list_filter(generate_series(1, len(l.ls)),
                      i -> d.dp IS NULL OR NOT list_contains(d.dp, i - 1)),
          i -> l.ls[i]), chr(10)) AS clean_text,
       CAST(len(l.ls) AS BIGINT) AS n_lines_in,
       CAST(len(list_filter(generate_series(1, len(l.ls)),
                      i -> d.dp IS NULL OR NOT list_contains(d.dp, i - 1)))
            AS BIGINT) AS n_lines_kept
FROM ls l LEFT JOIN dp d USING (doc_id)
"""


def _staged_q_dedup_lines(spark, sf_dir):
    """X6aq (staged for r13): cross-document LINE dedup — the CCNet
    paragraph-hash dedup step (operators/dedup.drop_repeated_lines,
    Wenzek et al. LREC'20 section 4.1; keep="first" spares the global
    minimum (id, pos) occurrence).  Text never shuffles: one keyed
    line-hash count agg with map-side partials (no COUNT window —
    boilerplate hashes are the heavy keys), the survivor election in
    the SAME aggregation, dropped POSITIONS joined back narrow,
    map-side position-filter reconstruction.  The oracle replays the
    hash, the count, the composite-key election, and the rebuild."""
    from real_timetransactionaldatalakehouse_spark.operators import dedup as D

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.catalog.clearCache()
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return D.drop_repeated_lines(
        _lined_corpus(docs), max_occ=1, keep="first", hash_fn="md5_60"
    ).select("doc_id", "clean_text", "n_lines_in", "n_lines_kept")


#: r13 registration queue: name -> (query fn, oracle SQL)
_STAGED_R13 = {
    "q_dedup_substring_keepfirst": (
        _staged_q_dedup_substring_keepfirst,
        _DEDUP_SUBSTRING_KEEPFIRST_ORACLE,
    ),
    "q_decontaminate_bloom": (
        _staged_q_decontaminate_bloom,
        _DECONTAMINATE_BLOOM_ORACLE,
    ),
    "q_perplexity_buckets": (
        _staged_q_perplexity_buckets,
        _PERPLEXITY_BUCKETS_ORACLE,
    ),
    "q_dsir_weights": (
        _staged_q_dsir_weights,
        _DSIR_WEIGHTS_ORACLE,
    ),
    "q_dsir_resample": (
        _staged_q_dsir_resample,
        _DSIR_RESAMPLE_ORACLE,
    ),
    "q_c4_line_filter": (
        _staged_q_c4_line_filter,
        _C4_LINE_FILTER_ORACLE,
    ),
    "q_dedup_lines": (
        _staged_q_dedup_lines,
        _DEDUP_LINES_ORACLE,
    ),
}


# (r12: the _STAGED_R12 queue emptied — both staged queries are now
# registered above and hold the reserved window head slots.  The r13
# queue is _STAGED_R13, defined next to q_dedup_substring.)


# =====================================================================
# Driver contract surface
# =====================================================================

# The driver certifies the FIRST 50 entries of queries() (r1/r2 evidence:
# CORRECTNESS_r0{1,2}.json each hold exactly the first 50 registered names).
# Registration order in this file is didactic (SURVEY section order), so we
# re-rank here.
#
# ROTATION RULE (standing, from VERDICT r5 ask #9): once a round's window
# is fixed (the round's CORRECTNESS_r*.json lands), no new query may enter
# queries() and no certified query's implementation or oracle may change
# UNLESS its name is placed at the head of the NEXT round's _CHECK_FIRST.
# Every name rotating out must already hold a hash-green driver row from a
# past round AND pass the sf0.001+sf0.01 pytest parity sweep.
#
# Round-12 window (VERDICT r11 #1, executed exactly as the r11 ledger
# reserved it).  Head slots 1-2: the two r11-staged queries, newly
# registered this round (q_split_assign_safe, q_dedup_substring — the
# rotation rule's new-query head requirement; both were parity-
# certified at sf0.001+sf0.01 throughout r11 via
# tests/test_oracle_parity.py).  Then the 5 r8 greens at the 4-round
# freshness bound (q_snapshot_diff q_text_tokens_bpe
# q_trending_velocity q_ts_diff q_union_all — they MUST appear this
# round), then the 43 OLDEST of the 45 r9-fresh greens (within an
# equally-aged cohort "oldest" is alphabetical order — the standing
# deterministic tiebreak since the r10 window).
#
# r12 changes to certified queries, all rotation-legal:
#   - q_dedup_passage (r9 cohort, IN this window) migrates its
#     mutant-corpus block to the new _mutated_corpus() helper — a
#     byte-identical plan (pytest parity re-certifies it here).
#   - q_table_stats / q_sorted_write / q_bucket_pruned_lookup
#     (rows-only summaries, r10 cohort) convert from boolean-column
#     to row-dropping form per VERDICT r11 #6; they take the r13
#     head slots reserved below.
#   - Everything else is net-new surface (max_occ cap, keep="first"
#     trim, semantic_dedup validate=) that is opt-in / default-off,
#     with certified defaults pytest-pinned unchanged.
#
# SLOT BUDGET after r12: freshness ledger reads 2 r9 (q_window_rank_stats
# q_zscore_norm — displaced here, bound r13, MUST head r13), 47 r10
# (bound r14; 3 of them — the changed rows-only summaries — MUST also
# head r13 per the rotation rule), 50 r11 (bound r15), 50 r12 + the 3
# changed r10 summaries certified rows-only this round = 152 total.
# r13 window therefore = 2 displaced r9 + the 3 changed r10 summaries
# + the 7 staged new queries (_STAGED_R13 — new names enter at the
# head per the rotation rule) + the 38 oldest unchanged r10 greens;
# 9 youngest r10 slide to r14 (legal: r10's bound is r14).  The
# cascade stays within bounds
# through r15: r14 = remaining r10 + oldest r11, r15 = remaining r11
# + oldest r12.
# The per-round sf0.001+sf0.01 pytest parity sweep remains the
# documented backstop for everything outside the window, and
# tools/parity_sweep.py commits a FULL-registry driver-style artifact
# before each round closes (PARITY_r12.json — generated on the final
# r12 tree, not at mid-round edit time), so every query carries a
# current-round reproducible record regardless of the 50-slot budget.
_CHECK_FIRST: list[str] = [
    # -- the 2 newly registered queries (rotation-rule head slots)
    "q_split_assign_safe",
    "q_dedup_substring",
    # -- the 5 r8 greens at the 4-round freshness bound (MUST appear)
    "q_snapshot_diff",
    "q_text_tokens_bpe",
    "q_trending_velocity",
    "q_ts_diff",
    "q_union_all",
    # -- the 43 oldest r9-fresh greens (alphabetical within the cohort)
    "q_agg_count_distinct",
    "q_agg_pct_threshold",
    "q_agg_ratio_velocity",
    "q_bm25_search",
    "q_collect_set",
    "q_column_profile",
    "q_contamination_report",
    "q_decontaminate",
    "q_decontaminate_ngram",
    "q_dedup_latest",
    "q_dedup_passage",
    "q_embed_neardup",
    "q_embed_neardup_lsh",
    "q_embed_quantize",
    "q_ewma_anomaly",
    "q_ewma_state",
    "q_first_value_ignore_nulls",
    "q_freshness_view",
    "q_json_parse_struct",
    "q_keywords_per_doc",
    "q_knn_ivf",
    "q_knn_lsh",
    "q_knn_topk",
    "q_max_over_partition",
    "q_merge_upsert",
    "q_minmax_scale",
    "q_moving_avg",
    "q_ratio_to_total",
    "q_robust_scale",
    "q_running_total",
    "q_sample_exact_n",
    "q_scan_limit",
    "q_semantic_decontaminate_lsh",
    "q_semdedup",
    "q_session_window_agg",
    "q_silver_view",
    "q_sql_text",
    "q_string_funcs",
    "q_text_entropy",
    "q_union_evolve",
    "q_unpivot",
    "q_window_lead",
    "q_window_range_frame",
]
# r13 rotation queue (reserved now, FULL LIST — derived from
# registry minus the r12/r11 windows, verified 2+3+7+38 = 50):
# head slots in order =
#   2 displaced r9 greens at the bound:
#     q_window_rank_stats q_zscore_norm
#   3 r12-changed rows-only summaries (row-dropping conversion,
#   VERDICT r11 #6):
#     q_table_stats q_sorted_write q_bucket_pruned_lookup
#   7 staged new queries (_STAGED_R13, both-SF parity-certified
#   throughout r12):
#     q_dedup_substring_keepfirst q_decontaminate_bloom
#     q_perplexity_buckets q_dsir_weights q_dsir_resample
#     q_c4_line_filter q_dedup_lines
# then the 38 oldest r10 greens (alphabetical within the cohort):
#     q_agg_binned_heatmap q_agg_conditional_counts q_agg_count_by_key
#     q_agg_global q_agg_max_ts q_agg_percentile q_agg_sketches
#     q_array_explode q_balance_cap q_chunk_documents q_coalesce
#     q_cohort_retention q_corpus_mix q_corpus_pipeline q_cube
#     q_embed_project q_filter_eq q_join_asof q_join_asof_nearest
#     q_join_asof_tolerance q_join_interval q_lm_score
#     q_neardup_clusters q_neardup_cross_corpus q_neardup_free_corpus
#     q_neardup_minhash q_neardup_verified q_resample_fill
#     q_sample_weighted q_scd2_history q_scd2_pointlookup
#     q_search_ranked q_semantic_decontaminate
#     q_semantic_topk_contaminants q_sessionize_lag q_shard_layout
#     q_simhash_neardup q_snapshot_lifecycle
# 9 youngest r10 slide to r14 (legal: r10's bound is r14):
#     q_spike_detect q_split_leakage q_stratified_sample q_text_fingerprint
#     q_text_redact q_text_repetition q_text_winnow q_trend_slope
#     q_vocab_coverage
# Mutant-corpus literal sites owed migration to _mutated_corpus() as
# their queries reach a head slot (r11 review note): of the 5 owed,
# q_neardup_minhash / q_neardup_cross_corpus / q_neardup_verified /
# q_simhash_neardup are IN this r13 window (order them into the head
# block when migrating), q_split_leakage slides to r14.


def _ranked(names: dict[str, object]) -> list[str]:
    first = [n for n in _CHECK_FIRST if n in names]
    rest = [n for n in names if n not in set(_CHECK_FIRST)]
    return first + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in _ranked(_QUERIES)}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _ranked(_ORACLES)}
