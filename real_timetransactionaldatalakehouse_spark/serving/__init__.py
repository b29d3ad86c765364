"""Serving layer (SURVEY.md section 3.3): the reference's Trino/BI tier
becomes Spark SQL views over the gold/dim DataFrames — same SQL, one
engine.  Derived metrics (velocity, completion, freshness) are
computed at read time over the 1-minute buckets (read-side sliding
window, reference PipelineArchitecture.md:178-180; O18 no
materialization).

All view SQL takes an explicit ``as_of`` timestamp instead of now()
(SURVEY.md section 7.3 determinism rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def register_gold_views(spark: SparkSession, gold_stats: DataFrame,
                        dim: DataFrame | None = None) -> None:
    gold_stats.createOrReplaceTempView("gold_stats_1min")
    if dim is not None:
        dim.createOrReplaceTempView("dim_entity")


def velocity_view(spark: SparkSession, as_of: str) -> DataFrame:
    """Read-side sliding rollup over 1-min buckets (reference
    Dashboard.md:45): weighted engagement per impression."""
    return spark.sql(f"""
        SELECT user_id,
               CAST(SUM(clicks) * 5 + SUM(purchases) * 10 AS DOUBLE)
                 / CAST(NULLIF(SUM(views), 0) AS DOUBLE) AS velocity
        FROM gold_stats_1min
        WHERE window_start >= TIMESTAMP '{as_of}' - INTERVAL 30 MINUTES
          AND window_start < TIMESTAMP '{as_of}'
        GROUP BY user_id
    """)


def trending_view(spark: SparkSession, as_of: str) -> DataFrame:
    """Top-k by engagement with dim enrichment (reference Dashboard.md:48)."""
    return spark.sql(f"""
        WITH m AS (
          SELECT user_id, SUM(clicks) AS clicks, SUM(views) AS views,
                 SUM(purchases) AS purchases
          FROM gold_stats_1min
          WHERE window_start >= TIMESTAMP '{as_of}' - INTERVAL 60 MINUTES
            AND window_start < TIMESTAMP '{as_of}'
          GROUP BY user_id
        )
        SELECT /*+ BROADCAST(d) */ m.*, d.c_mktsegment
        FROM m LEFT JOIN dim_entity d ON m.user_id = d.user_id
        ORDER BY clicks DESC, user_id ASC
        LIMIT 50
    """)


def doomscroll_view(spark: SparkSession, as_of: str) -> DataFrame:
    """Global doomscroll-rate line (reference Dashboard.md:46): per
    1-min bin, Sum(skips)/Sum(impressions) — the boredom proxy; here
    the corpus's ``errors`` counter stands in for skips and ``views``
    for impressions.  One partial-final aggregation over the gold log
    with the time filter pruning partitions; the alert flag reproduces
    the dashboard's >40% SRE threshold."""
    return spark.sql(f"""
        SELECT window_start,
               CAST(SUM(errors) AS DOUBLE)
                 / CAST(NULLIF(SUM(views), 0) AS DOUBLE) AS doomscroll_rate,
               COALESCE(
                 CAST(SUM(errors) AS DOUBLE)
                   / CAST(NULLIF(SUM(views), 0) AS DOUBLE)
                   > 0.4,
                 FALSE) AS alert  -- a bin with no impressions never pages
        FROM gold_stats_1min
        WHERE window_start >= TIMESTAMP '{as_of}' - INTERVAL 30 MINUTES
          AND window_start < TIMESTAMP '{as_of}'
        GROUP BY window_start
        ORDER BY window_start
    """)


def cold_start_view(spark: SparkSession, as_of: str) -> DataFrame:
    """High-quality cold-start gauge (reference Dashboard.md:47): the
    share of NEW entities (first gold activity within 60 minutes of
    ``as_of``) whose engagement velocity clears 0.05 — supply health
    for new creators.  First-seen comes from a MIN over the entity's gold rows (one agg), velocity from the same
    rollup the velocity view uses; banded at the dashboard's 20%/10%
    gauge thresholds."""
    return spark.sql(f"""
        WITH seen AS (
          SELECT user_id, MIN(window_start) AS first_seen,
                 CAST(SUM(clicks) * 5 + SUM(purchases) * 10 AS DOUBLE)
                   / CAST(NULLIF(SUM(views), 0) AS DOUBLE) AS velocity
          FROM gold_stats_1min
          WHERE window_start < TIMESTAMP '{as_of}'
          GROUP BY user_id
        ), new_entities AS (
          SELECT * FROM seen
          WHERE first_seen >= TIMESTAMP '{as_of}' - INTERVAL 60 MINUTES
        )
        SELECT COUNT(*) AS n_new,
               AVG(CASE WHEN velocity > 0.05 THEN 1.0 ELSE 0.0 END)
                 AS pct_quality,
               CASE
                 WHEN AVG(CASE WHEN velocity > 0.05 THEN 1.0 ELSE 0.0 END) > 0.20
                   THEN 'green'
                 WHEN AVG(CASE WHEN velocity > 0.05 THEN 1.0 ELSE 0.0 END) >= 0.10
                   THEN 'yellow'
                 ELSE 'red'
               END AS band
        FROM new_entities
    """)


def spike_view(
    spark: SparkSession,
    as_of: str,
) -> DataFrame:
    """Viral-spike alert band (the read-side twin of
    operators/relational.spike_detect, validating the reference's
    "Supernova" chaos scenario from the dashboard side,
    design_doc/MockEventGenerator.md:156-163): each entity's view rate
    over the last 10 minutes against its per-minute baseline over the
    preceding 60, flagged above 3x.  Two aggregations over the same gold scan (the
    CASE-split runs inside one partial+final agg); entities with no
    baseline are omitted (a brand-new entity alerts through the
    cold-start gauge instead)."""
    return spark.sql(f"""
        WITH w AS (
          SELECT user_id,
                 SUM(CASE WHEN window_start
                            >= TIMESTAMP '{as_of}' - INTERVAL 10 MINUTES
                          THEN views ELSE 0 END) AS recent_views,
                 SUM(CASE WHEN window_start
                            < TIMESTAMP '{as_of}' - INTERVAL 10 MINUTES
                          THEN views ELSE 0 END) AS base_views
          FROM gold_stats_1min
          WHERE window_start >= TIMESTAMP '{as_of}'
                  - INTERVAL 70 MINUTES
            AND window_start < TIMESTAMP '{as_of}'
          GROUP BY user_id
        )
        SELECT user_id,
               CAST(recent_views AS DOUBLE) / 10 AS recent_rate,
               CAST(base_views AS DOUBLE) / 60 AS base_rate,
               CAST(recent_views AS DOUBLE) * 60
                 / (CAST(base_views AS DOUBLE) * 10) AS spike_ratio,
               CAST(recent_views AS DOUBLE) * 60
                 / (CAST(base_views AS DOUBLE) * 10)
                 > 3.0 AS is_spike
        FROM w
        WHERE base_views > 0
        ORDER BY spike_ratio DESC, user_id ASC
    """)


def freshness_view(spark: SparkSession, as_of: str) -> DataFrame:
    """Freshness lag gauge (reference lakehouse_monitor.json:181)."""
    return spark.sql(f"""
        SELECT CAST(date_trunc('second', TIMESTAMP '{as_of}') AS LONG)
               - CAST(date_trunc('second', MAX(window_start)) AS LONG) AS lag_s
        FROM gold_stats_1min
    """)


#: Alert thresholds from the reference's Grafana gauge bands
#: (lakehouse_monitor.json:134-150,181; Dashboard.md:83-97):
#: green below 30 s of lag, yellow 30-60 s, red at 60 s and beyond.
FRESHNESS_GREEN_S = 30
FRESHNESS_RED_S = 60


def freshness_alert_view(
    spark: SparkSession,
    as_of: str,
    tables: dict[str, tuple[DataFrame, str]],
) -> DataFrame:
    """Per-table freshness lag + alert band — the reference's dashboard
    alert row (``lakehouse_monitor.json:134-150``) as a declared
    read-side surface.

    ``tables`` maps a display name to ``(df, ts_col)`` — e.g. gold on
    ``window_start`` and bronze on its ingest timestamp.  Each table
    contributes one row: ``(table, lag_s, band)`` where band is
    green (< 30 s), yellow (30-60 s) or red (>= 60 s, the page-someone
    threshold).  Each input is a single MAX aggregation — partial agg
    map-side, one row shuffled per table, any scale.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    if not tables:
        raise ValueError("tables must be non-empty: {name: (df, ts_col)}")
    outs = []
    for name, (df, ts_col) in tables.items():
        lag = (
            F.lit(as_of).cast("timestamp").cast("long")
            - F.date_trunc("second", F.max(F.col(ts_col))).cast("long")
        )
        outs.append(
            df.agg(lag.alias("lag_s")).select(
                F.lit(name).alias("table"),
                F.col("lag_s"),
                F.when(F.col("lag_s") < FRESHNESS_GREEN_S, F.lit("green"))
                .when(F.col("lag_s") < FRESHNESS_RED_S, F.lit("yellow"))
                .otherwise(F.lit("red"))
                .alias("band"),
            )
        )
    return reduce(DataFrame.unionAll, outs)


def bucket_pruned_lookup(
    df: DataFrame,
    key_col: str,
    key_value,
    n_buckets: int = 16,
) -> DataFrame:
    """Point lookup on a hash-bucketed table that PRUNES to the key's
    bucket (reference ``bucket(16, video_id)``, ``stream_content.py:41``).

    The bucket id is the same ``pmod(xxhash64(key), n)`` expression the
    gold writer used; over a literal key it constant-folds, so the
    bucket predicate reaches the file index as a partition filter and
    the scan touches 1/``n_buckets`` of the files (times the date
    partitions in range).  The residual key equality still applies —
    bucket membership is necessary, not sufficient.

    The literal is cast to the key column's type BEFORE hashing:
    xxhash64 is type-sensitive (hashing an int32 literal against an
    int64-hashed bucket column would silently probe the wrong bucket).
    """
    from pyspark.sql import functions as F

    key = F.lit(key_value).cast(dict(df.dtypes)[key_col])
    bucket = F.pmod(F.xxhash64(key), F.lit(n_buckets))
    return df.filter((F.col("p_bucket") == bucket) & (F.col(key_col) == key))
