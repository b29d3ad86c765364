"""Medallion pipeline composition (SURVEY.md sections 1/3): bronze
append log -> silver enriched+sessionized facts -> gold windowed
metrics / latest-state, as batch functions over DataFrames.

The streaming jobs (``streaming/jobs.py``) call these same functions
inside foreachBatch — the Kappa argument: one operator library, two
execution modes (reference PipelineArchitecture.md:209-213).

The silver layer is the reference's *declared but unimplemented*
capability (DataModel_SchemaDesign.md:39-62, features.todo:29): 30-min
gap sessionization + point-in-time dimension enrichment.  Implemented
here; the declared completion-rate column is not derived.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.joins import asof_join
from ..operators.merge import latest_state
from ..operators.relational import sessionize, tumbling_window_counts


def build_bronze(events: DataFrame) -> DataFrame:
    """Bronze: header columns + raw JSON body untouched, audit stamp —
    schema drift never breaks ingestion (Header+Body pattern,
    reference PipelineArchitecture.md:24).  The streaming bronze
    (``streaming.jobs.bronze_append_stream``) runs it per micro-batch."""
    return events.withColumn("ingested_at", F.current_timestamp())


def build_silver(
    events: DataFrame,
    dim_timeline: DataFrame | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    expectations: dict | None = None,
) -> DataFrame:
    """Silver: sessionized, point-in-time-enriched wide facts
    (reference DataModel_SchemaDesign.md:44-62).

    - session_id: LAG gap > 30 min (W4);
    - as-of enrichment: latest dim state at event time (J5) when a
      keyed timeline (user_col, t_ts, ...) is supplied;
    - date partition column derived from event time (O1);
    - ``expectations``: optional quality rules gating bronze rows into
      silver (map-only; failing rows are DROPPED here — use
      ``quality.quality_gate`` directly when the quarantine side must
      land somewhere).
    """
    if expectations:
        from ..quality import quality_gate

        events, _quarantine = quality_gate(events, expectations)
    silver = sessionize(events, user_col, ts_col)
    silver = silver.withColumn("date", F.col(ts_col).cast("date"))
    if dim_timeline is not None:
        value_cols = [c for c in dim_timeline.columns if c not in (user_col, "t_ts")]
        silver = asof_join(
            silver, dim_timeline, key=user_col, fact_ts=ts_col,
            timeline_ts="t_ts", value_cols=value_cols, fact_tiebreaks=["event_id"],
        )
    return silver


def build_gold_window_stats(
    events: DataFrame, ts_col: str = "ts", entity_col: str = "user_id",
) -> DataFrame:
    """Gold metrics log: 1-minute conditional counts per entity — the
    reference's video_stats_1min (stream_content.py:31-42).  Derived
    metrics (velocity etc.) stay read-side (O18)."""
    return tumbling_window_counts(
        events, ts_col, "1 minute", [entity_col],
        {
            "views": F.col("event_type") == "view",
            "clicks": F.col("event_type") == "click",
            "purchases": F.col("event_type") == "purchase",
            "signups": F.col("event_type") == "signup",
            "errors": F.col("event_type") == "error",
        },
    )


def build_gold_latest_state(
    order_events: DataFrame,
) -> DataFrame:
    """Gold latest-state: one row per key, sparse columns filled from
    the latest non-null event (reference orders_current,
    streaming_job.py:92-155: W2 fill + W1 dedup), as the one
    ``latest_state`` aggregation."""
    fills = [
        c for c in order_events.columns if c not in ("order_id", "event_timestamp")
    ]
    return latest_state(order_events, ["order_id"], "event_timestamp", fills)
