"""Structured Streaming layer (SURVEY.md section 2 A/T): the reference's
three pipelines re-expressed as micro-batch jobs whose foreachBatch
bodies call the *same* batch operator functions — the Kappa-consistency
argument of the reference (PipelineArchitecture.md:209-213).
"""

from .jobs import (
    await_all,
    bronze_append_stream,
    dims_scd1_stream,
    gold_window_agg_stream,
    neardup_ingest_stream,
    time_partition_cols,
)

__all__ = [
    "await_all",
    "bronze_append_stream",
    "gold_window_agg_stream",
    "dims_scd1_stream",
    "neardup_ingest_stream",
    "time_partition_cols",
]
