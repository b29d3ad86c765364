"""MERGE upsert as a format-agnostic DataFrame algorithm (SURVEY.md
section 2 J1/J2/J6).

The reference MERGEs via Iceberg merge-on-read SQL
(``streaming_job.py:92-155``, ``stream_dims.py:65-92,113-141``).  With
no table-format jars in this environment, MERGE semantics are a plain
join+coalesce plan:

    updates  -> dedup-latest per key within the batch (T7)
    matched  -> full-outer join target<->updates
    columns  -> per-column coalesce (update wins; null update keeps old)

which is exactly what a MoR engine materializes at read time.  The
output commits through ``tablefmt`` (a full snapshot, or a merge-on-
read delta restricted to the touched keys).

Scale: one shuffle on the merge key for the join; batch-scoped dedup
shrinks the shuffled update side first (reference rationale
PipelineArchitecture.md:168).  Idempotent: re-applying the same batch
is a no-op (SURVEY.md section 5.3 invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import dedup_latest


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
    tiebreak_cols: list[str] | None = None,
    update_cols: list[str] | None = None,
) -> DataFrame:
    """Generic SCD1 MERGE: latest update per key wins; unmatched keys
    insert; update nulls fall back to target values (the reference's
    column-wise ``coalesce(source.x, target.x)``,
    ``streaming_job.py:141-144``).

    ``update_cols`` restricts which columns an update may touch
    (reference SCD1 touches only segment/status columns,
    ``stream_dims.py:83-86``); others keep target values for matched
    rows.
    """
    if order_col is not None:
        updates = dedup_latest(updates, key_cols, order_col, tiebreak_cols)

    data_cols = [c for c in target.columns if c not in key_cols]
    updatable = set(update_cols) if update_cols is not None else set(data_cols)

    # explicit presence markers: "this key exists on the target side"
    # must NOT be inferred from a data column being null — a matched row
    # whose protected column is legitimately NULL is not an insert.
    t = target.select(
        *key_cols,
        *[F.col(c).alias(f"__t_{c}") for c in data_cols],
        F.lit(1).alias("__has_target"),
    )
    u = updates.select(
        *key_cols,
        *[F.col(c).alias(f"__u_{c}") for c in data_cols if c in updates.columns],
    )
    joined = t.join(u, on=key_cols, how="full_outer")
    is_insert = F.col("__has_target").isNull()

    out_cols = [F.col(k) for k in key_cols]
    for c in data_cols:
        u_col = f"__u_{c}"
        if c in updatable and u_col in joined.columns:
            out_cols.append(F.coalesce(F.col(u_col), F.col(f"__t_{c}")).alias(c))
        else:
            # matched rows keep target; pure inserts take the update value
            if u_col in joined.columns:
                out_cols.append(
                    F.when(is_insert, F.col(u_col)).otherwise(F.col(f"__t_{c}")).alias(c)
                )
            else:
                out_cols.append(F.col(f"__t_{c}").alias(c))
    return joined.select(*out_cols)


def latest_state(events: DataFrame, key_cols: list[str], order_col: str,
                 fill_cols: list[str], tiebreak_cols: list[str] | None = None) -> DataFrame:
    """The reference's orders gold pattern (``streaming_job.py:95-135``):
    collapse an event log to one row per key — latest row wins, sparse
    columns filled from the latest non-null occurrence (W2 + W1)."""
    from .relational import latest_non_null

    filled = latest_non_null(events, key_cols, order_col, fill_cols, tiebreak_cols)
    return dedup_latest(filled, key_cols, order_col, tiebreak_cols)


def scd2_from_changes(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    drop_unchanged: list[str] | None = None,
) -> DataFrame:
    """SCD Type-2 dimension history from a change stream: each (key,
    ts) change row becomes a validity interval ``[effective_from,
    effective_to)`` with ``is_current`` on the open row — the standard
    slowly-changing-dimension layout the reference's SCD1 stream
    (``stream_dims.py``, latest-state only) cannot answer "what was
    the value at time t" queries with.  Point-in-time lookups then run
    through :func:`~..joins.asof_join` (one keyed shuffle) or
    :func:`~..joins.interval_join` on the validity range.

    ``effective_to = lead(ts)`` per key: ONE window over the key
    partition — one shuffle, state bounded by a key's change count,
    any number of keys.  ``drop_unchanged`` lists the tracked attribute
    columns; consecutive rows whose tracked values are all unchanged
    are collapsed first (no zero-length version churn from upstream
    duplicate emissions) via a lag-compare in the same window order —
    Catalyst reuses the single sort+exchange for both windows.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    out = changes
    if drop_unchanged:
        # a key's FIRST row has no predecessor, and eqNullSafe never
        # returns NULL — so when every drop_unchanged column is NULL,
        # first-row lag comparisons were all TRUE and the initial
        # version was silently dropped (no version covering
        # [t1, next)).  Guard on predecessor EXISTENCE explicitly; the
        # old coalesce(same, False) could never fire (r9 review fix).
        same = F.lag(F.lit(1)).over(w).isNotNull()
        for c in drop_unchanged:
            same = same & F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
        out = out.withColumn("__dup", same).filter(
            ~F.col("__dup")
        ).drop("__dup")
    return (
        out.withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead(F.col(ts_col)).over(w))
        .withColumn("is_current", F.col("effective_to").isNull())
    )
