"""MERGE upsert and latest state as format-agnostic DataFrame
algorithms (SURVEY.md section 2 J1/J2/J6, W1/W2).

The reference MERGEs via Iceberg merge-on-read SQL
(``streaming_job.py:92-155``, ``stream_dims.py:65-92,113-141``).  With
no table-format jars in this environment, MERGE semantics are a plain
join+coalesce plan:

    updates  -> keep-latest per key within the batch (T7,
                ``relational.dedup_latest``)
    matched  -> full-outer join target<->updates
    columns  -> per-column coalesce (update wins; null update keeps old)

which is exactly what a MoR engine materializes at read time.  The
output commits through ``tablefmt`` (a full snapshot, or a merge-on-
read delta restricted to the touched keys).

:func:`latest_state` is the same keep-latest aggregation plus a
latest-non-null fill (the reference's ``orders_current``).

Scale: one shuffle on the merge key for the join; batch-scoped dedup
shrinks the shuffled update side first (reference rationale
PipelineArchitecture.md:168).  Idempotent: re-applying the same batch
is a no-op (SURVEY.md section 5.3 invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import _gen
from .relational import dedup_latest


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Generic SCD1 MERGE: latest update per key wins; unmatched keys
    insert; update nulls fall back to target values (the reference's
    column-wise ``coalesce(source.x, target.x)``,
    ``streaming_job.py:141-144``).  A column the updates lack keeps
    its target value.

    With ``order_col``, two different updates of one key at the same
    ``order_col`` value are ordered by the remaining update columns,
    in column order, so the winner does not depend on the input order
    and re-applying a batch is a no-op.
    """
    if order_col is not None:
        updates = dedup_latest(
            updates, key_cols, order_col,
            [c for c in updates.columns if c not in key_cols and c != order_col],
        )

    data_cols = [c for c in target.columns if c not in key_cols]
    t = target.select(
        *key_cols,
        *[F.col(c).alias(f"__t_{c}") for c in data_cols],
    )
    u = updates.select(
        *key_cols,
        *[F.col(c).alias(f"__u_{c}") for c in data_cols if c in updates.columns],
    )
    joined = t.join(u, on=key_cols, how="full_outer")
    out_cols = [F.col(k) for k in key_cols]
    for c in data_cols:
        u_col = f"__u_{c}"
        if u_col in joined.columns:
            out_cols.append(F.coalesce(F.col(u_col), F.col(f"__t_{c}")).alias(c))
        else:
            out_cols.append(F.col(f"__t_{c}").alias(c))
    return joined.select(*out_cols)


def latest_state(events: DataFrame, key_cols: list[str], order_col: str,
                 fill_cols: list[str], tiebreak_cols: list[str] | None = None) -> DataFrame:
    """The reference's orders gold pattern (``streaming_job.py:95-135``):
    one row per key, each ``fill_cols`` column holding its latest
    non-null value (``first_value IGNORE NULLS`` ordered by
    ``(order_col, *tiebreak_cols)`` DESC), the rest from the latest row.

    One ``groupBy(keys)`` aggregation, partial+final like
    :func:`dedup_latest`: a fill column is ``max_by(c, when(c IS NOT
    NULL, order))`` (``max_by`` skips NULL orderings: IGNORE NULLS);
    the other columns share one ``max_by(struct(...), order)``, so
    they come from one row.  Output columns keep the input order."""
    order = F.struct(F.col(order_col), *[F.col(c) for c in tiebreak_cols or []])
    fills = {c: f"__fill{i}" for i, c in enumerate(fill_cols)}
    rest = [c for c in events.columns if c not in fills]
    picked = events.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[_gen(c) for c in rest]), order).alias("__row"),
        *[F.max_by(_gen(c), F.when(_gen(c).isNotNull(), order)).alias(a)
          for c, a in fills.items()],
    )
    return picked.select(*[
        (F.col(fills[c]) if c in fills else F.col("__row").getField(c)).alias(c)
        for c in events.columns
    ])


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
