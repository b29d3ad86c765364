"""Joins (SURVEY.md section 2 C): star-schema enrichment, broadcast
strategy, semi/anti, and the point-in-time (as-of) join the reference
declares for its Silver layer.

Scale notes (100 TB):
- dimension enrichment broadcasts the dim side (reference
  Dashboard.md:57) — no shuffle of the fact table;
- as-of join avoids the naive range-join blowup by unioning the two
  keyed timelines and taking a running last-non-null — one shuffle on
  the entity key, state bounded by dim cardinality, the standard
  scalable formulation;
- semi/anti compile to broadcast/shuffled hash joins under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _gen(name: str):
    """Reference an engine-GENERATED column by its literal name.

    Generated names embed caller column names (``__f_{c}``,
    ``__v_{c}``...), so a user column containing a dot would make a
    bare ``F.col`` parse the reference as nested-field access and fail
    resolution.  Backticks pin the literal name; caller-supplied
    references stay bare ``F.col(c)`` so intentional nested paths keep
    working (r9 ADVICE: asof_join_nearest broke on dotted value
    columns)."""
    return F.col("`" + name + "`")


def enrich_left(fact: DataFrame, dim: DataFrame, on: list[str] | str) -> DataFrame:
    """J3/J4: read-time LEFT JOIN enrichment (reference Dashboard.md:48)
    with the dim side broadcast (Dashboard.md:57)."""
    return fact.join(F.broadcast(dim), on=on, how="left")


def join_semi(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """EXISTS semantics (implied by MERGE matching, SURVEY.md section 2 C).

    The right side collapses to its DISTINCT join keys, broadcast —
    the plan when the key set is dimension/delta-sized (a MERGE
    source's keys, a dedup drop list): the left side never shuffles.
    Measured at the 50x replica (375k distinct keys vs a 3.75M-row
    probe side): shuffle-semi 2.38 s, shuffle-semi + runtime bloom
    2.65 s (total key overlap — the filter prunes nothing and pays its
    build), broadcast-keys 0.93 s."""
    keys = [on] if isinstance(on, str) else list(on)
    right = F.broadcast(right.select(*keys).distinct())
    return left.join(right, on=on, how="left_semi")


def join_anti(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """J2: NOT EXISTS — the `WHEN NOT MATCHED THEN INSERT` half of MERGE
    (reference ``streaming_job.py:148-154``)."""
    return left.join(right, on=on, how="left_anti")


def asof_join(
    fact: DataFrame,
    timeline: DataFrame,
    key: str,
    fact_ts: str,
    timeline_ts: str,
    value_cols: list[str],
    fact_tiebreaks: list[str] | None = None,
    dedup_keep_max: bool = False,
    tolerance_s: int | None = None,
) -> DataFrame:
    """J5: point-in-time enrichment — each fact row gets the latest
    timeline values with ``timeline_ts <= fact_ts`` (reference Silver
    design: "user's segment *at that moment*",
    DataModel_SchemaDesign.md:48, declared unimplemented).

    Implementation: union the two keyed streams ordered by time with
    timeline rows sorting *before* fact rows at equal timestamps, then
    ``last(value, ignorenulls=True)`` over an unbounded-preceding
    running frame.  One shuffle on ``key``; no range-join explosion —
    this is the formulation that survives 100 TB facts x mutable dims.

    ``timeline`` must be unique per (key, timeline_ts) — unless
    ``dedup_keep_max`` is set, which admits duplicate (key, ts)
    timeline rows and resolves each group to its MAX value by adding
    the (single, non-null) value column to the window's tie-sort: the
    running ``last`` then lands on the max row of the newest timestamp.
    That folds the ``GROUP BY key, ts -> MAX(value)`` pre-aggregation
    the caller would otherwise run — one whole shuffle+agg stage less.

    ``tolerance_s`` bounds match staleness (pandas ``merge_asof``
    tolerance): a fact row whose matched timeline timestamp is more
    than ``tolerance_s`` seconds behind it gets NULL values instead of
    an arbitrarily old state — the matched timestamp rides the same
    running-last frame, so the bound costs one extra window column,
    not a second join.

    ``value_cols`` are LITERAL timeline column names (dots allowed —
    resolved via backticks/getField, never re-parsed as nested paths);
    select/alias a nested field first if that is what you mean.
    """
    if dedup_keep_max and len(value_cols) != 1:
        raise ValueError(
            "dedup_keep_max resolves ties by sorting on the value column; "
            "with several value columns that lexicographic order is not "
            "the per-column MAX — pre-aggregate the timeline instead"
        )
    f_cols = [c for c in fact.columns]
    t = timeline.select(
        F.col(key),
        F.col(timeline_ts).alias("__ts"),
        F.lit(0).alias("__side"),  # timeline first at ties (<=)
        *[_gen(c).alias(c) for c in value_cols],
        *[F.lit(None).cast(fact.schema[c].dataType).alias(f"__f_{c}") for c in f_cols],
    )
    fct = fact.select(
        F.col(key),
        F.col(fact_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(timeline.schema[c].dataType).alias(c) for c in value_cols],
        *[_gen(c).alias(f"__f_{c}") for c in f_cols],
    )
    order = (
        [F.col("__ts").asc(), F.col("__side").asc()]
        + ([_gen(value_cols[0]).asc()] if dedup_keep_max else [])
        + [_gen(f"__f_{c}").asc_nulls_first() for c in (fact_tiebreaks or [])]
    )
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = t.unionByName(fct)
    extra = []
    if tolerance_s is not None:
        # staleness is PER VALUE COLUMN, clocked from the last row
        # whose value was NON-NULL: ``last(value, ignorenulls)`` skips
        # null-valued timeline rows, so clocking from the last row of
        # ANY kind let a null-valued row refresh the clock while the
        # emitted value stayed arbitrarily stale (r9 review fix).
        # Same frame, one extra window column per value column.
        extra.extend(
            F.last(
                F.when((F.col("__side") == 0) & _gen(c).isNotNull(),
                       F.col("__ts")),
                ignorenulls=True,
            ).over(w).alias(f"__m_ts_{c}")
            for c in value_cols
        )
    filled = unioned.select(
        "*",
        *[F.last(_gen(c), ignorenulls=True).over(w).alias(f"__v_{c}") for c in value_cols],
        *extra,
    )
    if tolerance_s is not None:
        vals = [
            F.when(
                (F.col("__ts").cast("double")
                 - _gen(f"__m_ts_{c}").cast("double")) <= float(tolerance_s),
                _gen(f"__v_{c}"),
            ).alias(c)
            for c in value_cols
        ]
    else:
        vals = [_gen(f"__v_{c}").alias(c) for c in value_cols]
    out = filled.filter(F.col("__side") == 1).select(
        *[_gen(f"__f_{c}").alias(c) for c in f_cols], *vals
    )
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Range (interval) join: each point row matches every interval row
    with ``start <= ts < end`` — the shape behind event-to-session and
    reading-to-maintenance-window attribution queries.

    Spark plans a raw non-equi join as BroadcastNestedLoop (or a
    cartesian) — quadratic work the moment neither side fits in a
    broadcast.  The scale formulation BUCKETIZES time: each interval
    explodes to one row per 600-second bucket it overlaps
    (``sequence(floor(start), floor(end))``), each point maps to its
    single bucket, and the join becomes an EQUI-join on the bucket id
    that Catalyst executes as a hash join; the exact ``start <= ts <
    end`` predicate re-filters inside matched buckets.  Work scales
    with overlap density, not |points| x |intervals|.

    The bucket width should sit near the typical interval length:
    much smaller multiplies the interval-side explode; much larger
    multiplies the per-bucket candidate fan-in.  Degenerate long
    intervals (an interval spanning 10^4 buckets) belong in a separate
    broadcast pass — split by ``(end - start)`` first if the workload
    has them.
    """
    p_bucket = F.floor(F.col(ts_col).cast("double") / 600)
    i_buckets = F.sequence(
        F.floor(F.col(start_col).cast("double") / 600),
        F.floor(F.col(end_col).cast("double") / 600),
    )
    pts = points.withColumn("__bucket", p_bucket)
    ivs = intervals.withColumn("__bucket", F.explode(i_buckets))
    in_range = (F.col(start_col) <= F.col(ts_col)) & (
        F.col(ts_col) < F.col(end_col)
    )
    return pts.join(ivs, "__bucket").filter(in_range).drop("__bucket")


def asof_join_nearest(
    fact: DataFrame,
    timeline: DataFrame,
    key: str,
    fact_ts: str,
    timeline_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join, NEAREST direction (pandas ``merge_asof``
    direction='nearest'): each fact row takes the timeline row closest
    in time, before OR after — sensor fusion / readings alignment,
    where "latest before" is wrong near the start of a series.
    Exact-timestamp matches resolve backward; forward/backward
    distance ties also resolve backward (deterministic).

    Same union-the-timelines shape as :func:`asof_join`, but BOTH
    directions come from ONE sorted window pass: the backward value is
    ``last(v) IGNORE NULLS`` over the preceding frame, the forward
    value ``first(v) IGNORE NULLS`` over the following frame —
    Catalyst evaluates both frames on a single sort + exchange keyed
    by ``key``; no second join, no range explosion.
    """
    f_cols = [c for c in fact.columns]
    t = timeline.select(
        F.col(key),
        F.col(timeline_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[_gen(c).alias(c) for c in value_cols],
        *[F.lit(None).cast(fact.schema[c].dataType).alias(f"__f_{c}") for c in f_cols],
    )
    fct = fact.select(
        F.col(key),
        F.col(fact_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(timeline.schema[c].dataType).alias(c) for c in value_cols],
        *[_gen(c).alias(f"__f_{c}") for c in f_cols],
    )
    order = [F.col("__ts").asc(), F.col("__side").asc()] + [
        _gen(f"__f_{c}").asc_nulls_first() for c in ["event_id"]
    ]
    base = Window.partitionBy(key).orderBy(*order)
    wb = base.rowsBetween(Window.unboundedPreceding, 0)
    wf = base.rowsBetween(0, Window.unboundedFollowing)
    # carry each timeline ROW as one struct (ts + all values): the
    # running last/first then yields the nearest ROW VERBATIM, nulls
    # included.  Per-column ignorenulls window fills could source a
    # value from a row OTHER than the one that won the distance
    # contest — and with several value_cols even mix rows within one
    # output row (r9 review fix).  Bonus: 2 window columns instead of
    # 2 * (len(value_cols) + 1).
    vstruct = F.when(
        F.col("__side") == 0,
        F.struct(F.col("__ts").alias("__vts"),
                 *[_gen(c).alias(c) for c in value_cols]),
    )
    unioned = t.unionByName(fct)
    filled = unioned.select(
        "*",
        F.last(vstruct, ignorenulls=True).over(wb).alias("__b"),
        F.first(vstruct, ignorenulls=True).over(wf).alias("__n"),
    )
    ts_d = F.col("__ts").cast("double")
    b_gap = ts_d - F.col("__b").getField("__vts").cast("double")
    f_gap = F.col("__n").getField("__vts").cast("double") - ts_d
    use_fwd = F.col("__b").isNull() | (
        F.col("__n").isNotNull() & (f_gap < b_gap)
    )
    # getField, not a dotted F.col path: a value column named "px.usd"
    # must read the struct FIELD of that literal name (r9 ADVICE)
    vals = [
        F.when(use_fwd, F.col("__n").getField(c))
        .otherwise(F.col("__b").getField(c)).alias(c)
        for c in value_cols
    ]
    return filled.filter(F.col("__side") == 1).select(
        *[_gen(f"__f_{c}").alias(c) for c in f_cols], *vals
    )
