"""Custom stateful streaming operators (T-family EXT): per-key state
that Spark's built-in streaming aggregations cannot express —
order-sensitive folds like an exponentially-weighted moving average,
where each event's contribution depends on everything seen before it.

Built on ``applyInPandasWithState``: state lives in the state store
(checkpointed, exactly-once under replay), arrives and leaves the
Python worker as Arrow batches, and is BOUNDED by an event-time
timeout when a watermark is set — at 100 TB of keys the idle ones
expire instead of accumulating forever.  This is the escape hatch the
engine reserves for genuinely stateful semantics; everything
expressible as a built-in windowed aggregation stays in
``streaming/jobs.py`` on the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def ewma_by_key(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    tiebreak_col: str | None = None,
    watermark: str | None = None,
):
    """Per-key streaming EWMA: ``ew = alpha * v + (1 - alpha) * ew``
    folded over events in (ts, tiebreak) order, with the running state
    carried ACROSS micro-batches in the state store.

    Emits one row per key per micro-batch the key appears in:
    ``(key, n_events, ewma, last_ts_s)`` — monotonically increasing
    ``n_events`` makes "latest emission per key" well-defined for
    readers.  Within a batch, rows are sorted by (ts, tiebreak, value)
    — value last and NULLs FIRST, matching the batch oracle's
    ``array_sort`` struct order on tied timestamps (Spark compares a
    NULL struct field before any value; genuine NaN doubles are the
    one residual gap — supply a unique tiebreak there) — before
    folding so the result is independent of Arrow batch boundaries;
    across batches the source must deliver time-ordered chunks (true
    for the bronze replay and any log-ordered source) for the fold to
    equal the batch computation — the deterministic-replay test pins
    exactly that.

    With ``watermark`` set, idle keys time out at the event-time
    watermark and their state is removed — state size tracks ACTIVE
    keys, not ever-seen keys.
    """
    import pandas as pd  # noqa: F401 (worker-side)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType([
        # key type derives from the stream schema — hardcoding LongType
        # broke every non-long key at the Arrow boundary (r9 review fix)
        StructField(key_col, stream_df.schema[key_col].dataType),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
        StructField("last_ts_s", LongType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("ew", DoubleType()),
        StructField("last_s", LongType()),
    ])
    # value joins the sort keys so tied (ts, tiebreak) rows fold in the
    # SAME order as the oracle's array_sort over struct(ts, tiebreak, v)
    # — pandas' stable sort otherwise kept arrival order on ties and
    # broke the bit-exact replay contract (r9 review fix).
    # na_position="first": Spark's struct comparison orders a NULL
    # field FIRST ascending, pandas puts NaN LAST by default — a NULL
    # value (or tiebreak) tied on the remaining keys would otherwise
    # fold in a different order than the oracle (r9 ADVICE).  A
    # genuine (non-null) NaN double is the one residual divergence:
    # Arrow hands pandas the same NaN for both, while Spark sorts NaN
    # greater-than-everything — use a unique tiebreak if the stream
    # can carry real NaNs.
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else []) + [value_col]

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
            yield  # pragma: no cover - makes this a generator

        (k,) = key
        n, ew, last_s = state.get if state.exists else (0, None, 0)
        batch = pd.concat(list(pdfs)).sort_values(order, na_position="first")
        # columnar extraction instead of iterrows (r9 review fix:
        # iterrows builds a Series per row, ~10-100x slower)
        vs = batch[value_col].astype("float64").to_numpy()
        ts_s = (batch[ts_col].astype("datetime64[ns]").to_numpy()
                .astype("int64") // 1_000_000_000)
        for v, t_s in zip(vs.tolist(), ts_s.tolist()):
            # NULL value arrives as NaN; the batch oracle's fold turns
            # the accumulator NULL there (alpha*NULL + ... = NULL) and
            # restarts at the next non-null — mirror that exactly
            # instead of NaN-poisoning the state forever (r9 review fix)
            if v != v:  # NaN
                ew = None
            else:
                ew = v if ew is None else alpha * v + (1.0 - alpha) * ew
            n += 1
            last_s = int(t_s)
        state.update((n, ew, last_s))
        if watermark is not None:
            # Expire once the event-time watermark passes the last event.
            # The timeout must be STRICTLY above the current watermark:
            # last_s truncates to whole seconds, so an event that passed
            # the late-data filter can still truncate below the watermark
            # (e.g. watermark 100500 ms, event 100600 ms -> 100000 ms), and
            # setTimeoutTimestamp throws for timestamps <= watermark,
            # killing the query.  Round the event second UP and clamp to
            # watermark + 1 ms.
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max((last_s + 1) * 1000, wm_ms + 1))
        yield pd.DataFrame(
            [{key_col: k, "n_events": n, "ewma": ew, "last_ts_s": last_s}]
        )

    src = stream_df
    timeout = GroupStateTimeout.NoTimeout
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        src.groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def ewma_batch_oracle(df: DataFrame, key_col: str, ts_col: str,
                      value_col: str) -> DataFrame:
    """Batch twin of :func:`ewma_by_key`'s FINAL state: fold the
    time-ordered per-key value sequence with ``aggregate`` — pure
    built-in expressions, one shuffle on the key.  Used by the
    multi-batch deterministic-replay test
    (``test_ewma_stream_multibatch_replay_equals_batch_oracle``) and
    the oracle-checked declared query ``q_ewma_state`` (DuckDB
    ``list_reduce`` replicates the identical left-to-right double
    fold, so the hash compare is bit-exact)."""
    # Order via the struct sort alone (r6): ``array_sort`` on
    # struct(ts, event_id, v) IS the (ts, event_id) ordering, since the
    # event id makes rows unique — the previous row_number window only
    # re-derived a rank the sort then re-sorted by, paying a full
    # per-key sort stage twice (measured 0.49 s -> 0.33 s at sf0.1 on
    # identical output).
    ordered = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.struct(
            F.col(ts_col),
            F.col("event_id"),
            F.col(value_col).cast("double").alias("__v"),
        ).alias("__e"),
    )
    seq = ordered.groupBy(key_col).agg(
        F.array_sort(F.collect_list("__e")).alias("__s"),
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.col(ts_col)).alias("__max_ts"),
    )
    fold = F.aggregate(
        F.col("__s"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["__v"]).otherwise(
            F.lit(0.3) * x["__v"] + F.lit(1.0 - 0.3) * acc
        ),
    )
    return seq.select(
        F.col(key_col),
        F.col("n_events"),
        fold.alias("ewma"),
        F.unix_timestamp(F.col("__max_ts")).alias("last_ts_s"),
    )


def ewma_anomaly_by_key(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    z: float = 3.0,
    min_n: int = 3,
    tiebreak_col: str | None = None,
    watermark: str | None = None,
):
    """Streaming per-key anomaly detection over an EW mean/variance
    model — the alerting analogue of the reference's Grafana bands,
    but per entity and adaptive: an event is anomalous when its
    squared deviation from the EW mean exceeds ``z^2`` times the EW
    variance (and at least ``min_n`` prior events exist, so cold keys
    don't alert).

    Recurrence per event (prev state ``ew``/``vr``/``n``)::

        flag  if n >= min_n and (v-ew)^2 > z^2 * vr
        ew' = ew + alpha * (v - ew)
        vr' = (1-alpha) * (vr + alpha * (v - ew)^2)

    Emits one row per key per micro-batch: ``(key, n_events, ewma,
    ew_var, n_anomalies, last_ts_s)`` with monotonically increasing
    ``n_events``; state is carried in the state store and expires via
    the watermark-clamped event-time timeout (same discipline as
    :func:`ewma_by_key`).  The batch twin
    :func:`ewma_anomaly_batch_oracle` reproduces the fold exactly.
    """
    import pandas as pd  # noqa: F401 (worker-side)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType([
        # key type derives from the stream schema (r9 review fix)
        StructField(key_col, stream_df.schema[key_col].dataType),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
        StructField("ew_var", DoubleType()),
        StructField("n_anomalies", LongType()),
        StructField("last_ts_s", LongType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("ew", DoubleType()),
        StructField("vr", DoubleType()),
        StructField("anom", LongType()),
        StructField("last_s", LongType()),
    ])
    # value in the sort keys + NaN-first — same oracle-order argument
    # and NULL-placement alignment as ewma_by_key (r9 ADVICE)
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else []) + [value_col]
    one_minus, z2 = 1.0 - alpha, z * z

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
            yield  # pragma: no cover - makes this a generator

        (k,) = key
        n, ew, vr, anom, last_s = (
            state.get if state.exists else (0, 0.0, 0.0, 0, 0)
        )
        batch = pd.concat(list(pdfs)).sort_values(order, na_position="first")
        vs = batch[value_col].astype("float64").to_numpy()
        ts_s = (batch[ts_col].astype("datetime64[ns]").to_numpy()
                .astype("int64") // 1_000_000_000)
        for v, t_s in zip(vs.tolist(), ts_s.tolist()):
            # NULL value: the oracle's struct fold carries NULL through
            # the ew/vr recurrence permanently (d = v - NULL = NULL;
            # `first` never re-fires because n keeps counting) while
            # the anomaly counter freezes (NULL comparisons never flag)
            # — mirror with None instead of NaN-poisoning (r9 review
            # fix; NaN would render as NaN where the oracle says NULL)
            if v != v:  # NaN
                v = None
            if n == 0:
                ew, vr, n = v, 0.0, 1
            else:
                d = None if (v is None or ew is None) else v - ew
                if (d is not None and vr is not None
                        and n >= min_n and d * d > z2 * vr):
                    anom += 1
                ew = None if d is None else ew + alpha * d
                vr = (None if (d is None or vr is None)
                      else one_minus * (vr + alpha * d * d))
                n += 1
            last_s = int(t_s)
        state.update((n, ew, vr, anom, last_s))
        if watermark is not None:
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max((last_s + 1) * 1000, wm_ms + 1))
        yield pd.DataFrame([{
            key_col: k, "n_events": n, "ewma": ew, "ew_var": vr,
            "n_anomalies": anom, "last_ts_s": last_s,
        }])

    src = stream_df
    timeout = GroupStateTimeout.NoTimeout
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        src.groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def ewma_anomaly_batch_oracle(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Batch twin of :func:`ewma_anomaly_by_key`'s FINAL state: the
    identical recurrence folded over the time-ordered sequence with a
    struct-typed ``aggregate`` — same left-to-right double ops, so the
    streaming replay, this twin, and the DuckDB ``list_reduce`` oracle
    agree bit-for-bit."""
    # Same windowless struct-sort ordering as ewma_batch_oracle (r6):
    # the row_number window only re-derived what array_sort computes.
    ordered = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.struct(
            F.col(ts_col),
            F.col("event_id"),
            F.col(value_col).cast("double").alias("__v"),
        ).alias("__e"),
    )
    seq = ordered.groupBy(key_col).agg(
        F.array_sort(F.collect_list("__e")).alias("__s"),
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.max(F.col(ts_col))).alias("last_ts_s"),
    )
    a, om, z2 = F.lit(0.3), F.lit(1.0 - 0.3), F.lit(3.0 * 3.0)

    def step(acc, x):
        v = x["__v"]
        first = acc["n"] == 0
        d = v - acc["ew"]
        flagged = (~first) & (acc["n"] >= 3) & (d * d > z2 * acc["vr"])
        return F.struct(
            F.when(first, v).otherwise(acc["ew"] + a * d).alias("ew"),
            F.when(first, F.lit(0.0)).otherwise(om * (acc["vr"] + a * d * d)).alias("vr"),
            (acc["n"] + 1).alias("n"),
            (acc["anom"] + F.when(flagged, 1).otherwise(0)).alias("anom"),
        )

    init = F.struct(
        F.lit(0.0).alias("ew"), F.lit(0.0).alias("vr"),
        F.lit(0).cast("long").alias("n"), F.lit(0).cast("long").alias("anom"),
    )
    fold = F.aggregate(F.col("__s"), init, step)
    return seq.select(
        F.col(key_col),
        F.col("n_events"),
        fold["ew"].alias("ewma"),
        fold["vr"].alias("ew_var"),
        fold["anom"].alias("n_anomalies"),
        F.col("last_ts_s"),
    )
