"""Streaming jobs: bronze append, gold windowed aggregation, dims SCD1
merge — the three micro-batch shapes of the reference
(``streaming_job.py``, ``stream_content.py``, ``stream_dims.py``),
re-expressed so each foreachBatch body calls the batch operator
library (Kappa consistency).

Sink format here is partitioned Parquet (Delta/Iceberg jars aren't in
the container); the write pattern per table — append log vs merged
latest-state — is the semantic choice the reference encodes in table
properties (SURVEY.md section 1.3).

Scale notes:
- bronze: append-only, sorted within partitions by event time before
  write (reference stream_content.py:51 write clustering O14);
- gold: watermark bounds state (T1); append mode emits only finalized
  windows (O15 — no delete amplification on the hot path);
- dims: batch-scoped dedup (T7) shrinks each MERGE's shuffled side;
  the merge itself is one shuffle on the key (operators/merge.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert
from ..operators.relational import tumbling_window_counts
from .. import tablefmt


def _run_stream(writer, checkpoint: str, available_now: bool = True,
                blocking: bool = True):
    q = writer.option("checkpointLocation", checkpoint)
    query = q.trigger(availableNow=True).start() if available_now else q.trigger(
        processingTime="10 seconds"
    ).start()
    if available_now and blocking:
        query.awaitTermination()
    return query


def await_all(spark: SparkSession, queries, timeout_sec: float = 300.0) -> None:
    """T6: drive several concurrent streaming queries off one session —
    loop ``awaitAnyTermination`` until every query has terminated
    (reference runs bronze + dims + gold as separate Spark apps; in one
    session this is the multi-query pattern)."""
    import time as _time

    deadline = _time.monotonic() + timeout_sec
    while any(q.isActive for q in queries):
        remaining = deadline - _time.monotonic()
        if remaining <= 0:
            raise TimeoutError("streams still active past timeout")
        # awaitAnyTermination takes SECONDS (PySpark converts to ms
        # internally); cap the poll at 1 s so the deadline is rechecked
        # promptly even while streams stay active
        spark.streams.awaitAnyTermination(min(max(remaining, 0.001), 1.0))
        spark.streams.resetTerminated()
    for q in queries:
        if q.exception() is not None:
            raise q.exception()


def time_partition_cols(ts_col: str) -> list:
    """Derived hidden-partition columns (reference
    ``streaming_job.py:37`` partitions bronze by hours(event_ts)):
    ``p_date`` (string date) + ``p_hour`` (0-23)."""
    return [
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("p_date"),
        F.hour(F.col(ts_col)).alias("p_hour"),
    ]


def bronze_append_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    available_now: bool = True,
    blocking: bool = True,
    dedup_keys: list[str] | None = None,
    dedup_within: str = "10 minutes",
):
    """Bronze: immutable append log (reference streaming_job.py:81-84,
    A4/A5/A7/T5).  Each micro-batch is sorted within partitions by the
    event-time column before append (write clustering) and stamped
    with an ingest audit column (H4).

    The write is partitioned by derived ``p_date``/``p_hour`` columns
    (O1 — reference hidden partitioning ``hours(event_timestamp)``,
    streaming_job.py:37), so time-range serving queries prune files
    instead of scanning the full log at 100x.

    ``dedup_keys`` turns on CROSS-micro-batch at-source dedup via
    ``dropDuplicatesWithinWatermark`` (T7+): duplicate deliveries
    within ``dedup_within`` of event time are dropped exactly once
    regardless of batch boundaries, with state bounded by the
    watermark — the streaming-native upgrade of the reference's
    batch-scoped dedup."""
    if dedup_keys:
        stream_df = stream_df.withWatermark(
            ts_col, dedup_within
        ).dropDuplicatesWithinWatermark(dedup_keys)

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.withColumn("ingested_at", F.current_timestamp())
            .select("*", *time_partition_cols(ts_col))
            .sortWithinPartitions(ts_col)
            .write.mode("append")
            .partitionBy("p_date", "p_hour")
            .parquet(out_path)
        )

    return _run_stream(
        stream_df.writeStream.foreachBatch(write_batch).outputMode("append"),
        checkpoint,
        available_now,
        blocking,
    )


def gold_window_agg_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    ts_col: str,
    group_cols: list[str],
    cases: dict[str, object],
    window: str = "1 minute",
    watermark: str = "10 seconds",
    available_now: bool = True,
    blocking: bool = True,
    n_buckets: int = 0,
):
    """Gold: tumbling-window conditional-count aggregation with event-
    time watermark, append output mode — the reference's
    stream_content.py:123-150 shape (T1/T2/T3).  Only watermark-
    finalized windows are emitted, so gold is an append-only metrics
    log (O15).

    Writes partition by ``p_date`` derived from window_start (O1 —
    reference ``days(window_start)``, stream_content.py:26); with
    ``n_buckets`` > 0 a hash bucket over the first group column is
    added (reference ``bucket(16, video_id)``) so point lookups on the
    key prune to one bucket file set per day."""
    agg = tumbling_window_counts(
        stream_df.withWatermark(ts_col, watermark), ts_col, window, group_cols, cases
    )
    part_cols = ["p_date"]
    agg = agg.withColumn("p_date", F.date_format(F.col("window_start"), "yyyy-MM-dd"))
    if n_buckets:
        agg = agg.withColumn(
            "p_bucket", F.pmod(F.xxhash64(F.col(group_cols[0])), F.lit(n_buckets))
        )
        part_cols.append("p_bucket")

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.sortWithinPartitions("window_start", *group_cols).write.mode(
            "append"
        ).partitionBy(*part_cols).parquet(out_path)

    return _run_stream(
        agg.writeStream.foreachBatch(write_batch).outputMode("append"),
        checkpoint,
        available_now,
        blocking,
    )


def gold_session_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 seconds",
    available_now: bool = True,
):
    """Streaming sessionization via the built-in ``session_window``
    state operator — the Structured-Streaming-native counterpart of the
    reference's deliberately-batch T+1 sessionization (T10,
    PipelineArchitecture.md:217-222; the reference moved sessions to
    batch to save state-store RAM — Spark's session_window makes the
    streaming variant a one-liner when freshness is worth the state).

    Watermark bounds session state; append mode emits a session only
    once its window can no longer grow (event time past end + gap).
    State per key is one open session row — merged, not per-event.
    """
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.withColumn(
                "p_date", F.date_format(F.col("session_start"), "yyyy-MM-dd")
            )
            .sortWithinPartitions(key_col, "session_start")
            .write.mode("append")
            .partitionBy("p_date")
            .parquet(out_path)
        )

    return _run_stream(
        agg.writeStream.foreachBatch(write_batch).outputMode("append"),
        checkpoint,
        available_now,
    )


def dims_scd1_stream(
    stream_df: DataFrame,
    target_path: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str,
    op_col: str = "op",
    allowed_ops: tuple[str, ...] = ("c", "u"),
    update_cols: list[str] | None = None,
    available_now: bool = True,
    write_mode: str = "cow",
):
    """Dims: SCD Type-1 upsert from a CDC envelope stream — the
    reference's stream_dims.py:59-98 foreachBatch MERGE, with the
    op-filter (B5), batch-scoped keep-latest dedup (T7/W1) and
    idempotent merge (exactly-once under replay).

    The target is a ``tablefmt`` versioned table; two write paths:

    - ``write_mode="cow"`` (default): each batch materializes a FULL
      new snapshot from merge(current, updates) and flips the pointer
      — simplest, rewrite cost O(|table|) per batch.
    - ``write_mode="mor"``: the reference's actual table layout
      (Iceberg v2 ``write.merge.mode = merge-on-read``,
      ``streaming_job.py:55-60``): the batch reads the current table
      to compute merged rows FOR THE TOUCHED KEYS ONLY, then commits
      just that delta + equality-delete keys via
      ``tablefmt.write_mor_upsert`` — write cost O(|batch|) per
      commit at any table size, which is the whole point at CDC
      upsert frequency.  SCD1 semantics (keep-latest dedup,
      ``update_cols`` protection, null-coalesce to target values) are
      IDENTICAL: the delta rows are merge_upsert's output restricted
      to touched keys, not raw updates.  After each commit
      ``tablefmt.fold_mor`` folds the chain back to a full snapshot
      once it reaches ``tablefmt.MOR_MAX_CHAIN`` commits — the one
      rule that bounds read-side merge joins, as the reference's
      hourly maintenance bounds Iceberg delete files.

    Either way readers never see a partial table and a crash
    mid-write leaves the previous snapshot current; old snapshots
    stay readable until ``tablefmt.expire_snapshots`` — the M2 job
    (which pins live MoR base chains).

    T8: the micro-batch DataFrame feeds two actions (the emptiness
    probe and the merge write), so it is persisted for the batch's
    lifetime (reference caches the batch df, streaming_job.py:75).
    """
    if write_mode not in ("cow", "mor"):
        raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
    spark = stream_df.sparkSession

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        from ..operators.relational import dedup_latest

        updates = batch.filter(F.col(op_col).isin(*allowed_ops)).drop(op_col)
        updates.persist()
        try:
            if updates.isEmpty():
                return
            if not tablefmt.is_versioned(target_path):
                tablefmt.write_version(
                    dedup_latest(updates, key_cols, order_col), target_path
                )
                return
            target = tablefmt.read_table(spark, target_path)
            if write_mode == "cow":
                tablefmt.write_version(
                    merge_upsert(
                        target, updates, key_cols, order_col=order_col,
                        update_cols=update_cols,
                    ),
                    target_path,
                )
                return
            deduped = dedup_latest(updates, key_cols, order_col)
            touched = F.broadcast(deduped.select(*key_cols).distinct())
            delta = merge_upsert(
                target.join(touched, key_cols, "left_semi"),
                deduped, key_cols, update_cols=update_cols,
            )
            tablefmt.write_mor_upsert(delta, target_path, key_cols)
            tablefmt.fold_mor(spark, target_path)
        finally:
            updates.unpersist()

    return _run_stream(
        stream_df.writeStream.foreachBatch(write_batch).outputMode("append"),
        checkpoint,
        available_now,
    )


def stream_stream_time_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
):
    """T-family: watermarked stream-stream equi-join with a time bound
    — the click-to-impression / order-to-payment attribution shape.
    Both sides carry a watermark and the join adds the
    ``|left_ts - right_ts| <= within`` range condition, which is what
    lets Structured Streaming BOUND the join state: a buffered row can
    be evicted once the other side's watermark passes its timestamp +
    ``within``.  Without the time bound the state grows forever — the
    planner rejects outer joins outright and inner joins leak.

    Returns the joined streaming DataFrame (caller picks the sink);
    columns are disambiguated with ``l_``/``r_`` prefixes except the
    shared key.  One shuffle per side on the join key, state in the
    per-key store — the standard scalable shape at any volume; skewed
    keys follow the same salting guidance as batch joins.
    """
    # project/rename FIRST, then watermark the renamed event-time
    # column — the watermark tag must sit on the column the join
    # condition references
    lp = left.select(
        F.col(key),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c != key
        ],
    ).withWatermark(f"l_{left_ts}", watermark)
    rp = right.select(
        F.col(key).alias("__rk"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c != key
        ],
    ).withWatermark(f"r_{right_ts}", watermark)
    cond = (
        (F.col(key) == F.col("__rk"))
        & (
            F.col(f"l_{left_ts}")
            >= F.col(f"r_{right_ts}") - F.expr(f"INTERVAL {within}")
        )
        & (
            F.col(f"l_{left_ts}")
            <= F.col(f"r_{right_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lp.join(rp, cond, how).drop("__rk")


def dims_scd2_stream(
    stream_df: DataFrame,
    log_path: str,
    checkpoint: str,
    op_col: str = "op",
    allowed_ops: tuple[str, ...] = ("c", "u"),
    available_now: bool = True,
    blocking: bool = True,
):
    """Dims, SCD Type-2 architecture: the CDC stream appends to an
    IMMUTABLE change log (exactly-once via the parquet file sink's
    manifest) and the versioned dimension is DERIVED on read
    (:func:`scd2_dim_view`) — history is never rewritten per batch,
    so the streaming write stays append-only at any rate while the
    SCD1 path (``dims_scd1_stream``) keeps serving latest-state.
    """
    filtered = stream_df.filter(F.col(op_col).isin(list(allowed_ops)))
    writer = filtered.writeStream.format("parquet").option("path", log_path)
    return _run_stream(writer, checkpoint, available_now, blocking)


def scd2_dim_view(
    spark: SparkSession,
    log_path: str,
    key_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    tracked_cols: list[str] | None = None,
) -> DataFrame:
    """The SCD2 dimension derived from the change log: validity
    intervals + ``is_current`` via ``operators.merge.scd2_from_changes``
    (one keyed window shuffle at read time; materialize under
    ``tablefmt`` if the read amplification matters)."""
    from ..operators.merge import scd2_from_changes

    return scd2_from_changes(
        spark.read.parquet(log_path),
        key_cols,
        ts_col,
        tiebreak_cols=tiebreak_cols,
        drop_unchanged=tracked_cols,
    )


def neardup_ingest_stream(
    stream_df: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    available_now: bool = True,
    blocking: bool = True,
):
    """Streaming near-dup-free corpus ingestion — the Kappa shape of
    an LLM data pipeline's ingest tier: every micro-batch is deduped
    WITHIN itself (exact + verified MinHash keep-one,
    ``operators.dedup.drop_near_duplicates``) and AGAINST everything
    previously ingested via the persisted band index, then survivors
    append to the corpus and their ``(band, bhash, sig)`` rows to the
    index.

    Scale shape: the historical probe is an equi join of the batch's
    band rows (``bands`` small rows per incoming doc) against the
    index on ``(band, bhash)`` — the corpus text itself is never
    re-read and never shuffles; at 10^9 ingested documents the index
    is ``bands`` narrow rows each, hash-partitioned by the join key.
    Cross-batch matches are gated on the signature-agreement ESTIMATE
    (the in-batch pass is exact-verified): re-verifying against
    historical text would re-read the corpus per batch.

    Idempotence: corpus appends before index.  A batch replayed after
    a crash between the two writes re-appends its documents (standard
    at-least-once append; exact dedup downstream is a cheap
    ``dropDuplicates``); a batch replayed after BOTH writes finds its
    own band rows in the index, so its documents drop and neither
    table double-ingests.

    NULL-text documents are dropped EXPLICITLY at the head of each
    batch (r10): they cannot be near-dup-verified (``minhash_banded``
    emits no band rows for them since the r9-ADVICE NULL fix), so
    without the explicit filter they would vanish silently between
    the banding and the keep-join — a curation decision should be
    visible, not an artifact of join shape.
    """
    from ..operators import dedup as D

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        survivors = batch.filter(
            F.col(text_col).isNotNull()
        ).dropDuplicates([text_col])
        survivors = D.drop_near_duplicates(
            survivors, text_col, id_col,
            jaccard_threshold=jaccard_threshold,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )
        banded = D.minhash_banded(
            survivors.select(id_col, text_col), text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        ).persist()
        try:
            _ingest_batch(
                spark, survivors, banded, corpus_path, index_path,
                id_col, num_hashes, jaccard_threshold,
            )
        finally:
            # T8 discipline: a failed write must not leak the persisted
            # band rows — nor the in-batch dedup's cached build frames,
            # which accumulate per micro-batch on a long-lived stream
            # (r10 review fix)
            banded.unpersist()
            D.release_cached(survivors)

    def _ingest_batch(spark, survivors, banded, corpus_path, index_path,
                      id_col, num_hashes, jaccard_threshold):
        try:
            idx = spark.read.parquet(index_path)
        except Exception:
            idx = None
        if idx is not None:
            est = (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("sig"), F.col("__hist_sig"),
                            lambda a, b: (a == b).cast("int"),
                        ),
                        lambda x: x == 1,
                    )
                ).cast("double")
                / F.lit(float(num_hashes))
            )
            dup_ids = (
                banded.join(
                    idx.select(
                        "band", "bhash", F.col("sig").alias("__hist_sig")
                    ),
                    ["band", "bhash"],
                )
                .filter(est >= jaccard_threshold)
                .select(F.col("id").alias(id_col))
                .distinct()
            )
            kept_banded = banded.join(
                dup_ids.withColumnRenamed(id_col, "id"), "id", "left_anti"
            )
        else:
            kept_banded = banded
        kept_ids = kept_banded.select(F.col("id").alias(id_col)).distinct()
        kept = survivors.join(kept_ids, id_col, "left_semi")
        kept.write.mode("append").parquet(corpus_path)
        kept_banded.select(
            F.col("id").alias(id_col), "band", "bhash", "sig"
        ).write.mode("append").parquet(index_path)

    return _run_stream(
        stream_df.writeStream.foreachBatch(write_batch).outputMode("append"),
        checkpoint,
        available_now,
        blocking,
    )
