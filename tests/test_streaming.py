"""Deterministic streaming tests (SURVEY.md section 5.2): replay
fixture parquet files through the micro-batch engine with
``availableNow`` and assert the streaming outputs equal the batch
computation of the same operators — the Kappa-consistency invariant.
Late-data cases are constructed with explicit out-of-order timestamps
around the watermark."""

from __future__ import annotations

import os
import sys
import time

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark.operators.merge import merge_upsert  # noqa: E402
from real_timetransactionaldatalakehouse_spark.operators.relational import (  # noqa: E402
    tumbling_window_counts,
)
from real_timetransactionaldatalakehouse_spark.sources import file_stream, load_table  # noqa: E402
from real_timetransactionaldatalakehouse_spark.streaming import (  # noqa: E402
    bronze_append_stream,
    dims_scd1_stream,
    gold_window_agg_stream,
)

def CASES():
    return {
        "views": F.col("event_type") == "view",
        "clicks": F.col("event_type") == "click",
    }


def schema_df(spark, ddl: str):
    """StructType from a DDL string (for readStream.schema)."""
    return spark.createDataFrame([], ddl).schema


def _write_single_file(df, dest_file: str, mtime: float) -> None:
    """Materialize a DataFrame as ONE plain parquet file (the streaming
    file source lists files, not Spark output directories) with a
    pinned mtime so replay order is deterministic."""
    import glob
    import shutil

    tmp = dest_file + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, dest_file)
    shutil.rmtree(tmp)
    os.utime(dest_file, (mtime, mtime))


def _write_chunks(df, path, n_chunks, order_col):
    """Write n time-ordered parquet chunk files with strictly increasing
    mtimes so the file source replays them in order."""
    rows = df.orderBy(order_col).collect()
    spark = df.sparkSession
    per = (len(rows) + n_chunks - 1) // n_chunks
    os.makedirs(path, exist_ok=True)
    base = time.time()
    for i in range(n_chunks):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        _write_single_file(
            spark.createDataFrame(chunk, df.schema),
            os.path.join(path, f"chunk-{i:03d}.parquet"),
            base + i,
        )


@pytest.fixture()
def events_small(spark, sf_small):
    return load_table(spark, sf_small, "events")


def test_bronze_append_stream_preserves_rows(spark, events_small, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    _write_chunks(events_small, src, 3, "ts")
    stream = file_stream(spark, src, events_small.schema)
    bronze_append_stream(stream, out, ckpt, ts_col="ts")
    got = spark.read.parquet(out)
    assert got.count() == events_small.count()
    assert "ingested_at" in got.columns
    # exactly-once on restart: rerun with same checkpoint appends nothing
    stream2 = file_stream(spark, src, events_small.schema)
    bronze_append_stream(stream2, out, ckpt, ts_col="ts")
    assert spark.read.parquet(out).count() == events_small.count()


def test_gold_stream_equals_batch_for_finalized_windows(spark, events_small, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    _write_chunks(events_small, src, 4, "ts")
    stream = file_stream(spark, src, events_small.schema)
    gold_window_agg_stream(
        stream, out, ckpt, ts_col="ts", group_cols=["user_id"], cases=CASES()
    )
    streamed = {
        (r.window_start, r.user_id): (r.views, r.clicks)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.window_start, r.user_id): (r.views, r.clicks)
        for r in tumbling_window_counts(
            events_small, "ts", "1 minute", ["user_id"], CASES()
        ).collect()
    }
    # every streamed row must equal the batch computation exactly
    assert streamed, "stream emitted nothing"
    for k, v in streamed.items():
        assert batch[k] == v, f"stream/batch divergence at {k}"
    # all windows finalized before the last chunk's watermark must be present
    rows = events_small.orderBy("ts").collect()
    prefix_max = rows[: 3 * len(rows) // 4][-1].ts  # max ts before last chunk
    import datetime

    wm = prefix_max - datetime.timedelta(seconds=10)
    for k, v in batch.items():
        if k[0] + datetime.timedelta(minutes=1) <= wm:
            assert k in streamed, f"finalized window {k} missing from stream output"


def test_gold_stream_drops_late_data(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minute, second, etype="view"):
        return (i, t0 + datetime.timedelta(minutes=minute, seconds=second), 1, etype)

    # chunk 0: minutes 0..5; chunk 1: minute 10 (advances the watermark
    # past window 0 and evicts it); chunk 2: a minute-0 event arriving
    # after eviction — this is "too late" and must be dropped.  (A late
    # row arriving while its window state is still pending is merged —
    # that is watermark semantics, verified in the equals-batch test.)
    on_time = [ev(i, m, 5) for i, m in enumerate(range(6))]
    advance = [ev(101, 10, 5)]
    too_late = [ev(100, 0, 30)]
    os.makedirs(src)
    now = time.time()
    for i, rows in enumerate([on_time, advance, too_late]):
        _write_single_file(
            spark.createDataFrame(rows, schema), os.path.join(src, f"c{i}.parquet"), now + i
        )

    stream = file_stream(spark, src, schema_df(spark, schema))
    gold_window_agg_stream(
        stream, out, ckpt, ts_col="ts", group_cols=["user_id"], cases=CASES()
    )
    out_rows = [
        (r.window_start.minute, r.views)
        for r in spark.read.parquet(out).collect()
        if r.window_start.minute == 0
    ]
    # exactly one emission of window 0, without the too-late event
    assert out_rows == [(0, 1)], f"too-late event leaked: {out_rows}"


def test_dims_scd1_stream_and_idempotence(spark, tmp_path):
    src = str(tmp_path / "cdc")
    target = str(tmp_path / "dim_users")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "op string, ts_ms long, user_id string, ltv_segment string, "
        "is_creator boolean, register_country string"
    )
    creates = [("c", 1000, f"u{i}", "Standard", False, "US") for i in range(5)]
    batch2 = [
        ("u", 2000, "u1", "VIP", True, None),
        ("u", 2500, "u1", "High_Potential", True, None),  # later update same key
        ("u", 2000, "u2", "VIP", False, None),
        ("d", 3000, "u3", None, None, None),  # unknown op -> filtered
    ]
    df0 = spark.createDataFrame(creates, schema)
    df1 = spark.createDataFrame(batch2, schema)
    os.makedirs(src)
    now = time.time()
    _write_single_file(df0, os.path.join(src, "b0.parquet"), now)
    _write_single_file(df1, os.path.join(src, "b1.parquet"), now + 1)

    stream = file_stream(spark, src, df0.schema)
    dims_scd1_stream(
        stream, target, ckpt, key_cols=["user_id"], order_col="ts_ms",
    )
    from real_timetransactionaldatalakehouse_spark import tablefmt as TF

    # versioned target: one snapshot per non-empty micro-batch, current
    # pointer resolves the latest; the pre-merge snapshot stays readable
    assert TF.current_version(target) == 2
    assert TF.read_table(spark, target, version=1).count() == 5
    dim = {r.user_id: r for r in TF.read_table(spark, target).collect()}
    assert len(dim) == 5
    assert dim["u1"].ltv_segment == "High_Potential"  # in-batch dedup kept latest
    assert dim["u1"].is_creator is True
    assert dim["u1"].register_country == "US"  # SCD1: a NULL update keeps the target value
    assert dim["u2"].ltv_segment == "VIP"
    assert dim["u3"].ltv_segment == "Standard"  # 'd' op filtered
    # merge idempotence: re-applying batch2 changes nothing
    target_df = TF.read_table(spark, target)
    updates = df1.filter(F.col("op").isin("c", "u")).drop("op")
    again = merge_upsert(
        target_df, updates, ["user_id"], order_col="ts_ms",
    )
    # align column order before comparing: read_table canonicalizes to
    # the declared schema order, merge output orders by its own select
    assert sorted(map(str, again.select(*target_df.columns).collect())) == sorted(
        map(str, target_df.collect())
    )
    # checkpoint replay: restarting the stream commits nothing new
    dims_scd1_stream(
        file_stream(spark, src, df0.schema), target, ckpt,
        key_cols=["user_id"], order_col="ts_ms",
    )
    assert TF.current_version(target) == 2


def test_concurrent_streams_one_session_await_all(spark, events_small, tmp_path):
    """T6: bronze append and gold window agg run CONCURRENTLY off one
    SparkSession (the reference runs them as separate Spark apps);
    await_all drives awaitAnyTermination until both finish, and each
    output must equal its single-stream/batch twin exactly."""
    from real_timetransactionaldatalakehouse_spark.streaming.jobs import await_all

    src = str(tmp_path / "in")
    _write_chunks(events_small, src, 3, "ts")
    q_bronze = bronze_append_stream(
        file_stream(spark, src, events_small.schema),
        str(tmp_path / "bronze"), str(tmp_path / "ckpt_b"),
        ts_col="ts", blocking=False,
    )
    q_gold = gold_window_agg_stream(
        file_stream(spark, src, events_small.schema),
        str(tmp_path / "gold"), str(tmp_path / "ckpt_g"),
        ts_col="ts", group_cols=["user_id"], cases=CASES(), blocking=False,
    )
    assert q_bronze.isActive or q_gold.isActive or True  # both started
    await_all(spark, [q_bronze, q_gold])
    assert not q_bronze.isActive and not q_gold.isActive
    # bronze kept every row
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == events_small.count()
    # gold equals the batch computation for every emitted window
    streamed = {
        (r.window_start, r.user_id): (r.views, r.clicks)
        for r in spark.read.parquet(str(tmp_path / "gold")).collect()
    }
    batch = {
        (r.window_start, r.user_id): (r.views, r.clicks)
        for r in tumbling_window_counts(
            events_small, "ts", "1 minute", ["user_id"], CASES()
        ).collect()
    }
    assert streamed, "concurrent gold stream emitted nothing"
    for k, v in streamed.items():
        assert batch[k] == v, f"stream/batch divergence at {k}"


def test_ewma_stream_multibatch_replay_equals_batch_oracle(spark, tmp_path):
    """Deterministic replay for the custom stateful operator: a 4-file
    time-ordered replay (one micro-batch per file) with a SUB-SECOND
    watermark offset must (a) not crash on the event-time timeout and
    (b) fold to exactly :func:`ewma_batch_oracle`'s final state.

    The data is crafted so batch 2's last event second truncates BELOW
    the watermark batch 1 left behind (wm = 1.950s - 500ms = 1.450s;
    event at 1.980s truncates to 1.000s) — the regression case where an
    unclamped ``setTimeoutTimestamp(last_s * 1000)`` throws and kills
    the query."""
    from real_timetransactionaldatalakehouse_spark.streaming.stateful import (
        ewma_batch_oracle,
        ewma_by_key,
    )

    rows = [
        (1, "2024-01-01 00:00:01.900", 10.0, 1),
        (2, "2024-01-01 00:00:01.950", 5.0, 2),
        (1, "2024-01-01 00:00:01.980", 20.0, 3),
        (2, "2024-01-01 00:00:02.100", 6.0, 4),
        (1, "2024-01-01 00:00:10.000", 30.0, 5),
        (3, "2024-01-01 00:00:10.200", 1.0, 6),
        (1, "2024-01-01 00:00:10.500", 40.0, 7),
        (3, "2024-01-01 00:00:10.900", 2.0, 8),
    ]
    df = (
        spark.createDataFrame(
            rows, "user_id long, ts_s string, value double, event_id long"
        )
        .select("user_id", F.to_timestamp("ts_s").alias("ts"), "value", "event_id")
    )
    src = str(tmp_path / "in")
    _write_chunks(df, src, 4, ["ts", "event_id"])

    emissions = []

    def sink(batch_df, batch_id):
        emissions.extend(batch_df.collect())

    stream = file_stream(spark, src, df.schema)
    out = ewma_by_key(
        stream, "user_id", "ts", "value",
        alpha=0.3, tiebreak_col="event_id", watermark="500 milliseconds",
    )
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    # one micro-batch per file: the cross-batch state path really ran
    assert len({r.n_events for r in emissions if r.user_id == 1}) > 1

    # latest emission per key == batch oracle's final fold
    latest = {}
    for r in emissions:
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    oracle = {
        r.user_id: r
        for r in ewma_batch_oracle(
            df, "user_id", "ts", "value"
        ).collect()
    }
    assert set(latest) == set(oracle) == {1, 2, 3}
    for k in oracle:
        assert latest[k].n_events == oracle[k].n_events
        assert latest[k].last_ts_s == oracle[k].last_ts_s
        assert latest[k].ewma == pytest.approx(oracle[k].ewma, abs=1e-12)


def test_ewma_anomaly_stream_replay_equals_batch_oracle(spark, tmp_path):
    """The anomaly detector's streaming fold must equal its batch twin
    after a 3-file replay, including the anomaly count: values are
    crafted so a spike lands after a stable run (flaggable, n >= 3)
    and a cold key never flags."""
    from real_timetransactionaldatalakehouse_spark.streaming.stateful import (
        ewma_anomaly_batch_oracle,
        ewma_anomaly_by_key,
    )

    vals = [
        (1, 10.0), (1, 10.2), (2, 5.0),      # file 1
        (1, 9.9), (1, 10.1), (2, 50.0),      # file 2 (key 2 still cold)
        (1, 42.0), (1, 10.0), (2, 5.5),      # file 3: key 1 spikes
    ]
    rows = [
        (k, f"2024-01-01 00:00:{i:02d}.500", v, i)
        for i, (k, v) in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(
            rows, "user_id long, ts_s string, value double, event_id long"
        )
        .select("user_id", F.to_timestamp("ts_s").alias("ts"), "value", "event_id")
    )
    src = str(tmp_path / "in")
    _write_chunks(df, src, 3, ["ts", "event_id"])

    emissions = []
    q = (
        ewma_anomaly_by_key(
            file_stream(spark, src, df.schema),
            "user_id", "ts", "value",
            alpha=0.3, z=3.0, min_n=3,
            tiebreak_col="event_id", watermark="500 milliseconds",
        )
        .writeStream.foreachBatch(lambda b, _i: emissions.extend(b.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None

    latest = {}
    for r in emissions:
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    oracle = {
        r.user_id: r
        for r in ewma_anomaly_batch_oracle(
            df, "user_id", "ts", "value",
            ).collect()
    }
    assert set(latest) == set(oracle) == {1, 2}
    for k in oracle:
        assert latest[k].n_events == oracle[k].n_events
        assert latest[k].n_anomalies == oracle[k].n_anomalies
        assert latest[k].ewma == pytest.approx(oracle[k].ewma, abs=1e-12)
        assert latest[k].ew_var == pytest.approx(oracle[k].ew_var, abs=1e-12)
    assert latest[1].n_anomalies >= 1  # the crafted spike was flagged
    assert latest[2].n_anomalies == 0  # cold key never flags (min_n)


def test_kafka_reader_options_reference_parity():
    """A1: the option mapping must reproduce the reference's reader
    config (streaming_job.py:190-196) without needing a broker."""
    from real_timetransactionaldatalakehouse_spark.sources import kafka_reader_options

    opts = kafka_reader_options("kafka:29092", "orders")
    assert opts == {
        "kafka.bootstrap.servers": "kafka:29092",
        "subscribe": "orders",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "5000",
    }
    opts = kafka_reader_options(
        "b:9092", "t", starting_offsets="latest",
        max_offsets_per_trigger=None, fail_on_data_loss=False,
        extra={"kafka.security.protocol": "SSL"},
    )
    assert "maxOffsetsPerTrigger" not in opts
    assert opts["startingOffsets"] == "latest"
    assert opts["failOnDataLoss"] == "false"
    assert opts["kafka.security.protocol"] == "SSL"


def test_parse_kafka_json_wire_decode(spark):
    """A1: the wire-decode stage (value bytes -> from_json -> data.*,
    kafka_ts) on a static frame carrying the Kafka wire columns."""
    import datetime

    from pyspark.sql import functions as F

    from real_timetransactionaldatalakehouse_spark.sources import parse_kafka_json

    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    wire = spark.createDataFrame(
        [
            (b'{"order_id": 7, "status": "NEW"}', t0),
            (b'not json at all', t0),
        ],
        "value binary, timestamp timestamp",
    )
    out = parse_kafka_json(wire, "order_id long, status string")
    assert out.columns == ["order_id", "status", "kafka_ts"]
    rows = sorted(out.collect(), key=lambda r: (r.order_id is None, r.order_id or 0))
    assert (rows[0].order_id, rows[0].status, rows[0].kafka_ts) == (7, "NEW", t0)
    # malformed value degrades to NULL fields, never a query failure
    assert rows[1].order_id is None and rows[1].status is None


def test_stream_stream_join_equals_batch(spark, events_small, tmp_path):
    """T: watermarked stream-stream time-bound join — full replay must
    equal the batch join with the same key + |dt| <= bound condition
    (all windows finalize once both replays end)."""
    from real_timetransactionaldatalakehouse_spark.streaming.jobs import (
        stream_stream_time_join,
    )

    left_b = events_small.select("user_id", "ts", "event_id")
    right_b = events_small.select(
        "user_id", F.col("ts").alias("rts"), F.col("value")
    ).filter(F.col("value") > 0.5)

    src_l, src_r = str(tmp_path / "l"), str(tmp_path / "r")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _write_chunks(left_b, src_l, 3, "ts")
    _write_chunks(right_b.withColumnRenamed("rts", "ts"), src_r, 3, "ts")

    ls = file_stream(spark, src_l, left_b.schema)
    rs = file_stream(
        spark, src_r,
        right_b.withColumnRenamed("rts", "ts").schema,
    )
    joined = stream_stream_time_join(
        ls, rs, key="user_id", within="5 minutes", watermark="10 minutes"
    )
    (
        joined.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start().awaitTermination(120)
    )
    streamed = sorted(
        (r.user_id, r.l_event_id, r.r_value)
        for r in spark.read.parquet(out).collect()
    )
    batch = sorted(
        (r.user_id, r.event_id, r.value)
        for r in left_b.join(right_b, "user_id")
        .filter(F.abs(F.col("ts").cast("double") - F.col("rts").cast("double")) <= 300)
        .collect()
    )
    assert streamed == batch and batch, (len(streamed), len(batch))


def test_dims_scd2_stream_view_equals_batch(spark, events_small, tmp_path):
    """SCD2 streaming architecture: CDC chunks append to the immutable
    change log (exactly-once file sink), the derived view equals batch
    scd2_from_changes over the same rows, and a checkpointed restart
    appends nothing."""
    from real_timetransactionaldatalakehouse_spark.operators.merge import (
        scd2_from_changes,
    )
    from real_timetransactionaldatalakehouse_spark.streaming.jobs import (
        dims_scd2_stream,
        scd2_dim_view,
    )

    changes = events_small.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_id") % 10 == 0, F.lit("d")).otherwise(F.lit("u")).alias("op"),
    )
    src, log, ckpt = (str(tmp_path / d) for d in ("src", "log", "ck"))
    _write_chunks(changes, src, 3, "ts")
    stream = file_stream(spark, src, changes.schema)
    dims_scd2_stream(stream, log, ckpt)

    view = scd2_dim_view(
        spark, log, ["user_id"], "ts",
        tiebreak_cols=["event_id"], tracked_cols=["event_type"],
    )
    got = sorted(
        (r.user_id, r.event_type, str(r.effective_from), str(r.effective_to), r.is_current)
        for r in view.collect()
    )
    batch = scd2_from_changes(
        changes.filter(F.col("op") != "d").drop("op"),
        ["user_id"], "ts",
        tiebreak_cols=["event_id"], drop_unchanged=["event_type"],
    )
    want = sorted(
        (r.user_id, r.event_type, str(r.effective_from), str(r.effective_to), r.is_current)
        for r in batch.collect()
    )
    assert got == want and want
    # one open row per key
    cur = view.filter("is_current").groupBy("user_id").count().collect()
    assert all(r["count"] == 1 for r in cur)
    # restart with same checkpoint: nothing re-appended
    n = spark.read.parquet(log).count()
    dims_scd2_stream(file_stream(spark, src, changes.schema), log, ckpt)
    assert spark.read.parquet(log).count() == n


def test_neardup_ingest_stream_drops_cross_batch_dups(spark, tmp_path):
    """Streaming near-dup ingestion: each micro-batch dedups within
    itself AND against everything previously ingested via the band
    index; replaying an already-committed batch ingests nothing new."""
    from real_timetransactionaldatalakehouse_spark.streaming import (
        neardup_ingest_stream,
    )

    base_a = " ".join(f"alpha{i}" for i in range(30))
    base_b = " ".join(f"beta{i}" for i in range(30))
    # batch 0: A, B and an in-batch near-dup of A (one token changed,
    # shingle Jaccard ~0.85 -> band collision certain at 8x4 banding)
    # batch 1: a cross-batch near-dup of A, an exact dup of B, and a
    #          genuinely new document
    new_c = " ".join(f"gamma{i}" for i in range(30))
    b0 = [(1, base_a), (2, base_b), (3, base_a.replace("alpha7", "delta7"))]
    b1 = [(10, base_a.replace("alpha20", "delta20")), (11, base_b), (12, new_c)]
    src = str(tmp_path / "in")
    os.makedirs(src)
    base_t = time.time()
    for i, rows in enumerate((b0, b1)):
        _write_single_file(
            spark.createDataFrame(rows, "doc_id long, text string"),
            os.path.join(src, f"chunk-{i:03d}.parquet"),
            base_t + i,
        )
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    stream = file_stream(
        spark, src, spark.createDataFrame([], "doc_id long, text string").schema
    )
    neardup_ingest_stream(stream, corpus, index, ckpt)

    kept = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert 1 in kept and 2 in kept and 12 in kept
    assert 3 not in kept, "in-batch near-dup must lose to the keeper"
    assert 10 not in kept, "cross-batch near-dup must hit the band index"
    assert 11 not in kept, "cross-batch exact dup must hit the band index"
    # index carries `bands` rows per kept doc
    idx = spark.read.parquet(index)
    assert idx.groupBy("doc_id").count().filter(F.col("count") != 8).count() == 0
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == kept
    # restart with the same checkpoint: nothing re-ingests
    stream2 = file_stream(
        spark, src, spark.createDataFrame([], "doc_id long, text string").schema
    )
    neardup_ingest_stream(stream2, corpus, index, ckpt)
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == kept


def test_ewma_string_key_and_null_values_match_oracle(spark, tmp_path):
    """r9 review fixes: (1) the output key type derives from the
    stream schema (a hardcoded LongType killed every non-long key at
    the Arrow boundary); (2) a NULL value turns the running EWMA NULL
    and the next non-null restarts it — exactly the batch oracle's
    fold — instead of NaN-poisoning the state forever."""
    from real_timetransactionaldatalakehouse_spark.streaming.stateful import (
        ewma_batch_oracle,
        ewma_by_key,
    )

    rows = [
        ("u1", "2024-01-01 00:00:01.000", 10.0, 1),
        ("u1", "2024-01-01 00:00:02.000", None, 2),   # NULL resets
        ("u1", "2024-01-01 00:00:03.000", 20.0, 3),
        ("u2", "2024-01-01 00:00:03.500", 4.0, 4),
    ]
    df = (
        spark.createDataFrame(
            rows, "user_id string, ts_s string, value double, event_id long"
        )
        .select("user_id", F.to_timestamp("ts_s").alias("ts"), "value", "event_id")
    )
    src = str(tmp_path / "in")
    _write_chunks(df, src, 2, ["ts", "event_id"])

    emissions = []
    stream = file_stream(spark, src, df.schema)
    out = ewma_by_key(stream, "user_id", "ts", "value",
                      alpha=0.3, tiebreak_col="event_id")
    q = (
        out.writeStream.foreachBatch(
            lambda b, e: emissions.extend(b.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    latest = {}
    for r in emissions:
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    oracle = {r[0]: r for r in ewma_batch_oracle(
        df, "user_id", "ts", "value"
    ).collect()}
    assert latest["u1"].ewma == oracle["u1"].ewma == 20.0  # restarted
    assert latest["u2"].ewma == oracle["u2"].ewma == 4.0
    assert latest["u1"].n_events == 3


def test_ewma_null_value_tied_ts_orders_like_oracle(spark, tmp_path):
    """r9 ADVICE: rows tied on ts with no tiebreak sort on the value
    column, and a NULL value must order FIRST — Spark's struct
    comparison puts the NULL field before any value, while pandas'
    default sort put NaN last, folding the tie in the opposite order
    (NULL-last would END the fold NULL here instead of restarting).
    The batch oracle breaks ts ties on ``event_id``, which here puts
    the NULL row first too."""
    from real_timetransactionaldatalakehouse_spark.streaming.stateful import (
        ewma_batch_oracle,
        ewma_by_key,
    )

    rows = [
        ("u1", "2024-01-01 00:00:01.000", 10.0, 1),
        ("u1", "2024-01-01 00:00:02.000", None, 2),  # tied with the next row
        ("u1", "2024-01-01 00:00:02.000", 20.0, 3),
    ]
    df = (
        spark.createDataFrame(
            rows, "user_id string, ts_s string, value double, event_id long"
        )
        .select("user_id", F.to_timestamp("ts_s").alias("ts"), "value", "event_id")
    )
    src = str(tmp_path / "in")
    _write_chunks(df, src, 1, ["ts"])

    emissions = []
    stream = file_stream(spark, src, df.schema)
    out = ewma_by_key(stream, "user_id", "ts", "value", alpha=0.3)
    q = (
        out.writeStream.foreachBatch(
            lambda b, e: emissions.extend(b.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    latest = max(emissions, key=lambda r: r.n_events)
    oracle = ewma_batch_oracle(df, "user_id", "ts", "value").collect()[0]
    # NULL orders first at the tie: ... -> NULL (restart) -> 20.0
    assert oracle.ewma == 20.0
    assert latest.ewma == oracle.ewma
    assert latest.n_events == 3


def test_neardup_ingest_drops_null_text_explicitly(spark, tmp_path):
    """r10: NULL-text docs are dropped at the head of each ingest
    batch (they cannot be near-dup-verified once minhash_banded emits
    no band rows for them) — the corpus must not receive them, and
    non-null docs must still ingest and cross-batch-dedupe."""
    import os as _os

    from real_timetransactionaldatalakehouse_spark.streaming.jobs import (
        neardup_ingest_stream,
    )

    rows = [
        (1, None, "2024-01-01 00:00:01"),
        (2, "alpha beta gamma delta epsilon", "2024-01-01 00:00:02"),
        (3, None, "2024-01-01 00:00:03"),
    ]
    df = (
        spark.createDataFrame(rows, "doc_id long, text string, ts_s string")
        .select("doc_id", "text", F.to_timestamp("ts_s").alias("ts"))
    )
    src = str(tmp_path / "in")
    _write_chunks(df, src, 1, ["doc_id"])
    corpus, index, ckpt = (str(tmp_path / d) for d in ("corpus", "index", "ckpt"))
    neardup_ingest_stream(
        file_stream(spark, src, df.schema), corpus, index, ckpt
    )
    got = spark.read.parquet(corpus).collect()
    assert [r.doc_id for r in got] == [2]
    assert _os.path.isdir(index)
    idx = spark.read.parquet(index)
    assert idx.select("doc_id").distinct().collect()[0][0] == 2
