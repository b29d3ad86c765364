"""The workloads.  Each one sets up its inputs, runs its timed region
through the package's public functions with their defaults, then checks
the outputs against the DuckDB twins outside the timed region.

Sizes are those of the gated setting (``--seconds 8``) and scale with
``--seconds``; the same seed and seconds always give the same inputs.
The serve phase is the one part that runs for ``--seconds``.  Inputs are
generated once per run, outside the timed set-up, which covers only the
program's own set-up steps.
"""

from __future__ import annotations

import os
import re
import threading
import time
from datetime import datetime, timedelta, timezone

import numpy as np

from . import check, gen
from .trace import (
    SparkCounters, TaskCpu, dir_stats, median, memory_peaks_mb, percentile,
    plan_files_scanned, reset_memory_peaks, wait_for_progress,
)

#: content stream: files (one per micro-batch) x events, event-time span per file
INGEST_FILES, INGEST_EVENTS_PER_FILE, INGEST_SPAN_S = 4, 4000, 1800
#: CDC stream: dimension keys (bootstrap batch), update batches x envelopes;
#: the dimension is 100x a batch, the ratio of the tools/mor_writeamp_bench.py
#: CoW/MoR measurement (100k keys, 1k updates per batch) at a fifth of its size
CDC_KEYS, CDC_BATCHES, CDC_PER_BATCH = 20_000, 4, 200
SERVE_CLIENTS, SERVE_MIX_LEN, SERVE_HOT_KEYS = 2, 250, 8
SERVE_VIEWS = ("velocity_view", "trending_view", "spike_view", "doomscroll_view",
               "cold_start_view", "freshness_view")
SERVE_ROUND = ("velocity_view", "bucket_lookup", "trending_view", "dim_lookup", "spike_view",
               "doomscroll_view", "bucket_lookup", "cold_start_view", "dim_lookup",
               "freshness_view")
MEDALLION_EVENTS, MEDALLION_REBUILDS = 40_000, 3
#: the gated CPU cost of a stream counts micro-batches from this one on:
#: batch 0 compiles the query, and in batch 1 the task code still runs
#: partly interpreted, so both cost more and vary more than later batches
COSTED_FROM_BATCH = 2
GOLD_BUCKETS = 16
_PART_UUID = re.compile(r"part-\d+-([0-9a-f-]{36})")


class Run:
    """State of one benchmark run: inputs, samples and check results."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer, progress):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.progress = progress
        self.inputs = os.path.join(work, "inputs")
        self.setup_s = 0.0
        self.latencies: list[float] = []
        self.latency_p50: float | None = None
        self.task_cpu_ms_per_event = 0.0
        self.units = 0
        self.wall = 0.0
        self.report: dict = {}
        self.layer: dict = {}
        self.props: dict = {}
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._counters = None
        self.heap_peak_mb = self.workers_peak_mb = 0.0

    def sized(self, n: int, floor: int) -> int:
        """``n`` is the size at the gated setting, ``--seconds 8``."""
        return max(floor, round(n * self.seconds / 8.0))

    def set_up(self, prep):
        """Time ``prep()``, the program's set-up steps (the inputs are
        already generated)."""
        t0 = time.perf_counter()
        state = prep()
        self.setup_s = time.perf_counter() - t0
        return state

    def begin_timed(self) -> None:
        reset_memory_peaks(self.spark)
        if self.tracer:
            self._counters = SparkCounters(self.spark)

    def end_timed(self) -> None:
        """Close the timed region: read the program's memory peaks."""
        self.heap_peak_mb, self.workers_peak_mb = memory_peaks_mb(self.spark)
        if self.tracer:
            self.layer.update(self._counters.delta())

    def record_check(self, result: dict, ops_covered: int) -> None:
        self.checks.append(result)
        if not result["ok"]:
            self.failed += ops_covered


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# -- the streaming tier: content stream -> bronze + gold, CDC -> dims -----

def _gold_cases():
    from pyspark.sql import functions as F

    return {name: F.col("event_type") == t for name, t in check.GOLD_CASES.items()}


def _cdc_stream(spark, path: str):
    from pyspark.sql import types as T
    from real_timetransactionaldatalakehouse_spark import schemas
    from real_timetransactionaldatalakehouse_spark.sources import file_stream, parse_cdc_envelope

    raw = file_stream(spark, path, T.StructType([T.StructField("value", T.StringType())]),
                      fmt="text")
    return parse_cdc_envelope(raw, schemas.CDC_USERS_SCHEMA, ts_cast_cols=("join_at",))


def _generate_tier(src: str, seed: int, content: bool, files: int, per_file: int,
                   span_s: int, keys: int, cdc_batches: int, per_batch: int) -> dict:
    """Generate the inputs of the streams under ``src``: the content
    events (when ``content``) and the CDC feed, whose bootstrap (the
    dimension's initial load) is the first file of the CDC stream."""
    props = {}
    if content:
        props["events"] = gen.content_events(os.path.join(src, "events"), seed, files,
                                             per_file, span_s=span_s)
    props["cdc"] = gen.cdc_feed(os.path.join(src, "cdc"), seed, keys, cdc_batches, per_batch,
                                bootstrap_dir=os.path.join(src, "cdc"))
    return props


def _create_tables(spark, d: str, tables: tuple[str, ...]):
    """Register ``tables`` in a fresh catalog under ``d``."""
    from real_timetransactionaldatalakehouse_spark import catalog

    cat = catalog.Catalog(spark, os.path.join(d, "warehouse"))
    for name in tables:
        cat.create_table(name, versioned=name == "dims.users")
    return cat


def _run_tier(spark, src: str, d: str, cat) -> tuple[dict, dict]:
    """Drain the streams of the catalog's tables in one session: the
    content stream's bronze and gold queries together (joined by
    ``await_all``), then the CDC stream's dims job, which blocks.
    Returns the queries and each phase's wall time."""
    from real_timetransactionaldatalakehouse_spark import schemas, streaming
    from real_timetransactionaldatalakehouse_spark.sources import file_stream

    def content():
        return file_stream(spark, os.path.join(src, "events"), schemas.CONTENT_EVENT_SCHEMA)

    queries, walls = {}, {}
    t0 = time.perf_counter()
    if "content_events" in cat.tables("bronze"):
        queries["bronze"] = streaming.bronze_append_stream(
            content(), cat.table_path("bronze.content_events"),
            os.path.join(d, "ckpt_bronze"), ts_col="event_timestamp", blocking=False)
    if "stats_1min" in cat.tables("gold"):
        queries["gold"] = streaming.gold_window_agg_stream(
            content(), cat.table_path("gold.stats_1min"), os.path.join(d, "ckpt_gold"),
            ts_col="event_timestamp", group_cols=["user_id"], cases=_gold_cases(),
            n_buckets=GOLD_BUCKETS, blocking=False)
    if queries:
        streaming.await_all(spark, list(queries.values()))
        walls["content"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    queries["dims"] = streaming.dims_scd1_stream(
        _cdc_stream(spark, os.path.join(src, "cdc")), cat.table_path("dims.users"),
        os.path.join(d, "ckpt_dims"), key_cols=["user_id"], order_col="ts_ms")
    walls["dims"] = time.perf_counter() - t1
    return queries, walls


def _twins(con, src: str) -> None:
    """DuckDB tables ``gold_twin`` and ``dim_twin`` from the inputs."""
    if os.path.isdir(os.path.join(src, "events")):
        check.content_input(con, os.path.join(src, "events", "*.parquet"))
        con.execute(f"CREATE TABLE gold_twin AS {check.gold_twin_sql()}")
    check.cdc_input(con, [os.path.join(src, "cdc", "*.json")])
    con.execute(f"CREATE TABLE dim_twin AS {check.scd1_twin_sql()}")


def _check_tier(run, con, cat, batches: dict[str, list]) -> None:
    from real_timetransactionaldatalakehouse_spark import tablefmt

    if "bronze" in batches:
        run.record_check(check.diff(
            con, check.parquet_dir(cat.table_path("bronze.content_events"), check.EVENT_COLS),
            f"(SELECT {', '.join(check.EVENT_COLS)} FROM ev)", "bronze_rows"),
            len(batches["bronze"]))
    if "gold" in batches:
        run.record_check(check.diff(
            con, check.parquet_dir(cat.table_path("gold.stats_1min"), check.GOLD_COLS),
            "(SELECT * FROM gold_twin)", "gold_finalized_windows"), len(batches["gold"]))
    dim = tablefmt.read_table(run.spark, cat.table_path("dims.users")).toArrow()
    run.record_check(check.diff(
        con, check.arrow_relation(con, "spark_dim", dim, check.DIM_COLS),
        "(SELECT * FROM dim_twin)", "dims_scd1_fold"), len(batches["dims"]))


def _write_jobs(path: str) -> dict[str, set]:
    """Directories written per write job (a job's files share the uuid
    in their names)."""
    jobs: dict[str, set] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            m = _PART_UUID.match(f)
            if m and f.endswith(".parquet"):
                jobs.setdefault(m.group(1), set()).add(os.path.relpath(root, path))
    return jobs


def _trace_tier(run) -> None:
    from real_timetransactionaldatalakehouse_spark import maintenance, tablefmt

    def after_write(args, kwargs, version, tracer):
        import pyarrow.parquet as pq

        vdir = tablefmt.version_path(args[1], version)
        tracer.add("tablefmt.bytes_written", dir_stats(vdir)[1])
        tracer.add("tablefmt.rows_written", sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _dirs, files in os.walk(vdir) if "_deletes" not in root
            for f in files if f.endswith(".parquet")))

    run.tracer.wrap(tablefmt, "write_version", "tablefmt.write_version", after_write)
    run.tracer.wrap(tablefmt, "write_mor_upsert", "tablefmt.write_mor_upsert", after_write)
    run.tracer.wrap(tablefmt, "read_table", "tablefmt.read_table")
    for attr in ("run_maintenance", "compact", "expire_snapshots"):
        run.tracer.wrap(maintenance, attr, f"maintenance.{attr}")


def _tier_layer(run, cat, queries: dict, warm: list[dict]) -> None:
    """Per-layer metrics of the streaming tier (traced runs)."""
    from real_timetransactionaldatalakehouse_spark import tablefmt

    ms = [b["ms"] for b in warm]
    state = [s for b in warm for s in b["state"]]
    content = [cat.table_path(t) for t in ("bronze.content_events", "gold.stats_1min")
               if t.split(".")[1] in cat.tables(t.split(".")[0])]
    outputs = [*content, os.path.join(cat.table_path("dims.users"), "_versions")]
    jobs: dict[str, set] = {}
    for out in content or outputs:
        jobs.update(_write_jobs(out))
    everything = [e for q in queries.values() for e in run.progress.events[str(q.id)]]
    changed = run.props["cdc"]["keys_upserted"]
    spans = run.tracer.durations
    run.layer.update({
        "sources.rows_per_batch": median([b["rows"] for b in warm]),
        "sources.get_batch_s": median([(m.get("getBatch", 0) + m.get("latestOffset", 0)) / 1e3
                                       for m in ms]),
        "streaming.add_batch_s": median([m.get("addBatch", 0) / 1e3 for m in ms]),
        "streaming.checkpoint_s": median([(m.get("walCommit", 0) + m.get("commitOffsets", 0))
                                          / 1e3 for m in ms]),
        "streaming.planning_s": median([m.get("queryPlanning", 0) / 1e3 for m in ms]),
        "streaming.state_rows": max([s["rows"] for s in state], default=0),
        "streaming.state_bytes": max([s["bytes"] for s in state], default=0),
        "streaming.state_commit_s": median([s["commit_ms"] / 1e3 for s in state]),
        "streaming.late_rows_dropped": sum(s["dropped"] for e in everything for s in e["state"]),
        "streaming.partitions_per_batch": median([len(v) for v in jobs.values()]),
        "streaming.files_written": sum(dir_stats(o)[0] for o in outputs),
        "tablefmt.write_version_s": median(spans("tablefmt.write_version")),
        "tablefmt.write_mor_upsert_s": median(spans("tablefmt.write_mor_upsert")),
        "tablefmt.read_table_s": median(spans("tablefmt.read_table")),
        "tablefmt.bytes_written": run.tracer.counts["tablefmt.bytes_written"],
        "tablefmt.chain_depth": tablefmt.mor_chain_depth(cat.table_path("dims.users")),
        "tablefmt.rows_written_per_row_changed":
            run.tracer.counts["tablefmt.rows_written"] / max(1, changed),
    })


def _tier_files(cat) -> dict[str, int]:
    """Size of every parquet file of the catalog's tables, by path."""
    out = {}
    for ns in cat.namespaces():
        for t in cat.tables(ns):
            for root, _dirs, files in os.walk(cat.table_path(f"{ns}.{t}")):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        out[p] = os.path.getsize(p)
    return out


def _stream_workload(run: Run, tables: tuple[str, ...], serve: bool) -> None:
    """Generate the streams' inputs, create ``tables`` (the timed set-up)
    and drain the streams into them; with ``serve``, then run the serve
    loop over the uncompacted tables and one maintenance pass.  The
    checks run last, outside the timed region."""
    from real_timetransactionaldatalakehouse_spark import maintenance

    spark = run.spark
    n_cdc = run.sized(CDC_BATCHES, 4)
    n_files = run.sized(INGEST_FILES, 4)
    src, d = run.inputs, os.path.join(run.work, "tier")
    run.props = _generate_tier(src, run.seed, serve, n_files, INGEST_EVENTS_PER_FILE,
                               INGEST_SPAN_S, CDC_KEYS, n_cdc, CDC_PER_BATCH)
    cat = run.set_up(lambda: _create_tables(spark, d, tables))
    if run.tracer:
        _trace_tier(run)
    run.begin_timed()
    cpu = TaskCpu(spark)
    cpu.mark()
    queries, phases = _run_tier(spark, src, d, cat)
    costed_cpu = cpu.seconds(batch_from=COSTED_FROM_BATCH)
    drain = sum(phases.values())
    wait_for_progress(run.progress, queries.values())
    batches = {k: run.progress.data_batches(str(q.id)) for k, q in queries.items()}
    warm = {k: [b for b in v if b["batch"] >= 1] for k, v in batches.items()}
    walls = {k: [b["ms"]["triggerExecution"] / 1e3 for b in v] for k, v in warm.items()}
    # the write latency is the mean of the write queries' median
    # micro-batch walls (bronze, gold, dims): their batches take different
    # times, so the median of the union would sit in one query's cluster
    run.latency_p50 = sum(median(w) for w in walls.values()) / len(walls)
    costed_rows = sum(b["rows"] for v in batches.values() for b in v
                      if b["batch"] >= COSTED_FROM_BATCH)
    run.latencies = [x for w in walls.values() for x in w]
    events = run.props.get("events", {}).get("events", 0)
    envelopes = n_cdc * CDC_PER_BATCH
    in_bytes = (dir_stats(os.path.join(src, "events"))[1]
                + dir_stats(os.path.join(src, "cdc"), ".json")[1])
    before = _tier_files(cat)
    content = walls.get("bronze", []) + walls.get("gold", [])
    if content:
        run.report.update({"batch_p50_s": median(content),
                           "batch_p90_s": percentile(content, 0.9),
                           "batch_samples": len(content),
                           "bronze_batch_p50_s": median(walls["bronze"]),
                           "gold_batch_p50_s": median(walls["gold"]),
                           "content_events_per_s": events / phases["content"]})
    run.report.update({
        "commit_p50_s": median(walls["dims"]), "commit_p90_s": percentile(walls["dims"], 0.9),
        "commit_samples": len(walls["dims"]),
        "cdc_envelopes_per_s": envelopes / phases["dims"],
        "events_per_s": (events + envelopes) / drain,
        "costed_batch_task_cpu_s": costed_cpu,
        "bytes_written_per_input_byte": sum(before.values()) / in_bytes,
    })
    if run.tracer:
        _tier_layer(run, cat, queries, [b for v in warm.values() for b in v])
    served = {}
    if serve:
        served = _serve(run, cat, n_files * INGEST_SPAN_S)
        cpu.mark()
        t1 = time.perf_counter()
        maintenance.run_maintenance(spark, cat)
        run.report["maintenance_s"] = time.perf_counter() - t1
        run.report["maintenance_task_cpu_s"] = cpu.seconds()
    else:
        run.units, run.wall = events + envelopes, drain
    run.end_timed()
    # the gated cost: task CPU per input row of the streams' micro-batches
    # (bronze, gold and dims queries together), the first batches excepted
    run.task_cpu_ms_per_event = 1e3 * costed_cpu / costed_rows
    con = check.connect()
    _twins(con, src)
    run.attempted += sum(len(v) for v in batches.values()) + serve
    if run.tracer:
        run.tracer.restore()
        if serve:
            spans = run.tracer.durations
            after = _tier_files(cat)
            run.layer.update({
                "maintenance.compact_s": sum(spans("maintenance.compact")),
                "maintenance.expire_s": sum(spans("maintenance.expire_snapshots")),
                "maintenance.files_before": len(before),
                "maintenance.files_after": len(after),
                # bytes of the files the pass wrote (present now, absent before)
                "maintenance.bytes_rewritten": sum(n for p, n in after.items()
                                                   if p not in before),
            })
            run.layer["operators.window_counts_s"] = _window_counts_s(spark, src)
    _check_tier(run, con, cat, batches)
    if serve:
        run.report["late_events_dropped_by_watermark"] = check.events_late_dropped(con)
        _check_serve(run, con, served)


def _window_counts_s(spark, src: str) -> float:
    """The gold aggregation's own cost per micro-batch: the same
    operator run as a batch job on single input files (noop sink)."""
    from real_timetransactionaldatalakehouse_spark import schemas
    from real_timetransactionaldatalakehouse_spark.operators.relational import (
        tumbling_window_counts,
    )

    events = os.path.join(src, "events")
    return median([
        _noop_s(tumbling_window_counts(
            spark.read.schema(schemas.CONTENT_EVENT_SCHEMA).parquet(os.path.join(events, f)),
            "event_timestamp", "1 minute", ["user_id"], _gold_cases()))
        for f in sorted(os.listdir(events))[1:6]])


def ingest(run: Run) -> None:
    """The streaming tier in one session: the content stream lands in
    bronze (append) and gold (windowed counts, 16 buckets) as two
    concurrent queries, then the CDC stream upserts the user dimension;
    then the serve loop reads the uncompacted gold and dims, as a live
    dashboard sees them; then one maintenance pass over the three tables."""
    _stream_workload(run, ("bronze.content_events", "gold.stats_1min", "dims.users"), True)


def cdc_upsert(run: Run) -> None:
    """The CDC stream alone: envelopes -> parse_cdc_envelope ->
    dims_scd1_stream (default write mode) into a dimension 100x a batch."""
    _stream_workload(run, ("dims.users",), False)


# -- serve ----------------------------------------------------------------

def _as_of(span_s: int, back_min: int) -> str:
    end = datetime.fromtimestamp(gen.T0_MS / 1000, tz=timezone.utc) + timedelta(
        seconds=span_s - back_min * 60)
    return end.strftime("%Y-%m-%d %H:%M:%S")


def _serve(run: Run, cat, span_s: int) -> dict:
    """Closed loop of 2 clients for the run's seconds over a seeded mix
    of dashboard views and point lookups on gold and dims.  Returns each
    distinct query's first result and its repeats' row counts."""
    from pyspark.sql import functions as F
    from real_timetransactionaldatalakehouse_spark import catalog, serving, session

    # the streams have ended: serve under the batch profile, which
    # getOrCreate applies to the running session's SQL settings
    spark = session.batch_session()
    spark.sparkContext.setLogLevel("ERROR")
    gold_df = cat.read("gold.stats_1min")
    serving.register_gold_views(
        spark, gold_df, cat.read("dims.users").withColumnRenamed("ltv_segment", "c_mktsegment"))
    rng = np.random.default_rng([run.seed, 4])
    as_of = _as_of(span_s, 10)
    # users are uniform in the reference's generator, so the looked-up
    # keys are too; gold holds users of the content stream, dims all keys
    hot = {
        "bucket_lookup": [f"u{k:06d}" for k in rng.choice(gen.N_USERS, SERVE_HOT_KEYS)],
        "dim_lookup": [f"u{k:06d}" for k in rng.choice(CDC_KEYS, SERVE_HOT_KEYS)],
    }
    dashboards = [("dashboard", v, as_of) for v in SERVE_VIEWS]
    # a fixed round of six views and four lookups keeps the mix's
    # composition the same for every seed; the seed picks the keys
    mix = [("dashboard", name, as_of) if name in SERVE_VIEWS
           else ("lookup", name, str(rng.choice(hot[name])))
           for _ in range(SERVE_MIX_LEN // len(SERVE_ROUND)) for name in SERVE_ROUND]
    tracer = run.tracer
    def build(q):
        _kind, name, arg = q
        if name == "bucket_lookup":
            return serving.bucket_pruned_lookup(gold_df, "user_id", arg, n_buckets=GOLD_BUCKETS)
        if name == "dim_lookup":
            return cat.read("dims.users").filter(F.col("user_id") == arg)
        return getattr(serving, name)(spark, arg)

    cols = {"bucket_lookup": check.GOLD_COLS, "dim_lookup": check.DIM_COLS}
    results: dict = {}
    lock = threading.Lock()

    def execute(q) -> float:
        t0 = time.perf_counter()
        df = build(q)
        if tracer:
            df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        if tracer:
            tracer.sample("serving.plan_s", t1 - t0)
            tracer.sample("serving.exec_s", t2 - t1)
            tracer.sample(f"serving.{q[1]}_s", t2 - t0)
            tracer.sample("serving.files_scanned", plan_files_scanned(df))
        with lock:
            if q in results:
                results[q][1].append(len(rows))
            else:
                c = cols.get(q[1])
                results[q] = ([tuple(r[k] for k in c) if c else tuple(r) for r in rows], [])
        return t2 - t0

    def closed_loop(seconds: float) -> tuple[list, list, float]:
        samples: list[tuple[str, float]] = []
        errors: list[str] = []
        deadline = time.perf_counter() + seconds

        def client(c: int) -> None:
            i = c
            while time.perf_counter() < deadline:
                q = mix[i % len(mix)]
                i += SERVE_CLIENTS
                try:
                    lat = execute(q)
                except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                    with lock:
                        errors.append(f"{q}: {type(e).__name__}: {e}"[:300])
                    continue
                with lock:
                    samples.append((q[0], lat))

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,)) for c in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return samples, errors, time.perf_counter() - t0

    # a live dashboard is warm: each kind of query runs once, untimed,
    # so that the timed loop does not pay for compiling it
    for q in dashboards + [next(q for q in mix if q[1] == k) for k in hot]:
        execute(q)
    results.clear()
    if tracer:
        for k in [k for k in tracer.samples if k.startswith("serving.")]:
            del tracer.samples[k]
        tracer.wrap(catalog.Catalog, "read", "catalog.read")
        mark = len(tracer.spans)

    cpu = TaskCpu(spark)
    cpu.mark()
    samples, errors, run.wall = closed_loop(run.seconds)
    query_cpu = cpu.seconds()
    if tracer:
        run.layer.update({k: median(v) for k, v in tracer.samples.items()
                          if k.startswith("serving.")})
        run.layer["catalog.read_s"] = median(tracer.durations("catalog.read", mark))
        run.layer["tablefmt.read_table_s"] = median(tracer.durations("tablefmt.read_table",
                                                                     mark))

    dash = [s for k, s in samples if k == "dashboard"]
    look = [s for k, s in samples if k == "lookup"]
    run.units = len(samples)
    run.attempted += len(samples) + len(errors)
    run.failed += len(errors)
    run.report.update({
        "dashboard_p50_s": median(dash), "dashboard_p90_s": percentile(dash, 0.9),
        "dashboard_samples": len(dash),
        "lookup_p50_s": median(look), "lookup_p90_s": percentile(look, 0.9),
        "lookup_samples": len(look),
        "queries_per_s": run.units / run.wall,
        "query_task_cpu_s": query_cpu / max(1, run.units),
    })
    if errors:
        run.report["query_errors"] = errors[:5]
    return results


def _check_serve(run: Run, con, results: dict) -> None:
    """Every distinct view and lookup against the twins' SQL; every
    repeat of a query must return as many rows as its first run."""
    con.execute("CREATE VIEW gold_stats_1min AS SELECT * FROM gold_twin")
    con.execute("CREATE VIEW dim_entity AS SELECT *, ltv_segment AS c_mktsegment FROM dim_twin")
    lookup_sql = {
        "bucket_lookup": f"SELECT {', '.join(check.GOLD_COLS)} FROM gold_twin",
        "dim_lookup": f"SELECT {', '.join(check.DIM_COLS)} FROM dim_twin",
    }
    for q, (first, counts) in results.items():
        _kind, name, arg = q
        if name in lookup_sql:
            want = con.execute(lookup_sql[name] + " WHERE user_id = ?", [arg]).fetchall()
        else:
            want = con.execute(check.view_sql(name, arg)).fetchall()
        ok = check.same_rows(first, want) and all(c == len(first) for c in counts)
        run.record_check({"check": f"serve.{name}[{arg}]", "ok": ok,
                          "rows_expected": len(want), "rows_got": len(first)}, 1 + len(counts))


# -- medallion_batch ------------------------------------------------------

def _medallion_rules():
    from pyspark.sql import functions as F

    return {
        "has_user": F.col("user_id").isNotNull(),
        "has_ts": F.col("ts").isNotNull(),
        "known_type": F.col("event_type").isin(*check.KNOWN_TYPES),
    }


def _trace_operators(run) -> None:
    """Lazy operators: each call's metric is the forced execution (noop
    sink) of its output minus that of its input."""
    from real_timetransactionaldatalakehouse_spark import medallion, quality

    def forced(metric, pick=lambda r: r):
        def on_exit(args, kwargs, result, tracer):
            tracer.sample(metric, max(0.0, _noop_s(pick(result)) - _noop_s(args[0])))
        return on_exit

    run.tracer.wrap(quality, "quality_gate", "quality.gate",
                    forced("quality.gate_s", lambda r: r[0]))
    for attr, metric in (("sessionize", "operators.sessionize_s"),
                         ("asof_join", "operators.asof_join_s"),
                         ("tumbling_window_counts", "operators.window_counts_s"),
                         ("latest_state", "operators.latest_state_s")):
        run.tracer.wrap(medallion, attr, f"operators.{attr}", forced(metric))


def medallion_batch(run: Run) -> None:
    """T+1 rebuild: build_silver (quality gate, sessionize, as-of
    enrichment) then build_gold_window_stats and build_gold_latest_state,
    all written as parquet, a fixed number of times (the first, cold
    rebuild is not sampled)."""
    from real_timetransactionaldatalakehouse_spark import medallion

    spark = run.spark
    n_events = run.sized(MEDALLION_EVENTS, 20_000)
    d = run.inputs
    run.props = gen.medallion_inputs(d, run.seed, n_events)
    out = {k: os.path.join(run.work, "out", k) for k in ("silver", "gold_window", "gold_latest")}
    if run.tracer:
        _trace_operators(run)
    stages: dict[str, list[float]] = {k: [] for k in out}
    walls, cpu = [], []
    task_cpu = TaskCpu(spark)
    run.begin_timed()
    for _ in range(run.sized(MEDALLION_REBUILDS, 2)):
        task_cpu.mark()
        t0 = time.perf_counter()
        medallion.build_silver(
            spark.read.parquet(os.path.join(d, "bronze")),
            spark.read.parquet(os.path.join(d, "dim_timeline")),
            ts_col="ts", user_col="user_id", expectations=_medallion_rules(),
        ).write.mode("overwrite").parquet(out["silver"])
        t1 = time.perf_counter()
        medallion.build_gold_window_stats(
            spark.read.parquet(out["silver"]), ts_col="ts", entity_col="user_id",
        ).write.mode("overwrite").parquet(out["gold_window"])
        t2 = time.perf_counter()
        medallion.build_gold_latest_state(
            spark.read.parquet(os.path.join(d, "orders")),
        ).write.mode("overwrite").parquet(out["gold_latest"])
        t3 = time.perf_counter()
        walls.append(t3 - t0)
        cpu.append(task_cpu.seconds())
        for k, s in zip(stages, (t1 - t0, t2 - t1, t3 - t2)):
            stages[k].append(s)
    run.end_timed()
    warm = walls[1:]
    run.latencies = warm
    run.wall = sum(warm)
    run.units = n_events * len(warm)
    run.task_cpu_ms_per_event = median(cpu[1:]) * 1e3 / n_events
    run.attempted = 3 * len(walls)
    in_bytes = sum(dir_stats(os.path.join(d, k))[1] for k in ("bronze", "dim_timeline", "orders"))
    run.report.update({
        "rebuild_p50_s": median(warm),
        "rebuild_samples": len(warm),
        "rebuild_task_cpu_s": median(cpu[1:]),
        "events_per_s": run.units / run.wall,
        **{f"{k}_p50_s": median(v[1:]) for k, v in stages.items()},
        "bytes_written_per_input_byte": sum(dir_stats(p)[1] for p in out.values()) / in_bytes,
    })
    if run.tracer:
        run.tracer.restore()
        run.layer.update({k: median(v) for k, v in run.tracer.samples.items()})
        run.layer["medallion.build_silver_s"] = median(stages["silver"][1:])

    con = check.connect()
    con.execute("CREATE TABLE silver_twin AS " + check.silver_twin_sql(
        os.path.join(d, "bronze"), os.path.join(d, "dim_timeline")))
    reps = len(walls)
    run.record_check(check.diff(con, check.parquet_dir(out["silver"], check.SILVER_COLS),
                                "(SELECT * FROM silver_twin)", "medallion.silver"), reps)
    run.record_check(check.diff(con, check.parquet_dir(out["gold_window"], check.GOLD_COLS),
                                f"({check.gold_from_silver_sql('silver_twin')})",
                                "medallion.gold_window_stats"), reps)
    run.record_check(check.diff(con, check.parquet_dir(out["gold_latest"], check.ORDER_COLS),
                                f"({check.latest_state_twin_sql(os.path.join(d, 'orders'))})",
                                "medallion.gold_latest_state"), reps)


WORKLOADS = {
    "ingest": ingest,
    "cdc_upsert": cdc_upsert,
    "medallion_batch": medallion_batch,
}
