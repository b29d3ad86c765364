"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Runs one workload (``ingest``, ``medallion_batch``, or the unlisted
``cdc_upsert``) in one process on Spark ``local[nproc]``.  Prints a
report line (host, generated input properties, every end-to-end metric
of the workload under its own name, the correctness checks) and, as the
last line, the result object ``{"correct", "attempted", "failed",
"metrics"}``: the gated end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Exits non-zero without a result
when the package or its dependencies are missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_timetransactionaldatalakehouse_spark"

#: metrics every run prints with --trace 0 (BENCHMARK.json end_to_end)
END_TO_END = {
    "setup_s": "s",
    "task_cpu_ms_per_event": "ms",
}

#: metrics every run prints with --trace 1 (BENCHMARK.json per_layer);
#: a layer the workload's timed region does not call reads 0
PER_LAYER = {
    "sources.rows_per_batch": "rows", "sources.get_batch_s": "s",
    "streaming.add_batch_s": "s", "streaming.checkpoint_s": "s", "streaming.planning_s": "s",
    "streaming.state_rows": "rows", "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s", "streaming.late_rows_dropped": "rows",
    "streaming.partitions_per_batch": "count", "streaming.files_written": "count",
    "tablefmt.write_version_s": "s", "tablefmt.write_mor_upsert_s": "s",
    "tablefmt.read_table_s": "s", "tablefmt.bytes_written": "bytes",
    "tablefmt.chain_depth": "count", "tablefmt.rows_written_per_row_changed": "ratio",
    "quality.gate_s": "s", "operators.sessionize_s": "s", "operators.asof_join_s": "s",
    "operators.window_counts_s": "s", "operators.latest_state_s": "s",
    "medallion.build_silver_s": "s", "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "serving.velocity_view_s": "s", "serving.trending_view_s": "s",
    "serving.spike_view_s": "s", "serving.doomscroll_view_s": "s",
    "serving.cold_start_view_s": "s", "serving.freshness_view_s": "s",
    "serving.bucket_lookup_s": "s", "serving.dim_lookup_s": "s",
    "serving.plan_s": "s", "serving.exec_s": "s", "serving.files_scanned": "count",
    "catalog.read_s": "s",
    "maintenance.compact_s": "s", "maintenance.expire_s": "s",
    "maintenance.files_before": "count", "maintenance.files_after": "count",
    "maintenance.bytes_rewritten": "bytes",
    "session.start_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "spark.jobs": "count", "spark.tasks": "count",
    "trace.latency_p50_s": "s", "trace.task_cpu_ms_per_event": "ms",
}

#: units of the workload-specific end-to-end metrics in the report line
REPORT_UNITS = {
    "latency_p50_s": "s", "throughput_per_s": "1/s", "task_cpu_ms_per_event": "ms",
    "events_per_s": "events/s", "queries_per_s": "queries/s", "maintenance_s": "s",
    "content_events_per_s": "events/s", "cdc_envelopes_per_s": "envelopes/s",
    "bytes_written_per_input_byte": "ratio", "failed_ratio": "ratio",
    "setup_s": "s", "peak_memory_mb": "MB",
}

WORKLOAD_NAMES = ("ingest", "cdc_upsert", "medallion_batch")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def missing_dependency() -> str | None:
    sys.path.insert(0, ROOT)
    for mod in (PACKAGE, "pyspark", "duckdb", "pyarrow", "numpy"):
        if importlib.util.find_spec(mod) is None:
            return mod
    return None


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (``steal`` in
    ``/proc/stat``), summed over CPUs; 0 where it is not reported."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def configure_env(work: str) -> dict:
    """Keep every file the run (Python, Spark, the JVM) writes inside
    the work directory, pin the session to ``local[nproc]`` and UTC."""
    nproc = len(os.sched_getaffinity(0))
    host = {
        "nproc": nproc,
        "loadavg_start": os.getloadavg(),
        "cpu_steal_s": -cpu_steal_s(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # no hsperfdata files in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    time.tzset()
    return host


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = missing_dependency()
    if missing:
        print(f"perfbench: cannot import {missing}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    host = configure_env(work)

    import duckdb
    import pyspark

    from perfbench import workloads
    from perfbench.trace import Tracer, make_progress_log, median

    t0 = time.perf_counter()
    from real_timetransactionaldatalakehouse_spark import session

    make = (session.streaming_session if args.workload in ("ingest", "cdc_upsert")
            else session.batch_session)
    spark = make(f"perfbench-{args.workload}")
    session_start = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer() if args.trace else None
        run = workloads.Run(spark, os.path.join(work, "data"), args.seed, args.seconds,
                            tracer, make_progress_log(spark))
        workloads.WORKLOADS[args.workload](run)
        memory = run.heap_peak_mb + run.workers_peak_mb
        host.update({
            "loadavg_end": os.getloadavg(),
            "cpu_steal_s": host["cpu_steal_s"] + cpu_steal_s(),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
            "spark_master": spark.sparkContext.master,
        })
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, run.attempted)
    correct = run.failed == 0 and all(c["ok"] for c in run.checks)
    setup_s = session_start + run.setup_s
    e2e = {"setup_s": setup_s, "task_cpu_ms_per_event": run.task_cpu_ms_per_event}
    named = {
        **e2e,
        "latency_p50_s": (run.latency_p50 if run.latency_p50 is not None
                          else median(run.latencies)),
        "throughput_per_s": run.units / run.wall,
        "peak_memory_mb": memory, "failed_ratio": run.failed / attempted,
        **run.report,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": run.props,
        "setup": {"session_start_s": session_start, "program_setup_s": run.setup_s},
        "latency_samples": len(run.latencies),
        "end_to_end": {k: metric(v, REPORT_UNITS.get(k, "s" if k.endswith("_s") else "count"))
                       for k, v in named.items() if not isinstance(v, list)},
        "checks": run.checks,
        "failed_checks": [c["check"] for c in run.checks if not c["ok"]],
    }
    if tracer:
        layer = dict.fromkeys(PER_LAYER, 0)
        layer.update({k: v for k, v in run.layer.items() if k in PER_LAYER})
        layer["session.start_s"] = session_start
        layer["jvm.heap_peak_mb"] = run.heap_peak_mb
        layer["trace.latency_p50_s"] = named["latency_p50_s"]
        layer["trace.task_cpu_ms_per_event"] = run.task_cpu_ms_per_event
        metrics = {k: metric(float(layer[k]), PER_LAYER[k]) for k in PER_LAYER}
        report["layer_self_time_s"] = tracer.self_times()
        report["spans"] = len(tracer.spans)
    else:
        metrics = {k: metric(float(e2e[k]), END_TO_END[k]) for k in END_TO_END}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
