"""Observing the program from outside: spans around the package's public
functions, the streaming progress log, and Spark/JVM counters read
through py4j.  Nothing here edits the package; wrappers replace module
attributes for the length of a traced run and are removed afterwards.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans ``(name, start, end, parent_index)`` recorded by
    wrappers around module attributes.  A span's self time is its
    duration minus the time its child spans cover."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._patches: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper.  ``on_exit(args,
        kwargs, result, tracer)`` may add counts after the call (it runs
        inside the span, and its time is reported as tracing)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append((name, time.perf_counter(), 0.0, parent))
            stack.append(idx)
            try:
                result = original(*args, **kwargs)
                if on_exit is not None:
                    on_exit(args, kwargs, result, tracer)
                return result
            finally:
                stack.pop()
                with tracer._lock:
                    n, t0, _, p = tracer.spans[idx]
                    tracer.spans[idx] = (n, t0, time.perf_counter(), p)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the finished spans called ``name``, from span
        index ``since`` on."""
        return [e - s for n, s, e, _ in self.spans[since:] if n == name and e > 0]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, seconds."""
        child = defaultdict(float)
        for _, s, e, p in self.spans:
            if p is not None and e > 0:
                child[p] += e - s
        out = defaultdict(float)
        for i, (n, s, e, _) in enumerate(self.spans):
            if e > 0:
                out[n] += (e - s) - child[i]
        return {k: round(v, 6) for k, v in sorted(out.items())}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return float(s[k])


def make_progress_log(spark):
    """Register a ``StreamingQueryListener`` that keeps every progress
    event (``recentProgress`` keeps only the last 100) as plain dicts,
    keyed by query id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: dict[str, list[dict]] = defaultdict(list)
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [
                    {"rows": s.numRowsTotal, "bytes": s.memoryUsedBytes,
                     "commit_ms": s.commitTimeMs, "dropped": s.numRowsDroppedByWatermark}
                    for s in p.stateOperators
                ],
            }
            with self._lock:
                self.events[str(p.id)].append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def data_batches(self, query_id: str) -> list[dict]:
            with self._lock:
                return [e for e in self.events.get(query_id, []) if e["rows"] > 0]

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


def wait_for_progress(log, queries, timeout_s: float = 10.0) -> None:
    """Listener events arrive asynchronously; wait until every query's
    last batch has been delivered."""
    def delivered(q) -> bool:
        last = q.lastProgress
        got = log.events.get(str(q.id), [])
        return last is None or any(e["batch"] >= last["batchId"] for e in got)

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and not all(delivered(q) for q in queries):
        time.sleep(0.05)


#: a micro-batch job's description names its batch ("batch = 3")
_BATCH = re.compile(r"batch = (\d+)")


class _JobWindow:
    """The Spark jobs that start after a snapshot, read from the driver's
    status store once its listener bus has caught up."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._seen = set()

    def _jobs(self):
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - an internal API; fall back to a short wait
            time.sleep(0.5)
        jobs = self._store.jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def mark(self) -> None:
        self._seen = {j.jobId() for j in self._jobs()}

    def new_stages(self) -> tuple[list, list]:
        """(jobs, last attempts of their stages) since :meth:`mark`;
        skipped stages have no attempt and are left out."""
        jobs = [j for j in self._jobs() if j.jobId() not in self._seen]
        ids = set()
        for j in jobs:
            s = j.stageIds()
            ids.update(s.apply(i) for i in range(s.size()))
        stages = []
        for sid in ids:
            try:
                stages.append(self._store.lastStageAttempt(sid))
            except Exception:  # noqa: BLE001 - skipped stage
                continue
        return jobs, stages


class TaskCpu(_JobWindow):
    """Spark's ``executorCpuTime`` of the tasks of the jobs run between
    :meth:`mark` and :meth:`seconds`: CPU time of the task threads only,
    without the JIT compiler and GC threads, and not charged while the
    hypervisor runs other guests."""

    def seconds(self, batch_from: int | None = None) -> float:
        """Task CPU seconds since :meth:`mark`; with ``batch_from``, only
        of streaming micro-batch jobs numbered ``batch_from`` or later."""
        jobs, stages = self.new_stages()
        if batch_from is not None:
            keep = set()
            for j in jobs:
                m = _BATCH.search(str(j.description().getOrElse(None) or ""))
                if m and int(m.group(1)) >= batch_from:
                    s = j.stageIds()
                    keep.update(s.apply(i) for i in range(s.size()))
            stages = [s for s in stages if s.stageId() in keep]
        return sum(s.executorCpuTime() for s in stages) / 1e9


class SparkCounters(_JobWindow):
    """Deltas of Spark jobs, tasks, shuffle/spill bytes and JVM GC time
    between two snapshots, read from the driver's status store."""

    def __init__(self, spark):
        super().__init__(spark)
        self.mark()
        self._gc0 = self._gc_ms()

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def delta(self) -> dict:
        new_jobs, stages = self.new_stages()
        tasks = sum(j.numTasks() for j in new_jobs)
        shuffle = sum(s.shuffleWriteBytes() for s in stages)
        spill = sum(s.diskBytesSpilled() for s in stages)
        return {
            "spark.jobs": len(new_jobs),
            "spark.tasks": tasks,
            "operators.shuffle_bytes": shuffle,
            "operators.spill_bytes": spill,
            "jvm.gc_s": (self._gc_ms() - self._gc0) / 1000.0,
        }


def plan_files_scanned(df) -> int:
    """Sum of the ``numFiles`` SQL metric over the scans of an executed
    DataFrame (adaptive plans and query stages included)."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += metric.get().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        frontier.extend(kids)
    return out


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    return [p for p in (pools.get(i) for i in range(pools.size()))
            if p.getType().name() == "HEAP"]


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_memory_peaks(spark) -> None:
    """Start a memory measurement: reset the peak usage of the driver
    JVM's heap pools and the resident high-water mark of its Python
    workers (``clear_refs`` value 5)."""
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()
    for pid in _descendants(_jvm_pid(spark)):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def memory_peaks_mb(spark) -> tuple[float, float]:
    """Memory the program used since :func:`reset_memory_peaks`, MB: the
    sum of the driver JVM's heap pools' peak usage (in local mode every
    executor's memory is in that heap) and the sum of the high-water
    marks of the JVM's Python workers.  The benchmark's own Python
    process is left out."""
    heap = sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark))
    workers = sum(_vm_hwm_kb(p) for p in _descendants(_jvm_pid(spark))) * 1024
    return heap / 2**20, workers / 2**20


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(file count, bytes) of the ``suffix`` files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
