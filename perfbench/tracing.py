"""Spans and Spark counters, read from outside the package.

``Spans`` times calls into each layer (one span per layer boundary, with
the op span as parent).  ``SparkCounters`` reads what Spark itself
recorded for the jobs and SQL executions submitted since its previous
read:

- jobs, stages and tasks from the JVM ``AppStatusStore`` (the store
  behind ``sc.statusTracker()``), including shuffle, spill, input,
  output, executor run/CPU and GC time per stage;
- per-operator SQL metrics from the ``SQLAppStatusStore`` (Python worker
  time and bytes, broadcast build time, files/bytes/partitions written);
- micro-batch durations from a ``spark.streams`` listener.

Jobs and executions are found by walking their ids forward from a
cursor, so a read costs only the new entries, and reading after every op
keeps ahead of ``spark.ui.retainedJobs``/``retainedStages`` eviction.
The listener bus is drained first, so a finished op's events are in the
store.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# SQL plan metric name -> counter it adds to (times in s, sizes in bytes)
_SQL_METRICS = {
    "time to start Python workers": "python_worker_s",
    "time to initialize Python workers": "python_worker_s",
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "time to build": "broadcast_build_s",
    "number of written files": "files_written",
    "written output": "bytes_written",
    "number of dynamic part": "partitions_written",
}

COUNTERS = (
    "jobs", "stages", "tasks", "job_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "input_records", "output_bytes",
    "python_worker_s", "python_bytes", "broadcast_build_s",
    "files_written", "bytes_written", "partitions_written",
    "stream_batches", "stream_planning_s", "stream_add_batch_s",
    "stream_commit_s",
)


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("1,234", "12 ms", "3.4 MiB", or the
    "total (min, med, max ...)\\n7.7 s (...)" form) -> seconds, bytes or
    a count."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] ms intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.totals = {"stream_batches": 0, "stream_planning_s": 0.0,
                       "stream_add_batch_s": 0.0, "stream_commit_s": 0.0}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        d = event.progress.durationMs or {}
        with self.lock:
            self.totals["stream_batches"] += 1
            self.totals["stream_planning_s"] += d.get("queryPlanning", 0) / 1e3
            self.totals["stream_add_batch_s"] += d.get("addBatch", 0) / 1e3
            self.totals["stream_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> dict:
        with self.lock:
            return dict(self.totals)


class SparkCounters:
    """Counters for everything Spark ran since the previous ``take()``."""

    def __init__(self, spark, streams: bool = False) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        #: id of the next job to read
        self.next_job = jobs.apply(0).jobId() + 1 if jobs.size() else 0
        n = self._sql.executionsCount()
        self._next_exec = (self._sql.executionsList(n - 1, 1).apply(0)
                           .executionId() + 1) if n else 0
        self._listener = None
        self._stream_seen = {}
        if streams:
            self._listener = _StreamListener()
            spark.streams.addListener(self._listener)
            self._stream_seen = self._listener.snapshot()

    def _new(self, getter, start: int):
        """Entries with ids from ``start`` up; ids are dense, so stop at
        the first missing one."""
        out, i = [], start
        while True:
            try:
                out.append(getter(i))
            except Exception:  # py4j-wrapped NoSuchElementException
                return out, i
            i += 1

    def _sql_counters(self, c: dict) -> None:
        while True:
            opt = self._sql.execution(self._next_exec)
            if opt.isEmpty():
                return
            ex = opt.get()
            names = {int(a): n for n, a in re.findall(
                r"SQLPlanMetric\((.*?),(\d+),\w+\)", ex.metrics().toString())
                if n in _SQL_METRICS}
            if names:
                values = dict(re.findall(
                    r"(\d+) -> (.*?)(?=, \d+ -> |\)$)",
                    self._sql.executionMetrics(self._next_exec).toString(),
                    re.S))
                for acc, name in names.items():
                    if str(acc) in values:
                        c[_SQL_METRICS[name]] += parse_metric(values[str(acc)])
            self._next_exec += 1

    def take(self) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        c = dict.fromkeys(COUNTERS, 0)
        jobs, self.next_job = self._new(self._store.job, self.next_job)
        intervals, seen = [], set()
        for jd in jobs:
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not sub.isEmpty() and not comp.isEmpty():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            sids = jd.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # a reused stage of an earlier, evicted job
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                c["input_bytes"] += st.inputBytes()
                c["input_records"] += st.inputRecords()
                c["output_bytes"] += st.outputBytes()
        c["jobs"] = len(jobs)
        c["job_s"] = union_s(intervals)
        self._sql_counters(c)
        if self._listener is not None:
            now = self._listener.snapshot()
            for k, v in now.items():
                c[k] = v - self._stream_seen[k]
            self._stream_seen = now
        return c


class Spans:
    """In-memory spans: name, parent, start, end (perf_counter seconds),
    seconds spent reading counters inside the span, and, when
    ``counters`` is given, the Spark counters of the span."""

    def __init__(self, counters: SparkCounters | None = None) -> None:
        self.counters = counters
        self.records: list[dict] = []
        self._op: str | None = None
        self._seq = 0
        #: seconds spent reading counters
        self.read_s = 0.0

    def _take(self) -> dict:
        """The counters, timing the read as tracing overhead."""
        t = time.perf_counter()
        c = self.counters.take()
        self.read_s += time.perf_counter() - t
        return c

    def _close(self, name: str, parent: str | None, t0: float,
               read_s: float = 0.0) -> None:
        rec = {"name": name, "parent": parent, "op": self._seq,
               "start": t0, "end": time.perf_counter(), "read_s": read_s}
        if self.counters is not None:
            rec["counters"] = self._take()
        self.records.append(rec)

    @contextmanager
    def op(self, name: str):
        """The op span; its counters hold only work outside any child, and
        its ``read_s`` the time its children spent reading counters."""
        if self.counters is not None:
            self._take()  # drop work done between ops, if any
        self._seq += 1
        self._op, t0, read0 = name, time.perf_counter(), self.read_s
        try:
            yield
        finally:
            self._op = None
            self._close(name, None, t0, self.read_s - read0)

    @contextmanager
    def child(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._close(name, self._op, t0)
