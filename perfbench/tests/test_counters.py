"""Tests for the benchmark's Spark counters.

- Counts repeat exactly: one warm op of each workload, run twice, gives
  the same jobs, stages, tasks, shuffle bytes, files written and stored
  bytes per row, so later changes can cite them as counts.
- Counts survive status-store eviction: with ``spark.ui.retainedJobs``
  and ``retainedStages`` far below the number of jobs a run submits,
  ``sort_limit`` reads the same job/stage/task counts in the first and
  the last pass, because counters are read after every op.

Run from the repository root (about two minutes on 4 cores)::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

from run import build, machine  # noqa: E402
from tracing import SparkCounters, Spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

EXACT = ("jobs", "stages", "tasks", "shuffle_write_bytes",
         "shuffle_read_bytes", "files_written")
RETAINED = 40


@pytest.fixture(scope="module")
def work():
    d = os.path.join(BENCH, "_work", f"tests-{os.getpid()}")
    os.makedirs(os.path.join(d, "tmp"), exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    cpus, heap = machine()
    os.environ.update({"SPARK_DRIVER_MEMORY": heap,
                       "TMPDIR": os.path.join(work, "tmp")})
    s = build(work, cpus, {"spark.ui.retainedJobs": str(RETAINED),
                           "spark.ui.retainedStages": str(RETAINED),
                           "spark.sql.ui.retainedExecutions": str(RETAINED)})
    yield s
    s.stop()


def per_op(records: list[dict]) -> list[tuple[str, dict]]:
    """(op name, counters summed over the op and its children) per op."""
    out: dict[int, list] = {}
    for r in records:
        name, tot = out.setdefault(r["op"], [None, {}])
        for k, v in r["counters"].items():
            tot[k] = tot.get(k, 0) + v
        if r["parent"] is None:
            out[r["op"]][0] = r["name"]
    return [(name, tot) for name, tot in out.values()]


def run_op(spark, wl, op: str) -> dict:
    spans = Spans(SparkCounters(spark))
    with spans.op(op):
        wl.run(spark, op, spans, collect=False)
    return per_op(spans.records)[0][1]


@pytest.mark.parametrize("name,op", [("etl_tick", None),
                                     ("sql_analytics", "q7_volume"),
                                     ("curation_jobs", "dedup_clusters")])
def test_counters_repeat_exactly(spark, work, name, op):
    wl = WORKLOADS[name]()
    try:
        wl.prepare(spark, os.path.join(work, name), seed=7)
        op = op or wl.dates[0]
        run_op(spark, wl, op)  # the cold run fills caches; compare warm runs
        a = run_op(spark, wl, op)
        stored_a = wl.stored_bytes_per_row(a)
        b = run_op(spark, wl, op)
    finally:
        wl.cleanup()
    assert a["jobs"] > 0 and a["tasks"] > 0
    assert {k: a[k] for k in EXACT} == {k: b[k] for k in EXACT}
    assert stored_a == wl.stored_bytes_per_row(b) > 0
    if name == "etl_tick":
        assert a["files_written"] > 0 and a["partitions_written"] > 0


def test_counts_survive_status_store_eviction(spark, work):
    wl = WORKLOADS["sql_analytics"]()
    wl.ops = ["sort_limit", "q1_pricing", "q4_priority", "q7_volume"]
    wl.prepare(spark, os.path.join(work, "evict"), seed=3)
    counters = SparkCounters(spark)
    first_job = counters.next_job
    spans = Spans(counters)
    for _ in range(8):
        for op in wl.ops:
            with spans.op(op):
                wl.run(spark, op, spans, collect=False)
    runs = [c for name, c in per_op(spans.records) if name == "sort_limit"]
    assert counters.next_job - first_job > 2 * RETAINED
    store = spark.sparkContext._jsc.sc().statusStore()
    with pytest.raises(Exception):
        store.job(first_job)  # the first pass's jobs were evicted ...
    key = ("jobs", "stages", "tasks")
    # ... yet the last pass reads the same counts as the first
    assert runs[0]["jobs"] > 0
    assert [runs[0][k] for k in key] == [runs[-1][k] for k in key]
