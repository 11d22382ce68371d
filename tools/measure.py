"""Per-check records read from Spark's own status stores.

    python tools/measure.py --sf-dirs DIR[,DIR...] [--cpus 2,4] [--reps 3] \
        bpe_merges sessionize_stream ...

For each (sf dir, cpus) pair the tool builds one session at
``local[cpus]``, runs the registry's fixture bootstrap
(``plans.registry.ensure_all``), then times the ``sort_limit`` control
and each named check: one cold run and ``--reps`` warm runs, each to the
noop sink.  After every run it reads ``perfbench/tracing.SparkCounters``,
which walks the status store by job id, so the micro-batch jobs a stream
runs on its own thread count too (a job-group count misses them).

It prints one JSON record per (check, sf dir, cpus): ``cold_s``,
``warm_med_s``, the last warm run's counters (jobs, stages, tasks,
shuffle, spill, Python, broadcast and stream counters) and ``driver_s``,
the median warm wall minus the time Spark jobs were running.
``profile()`` is also bench.py's sequential pass.

Data axis: each point is an sf directory.  Points beyond the reference
test data are written by ``perfbench/datagen.write_tables(dir, sf, seed)``,
e.g. ``python -c "import sys; sys.path.insert(0, 'perfbench');
import datagen; datagen.write_tables('/tmp/sf0.4', 0.4, 1)"``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))
from tracing import SparkCounters  # noqa: E402

COUNTER_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "spill_bytes", "python_bytes", "broadcast_build_s",
                "stream_batches", "stream_planning_s")


def profile(spark, names: list[str], sf_dir: str, reps: int) -> list[dict]:
    """One record per check in ``names``, in order; a check that is not
    registered or raises gets an ``error`` record instead."""
    from ethereum2_etl_airflow_spark.plans.registry import spark_queries

    qs = spark_queries()
    counters = SparkCounters(spark, streams=True)
    out = []
    try:
        for name in names:
            rec = {"check": name, "sf_dir": sf_dir}
            walls, driver_s = [], []
            try:
                if name not in qs:
                    raise LookupError("not registered")
                for _ in range(reps + 1):
                    gc.collect()
                    spark.catalog.clearCache()
                    counters.take()
                    t0 = time.perf_counter()
                    qs[name](spark, sf_dir).write.mode("overwrite") \
                        .format("noop").save()
                    walls.append(time.perf_counter() - t0)
                    c = counters.take()
                    driver_s.append(walls[-1] - c["job_s"])
            except Exception as ex:  # noqa: BLE001 — reported in the record
                rec["error"] = " ".join(str(ex).split())[:300]
                out.append(rec)
                continue
            rec.update(cold_s=walls[0],
                       warm_med_s=statistics.median(walls[1:] or walls),
                       **{k: c[k] for k in COUNTER_KEYS},
                       driver_s=statistics.median(driver_s[1:] or driver_s))
            out.append({k: int(v) if k.endswith("_bytes")
                        else round(v, 3) if isinstance(v, float) else v
                        for k, v in rec.items()})
    finally:
        spark.streams.removeListener(counters._listener)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dirs", required=True,
                    help="comma list of sf directories")
    ap.add_argument("--cpus", default=str(os.cpu_count() or 4),
                    help="comma list of local[N] widths")
    ap.add_argument("--reps", type=int, default=3,
                    help="warm runs per check")
    ap.add_argument("names", nargs="+", help="registered check names")
    args = ap.parse_args()

    from ethereum2_etl_airflow_spark.plans.registry import ensure_all
    from ethereum2_etl_airflow_spark.session import build_session

    names = ["sort_limit"] + [n for n in args.names if n != "sort_limit"]
    for sf_dir in args.sf_dirs.split(","):
        for cpus in args.cpus.split(","):
            spark = build_session(app_name="profile",
                                  master=f"local[{cpus}]",
                                  shuffle_partitions=8)
            try:
                for err in ensure_all(spark, sf_dir):
                    print(f"# fixture error: {err}", file=sys.stderr)
                for rec in profile(spark, names, sf_dir, args.reps):
                    print(json.dumps({"cpus": int(cpus), **rec}), flush=True)
            finally:
                spark.stop()


if __name__ == "__main__":
    main()
