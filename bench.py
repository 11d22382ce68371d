"""Benchmark harness: times every registered check.

    SPARK_GRAFT_SF_DIR=DIR python bench.py

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default: every core) over the sf
directory ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data), after
the registry's fixture bootstrap (``plans.registry.ensure_all``).

Sequential pass: ``tools/measure.py``'s ``profile()`` over the
``sort_limit`` control and then every other check in name order.  Each
check runs once cold and three times warm to the noop sink, with a gc
and a cache clear before every run, and yields one record: cold wall,
warm median, jobs, stages, tasks, shuffle/spill/Python bytes, stream
batches and driver time.  The headline ``value`` is the sum of the warm
medians; the cold sum and the control's warm median ride along.

Concurrent pass (after the sequential one): one pool thread per core
(at most 32), FAIR scheduling and one child session per thread, so one
check's session-scoped conf pins never re-plan another's.  Checks are
submitted longest-first by their measured warm median, so the heavy
ones start at once and the makespan tracks total work.

Output:
- ``bench_sequential.json``: the full ``{name: warm_med_s}`` map and
  every profile record;
- ``bench_concurrent.json``: the concurrent pass's per-check walls
  (they share task slots, so they are not comparable run to run);
- stdout, in order: one ``{"pass":"sequential","queries":{...}}`` line
  of at most 1500 chars holding the slowest checks at 2 dp, then the
  headline JSON as the last line.  Nothing prints after the headline:
  a reader that keeps only the tail of stdout gets both lines whole.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

PROTOCOL = "warm-median-of-3"
REPS = 3
LEGACY_LINE_CHARS = 1500


def _compact(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def warm_times(records: list[dict]) -> dict[str, float]:
    """``{check: warm_med_s}`` for every record that did not error."""
    return {r["check"]: r["warm_med_s"] for r in records if "error" not in r}


def report(records: list[dict], conc_times: dict[str, float],
           conc_wall: float | None, sf: float | None, cpus: int,
           seq_elapsed: float | None = None) -> list[str]:
    """The stdout lines: the compact per-check map of the slowest
    checks, then the headline."""
    warm = warm_times(records)
    queries: dict[str, float] = {}
    for name, t in sorted(warm.items(), key=lambda kv: (-kv[1], kv[0])):
        more = {**queries, name: round(t, 2)}
        if len(_compact({"pass": "sequential", "queries": more})) \
                > LEGACY_LINE_CHARS:
            break
        queries = more
    errors = {r["check"] for r in records if "error" in r} | \
        {n for n, t in conc_times.items() if t < 0}
    seq_wall = round(sum(warm.values()), 3)
    headline = {"metric": "wall_sec_all_checks_sequential", "value": seq_wall,
                "unit": "sec", "protocol": PROTOCOL, "sf": sf, "cpus": cpus,
                "concurrent_wall_sec": conc_wall,
                "sequential_wall_sec": seq_wall,
                "sequential_elapsed_sec": seq_elapsed,
                "cold_sum_sec": round(sum(r["cold_s"] for r in records
                                          if "error" not in r), 3),
                "control_s": warm.get("sort_limit"),
                "n_queries": len(records), "n_errors": len(errors)}
    return [_compact({"pass": "sequential", "queries": queries}),
            json.dumps(headline)]


def run_concurrent(spark, qs, order: list[str], sf_dir: str,
                   nthreads: int) -> tuple[dict[str, float], float]:
    """Every check in ``order`` through a pool of ``nthreads`` threads,
    each on its own child session (same SparkContext, own SQLConf).
    Returns per-check walls (-1.0 for an error) and the pass wall."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    tl = threading.local()
    times: dict[str, float] = {}

    def run_one(name: str) -> None:
        if not hasattr(tl, "spark"):
            tl.spark = spark.newSession()
        t0 = time.perf_counter()
        try:
            qs[name](tl.spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as ex:  # a failing check must not hide the rest
            print(f"# bench error {name}: {str(ex).splitlines()[0][:120]}",
                  file=sys.stderr)
            times[name] = -1.0

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=nthreads) as pool:
        list(pool.map(run_one, order))
    return times, round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from ethereum2_etl_airflow_spark.plans.registry import (
        ensure_all, spark_queries)
    from ethereum2_etl_airflow_spark.session import build_session
    from tools.measure import profile

    # FAIR scheduling: under FIFO a long multi-stage job at the head of
    # the queue (streaming micro-batches, iterative k-means) holds every
    # task slot of the concurrent pass while later checks starve
    spark = build_session(app_name="bench", master=f"local[{cpus}]",
                          shuffle_partitions=8,
                          extra_conf={"spark.scheduler.mode": "FAIR"})
    # pyspark.ml is imported lazily by the ANN/minhash operators; two pool
    # threads importing pyspark.ml.wrapper at once can see a partially
    # initialized module, so import it here in the main thread
    import pyspark.ml.clustering  # noqa: F401
    import pyspark.ml.feature  # noqa: F401
    import pyspark.ml.functions  # noqa: F401

    # fixture writes and index builds stay out of the timed window
    for err in ensure_all(spark, sf_dir):
        print(f"# bench warm-up fixture error: {err}", file=sys.stderr)

    qs = spark_queries()
    t0 = time.perf_counter()
    records = profile(spark, ["sort_limit"] + sorted(set(qs) - {"sort_limit"}),
                      sf_dir, REPS)
    seq_elapsed = round(time.perf_counter() - t0, 3)
    for r in records:
        if "error" in r:
            print(f"# bench error {r['check']}: {r['error'][:120]}",
                  file=sys.stderr)
    warm = warm_times(records)
    with open(os.path.join(REPO, "bench_sequential.json"), "w") as fh:
        json.dump({"pass": "sequential", "protocol": PROTOCOL, "sf": sf,
                   "cpus": cpus, "wall_sec": round(sum(warm.values()), 3),
                   "queries": {k: round(v, 2) for k, v in warm.items()},
                   "records": records}, fh)

    nthreads = min(32, cpus)
    order = sorted(qs, key=lambda n: (-warm.get(n, 0.0), n))
    conc_times, conc_wall = run_concurrent(spark, qs, order, sf_dir, nthreads)
    with open(os.path.join(REPO, "bench_concurrent.json"), "w") as fh:
        json.dump({"pass": "concurrent", "nthreads": nthreads,
                   "wall_sec": conc_wall,
                   "queries": {k: round(v, 2) for k, v in conc_times.items()}},
                  fh)

    for line in report(records, conc_times, conc_wall, sf, cpus, seq_elapsed):
        print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
