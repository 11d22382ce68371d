"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_tick --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run

1. sets up three times (session build, input generation and staging, a
   warm-up query) and keeps the last session and inputs; ``setup_s`` is
   the median of the three;
2. runs the cold pass: every op once in the fresh session, collecting
   its output;
3. runs whole warm passes, output to the noop sink: ``--seconds`` over
   the workload's nominal pass time, at least one;
4. checks the outputs (DuckDB oracles, or the loaded row counts) outside
   any timed region.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also runs a
second, traced window of at least two passes that reads Spark's counters
after every layer call, and prints the per-layer metrics; the time spent
reading counters is reported as ``trace.overhead_s``, and the warm
``op_s.p50`` of the traced window's first and second half of passes as
``drift.*``.  Per-layer times that only some workloads have (they would
read exactly 0 on every run of the others) are printed on the ``layers``
line, and every span is written to ``perfbench/_traces/``.

All scratch files live under ``perfbench/_work/`` and are removed at
exit, as is the stream source ``curation_jobs`` has the package stage
under ``/tmp``.  Exits 2 without a result when the package is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUPS = 3


def machine() -> tuple[int, str]:
    """``local[n]`` width and driver heap for this machine: every usable
    core, and a sixth of RAM clamped to 1-4 GiB (the machine is shared,
    and the driver JVM is also the executor in local mode)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return cpus, f"{max(1, min(4, kib // 2**20 // 6))}g"


def build(work: str, cpus: int, extra: dict[str, str] | None = None):
    """The package's session, with every scratch path under ``work``."""
    from ethereum2_etl_airflow_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData",
            **(extra or {}),
        })


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def steal_frac(since: tuple[int, int]) -> float:
    total, stolen = (b - a for a, b in zip(since, cpu_jiffies()))
    return stolen / max(total, 1)


def peak_rss_mb(spark) -> float:
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm(jvm_pid) + hwm("self")) / 1024.0


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] \
        if len(xs) > 1 else xs[0]


def halves_p50(walls: list[float], passes: int) -> list[float] | None:
    """Median op wall of the first and of the second half of the passes."""
    half = len(walls) // passes * (passes // 2)
    return [statistics.median(walls[:half]),
            statistics.median(walls[half:])] if half else None


def run_window(spark, wl, passes: int, spans) -> dict:
    """``passes`` whole warm passes."""
    walls, failures = [], []
    t0 = time.perf_counter()
    for _ in range(passes):
        for op in wl.ops:
            spark.sparkContext.setJobGroup(op, f"perfbench warm {op}")
            t, read0 = time.perf_counter(), spans.read_s
            try:
                with spans.op(op):
                    wl.run(spark, op, spans, collect=False)
            except Exception as ex:  # one failed op must not end the run
                failures.append(f"{op}: {type(ex).__name__}: {str(ex)[:200]}")
            # counter reads are tracing overhead, not op time
            walls.append(time.perf_counter() - t - (spans.read_s - read0))
    return {"walls": walls, "failures": failures, "passes": passes,
            "elapsed": time.perf_counter() - t0}


def layer_metrics(records: list[dict]) -> tuple[dict, dict]:
    """Per-op means of the traced window's spans and counters.  Returns
    (metrics every workload has, times only some workloads have)."""
    from tracing import COUNTERS
    from workloads import CURATION

    zero = dict.fromkeys(COUNTERS, 0.0)
    tot = dict(zero)
    layer = {k: dict(zero) for k in ("load", "verify", "plans.build", "exec", "sources")}
    span_s = dict.fromkeys(("load", "verify", "plans.build", "exec"), 0.0)
    ops: dict[int, dict] = {}
    for r in records:
        c, d = r["counters"], r["end"] - r["start"] - r["read_s"]
        o = ops.setdefault(r["op"], {"name": None, "wall": 0.0, "child": 0.0, "jobs": 0})
        o["jobs"] += c["jobs"]
        for k in COUNTERS:
            tot[k] += c[k]
        if r["parent"] is None:
            o["name"], o["wall"] = r["name"], d
            continue
        o["child"] += d
        key = r["name"] if r["name"] in span_s else r["name"].split(".")[0]
        span_s[key] += d
        for k in COUNTERS:
            layer[key][k] += c[k]
            if key != "verify":  # everything else reads the staged inputs
                layer["sources"][k] += c[k]
    n = len(ops)
    wall = sum(o["wall"] for o in ops.values())
    per_check: dict[str, list] = {}
    for o in ops.values():
        per_check.setdefault(o["name"], []).append(o)

    def m(x: float) -> float:
        return x / n

    common = {
        "sources.read_rows": (m(layer["sources"]["input_records"]), "count"),
        "sources.input_bytes": (m(layer["sources"]["input_bytes"]), "B"),
        "load.jobs": (m(layer["load"]["jobs"]), "count"),
        "load.files_written": (m(layer["load"]["files_written"]), "count"),
        "load.bytes_written": (m(layer["load"]["bytes_written"]), "B"),
        "load.partitions_written": (m(layer["load"]["partitions_written"]), "count"),
        "verify.jobs": (m(layer["verify"]["jobs"]), "count"),
        "verify.input_bytes": (m(layer["verify"]["input_bytes"]), "B"),
        "plans.build_jobs": (m(layer["plans.build"]["jobs"]), "count"),
        "exec.jobs": (m(layer["exec"]["jobs"]), "count"),
        "op.self_s": (m(wall - sum(o["child"] for o in ops.values())), "s"),
        "spark.jobs": (m(tot["jobs"]), "count"),
        "spark.stages": (m(tot["stages"]), "count"),
        "spark.tasks": (m(tot["tasks"]), "count"),
        "spark.job_s": (m(tot["job_s"]), "s"),
        "spark.driver_s": (m(wall - tot["job_s"]), "s"),
        "spark.executor_run_s": (m(tot["executor_run_s"]), "s"),
        "spark.executor_cpu_s": (m(tot["executor_cpu_s"]), "s"),
        "spark.gc_s": (m(tot["gc_s"]), "s"),
        "spark.shuffle_write_bytes": (m(tot["shuffle_write_bytes"]), "B"),
        "spark.shuffle_read_bytes": (m(tot["shuffle_read_bytes"]), "B"),
        "spark.spill_bytes": (m(tot["spill_bytes"]), "B"),
        "spark.input_bytes": (m(tot["input_bytes"]), "B"),
        "spark.output_bytes": (m(tot["output_bytes"]), "B"),
        "sql.python_bytes": (m(tot["python_bytes"]), "B"),
        "streaming.batches": (m(tot["stream_batches"]), "count"),
    }
    for name in CURATION:
        runs = per_check.get(name, [])
        common[f"check.{name}.jobs"] = (
            statistics.mean(o["jobs"] for o in runs) if runs else 0, "count")
    partial = {
        "load.s": (m(span_s["load"]), "s"),
        "verify.s": (m(span_s["verify"]), "s"),
        "plans.build_s": (m(span_s["plans.build"]), "s"),
        "exec.s": (m(span_s["exec"]), "s"),
        "sql.python_worker_s": (m(tot["python_worker_s"]), "s"),
        "sql.broadcast_build_s": (m(tot["broadcast_build_s"]), "s"),
        "streaming.planning_s": (m(tot["stream_planning_s"]), "s"),
        "streaming.add_batch_s": (m(tot["stream_add_batch_s"]), "s"),
        "streaming.commit_s": (m(tot["stream_commit_s"]), "s"),
    }
    for name in CURATION:
        if name in per_check:
            partial[f"check.{name}.s"] = (
                statistics.mean(o["wall"] for o in per_check[name]), "s")
    return common, partial


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "ethereum2_etl_airflow_spark")):
        print("perfbench: run from a checkout that holds the "
              "ethereum2_etl_airflow_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from tracing import SparkCounters, Spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus, heap = machine()
    # steal: CPU time the hypervisor gave to other machines while this
    # one wanted it; a run with high steal is slow in every op
    jiffies0 = cpu_jiffies()
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({"SPARK_DRIVER_MEMORY": heap, "TMPDIR": tmp,
                       "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                       # the JVM that spark-submit runs to build the driver's
                       # command line would write to /tmp/hsperfdata_*
                       "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"})
    wl = WORKLOADS[args.workload]()
    spark = result = None
    try:
        setups, builds, stages = [], [], []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()  # teardown, not set-up: its time varies 2x
            t0 = time.perf_counter()
            spark = build(work, cpus)
            t1 = time.perf_counter()
            wl.prepare(spark, os.path.join(work, f"inputs{i}"), args.seed)
            t2 = time.perf_counter()
            spark.range(1000).selectExpr("sum(id)").collect()  # warm-up
            setups.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
            stages.append(t2 - t1)
            if i:
                shutil.rmtree(os.path.join(work, f"inputs{i - 1}"))

        counters = SparkCounters(spark)
        quiet = Spans()
        outputs, failures = {}, []
        first = list(wl.ops)
        t0 = time.perf_counter()
        for op in first:
            spark.sparkContext.setJobGroup(op, f"perfbench cold {op}")
            try:
                with quiet.op(op):
                    outputs[op] = wl.run(spark, op, quiet, collect=True)
            except Exception as ex:  # one failed op must not end the run
                failures.append(f"cold {op}: {type(ex).__name__}: {str(ex)[:200]}")
        cold_pass_s = time.perf_counter() - t0
        cold = counters.take()

        # A fixed number of passes per run, from the nominal pass time:
        # warm ops keep speeding up for several passes (JIT), so a window
        # that stops on elapsed time would measure a different mix of
        # warm-up states from run to run.
        passes = max(1, round(args.seconds / wl.pass_s))
        # start every warm window from the same heap: the cold pass's
        # garbage would otherwise be collected inside some run's first op
        spark._jvm.System.gc()
        win = run_window(spark, wl, passes, quiet)
        wrong = wl.check(spark, outputs)
        walls = win["walls"]
        p50 = statistics.median(walls)
        attempted = len(first) + len(walls)
        failures += win["failures"] + wrong
        info = {
            "workload": args.workload, "seed": args.seed, "local": cpus,
            "driver_memory": heap, "warm_ops": len(walls),
            "warm_passes": win["passes"], "tail_pct": 90,
            "tail_samples_beyond": sum(w > p90(walls) for w in walls),
            "drift_p50_halves_s": halves_p50(walls, passes),
            "setup_s": setups, "session_build_s": builds, "stage_s": stages,
            "steal_frac": steal_frac(jiffies0),
            "op_s": [[r["name"], r["end"] - r["start"]]
                     for r in quiet.records if r["parent"] is None],
        }
        if args.trace:
            traced = Spans(SparkCounters(spark, streams=True))
            spark._jvm.System.gc()
            # two passes at least, so the drift halves are whole passes
            twin = run_window(spark, wl, max(2, passes), traced)
            drift = halves_p50(twin["walls"], twin["passes"])
            attempted += len(twin["walls"])
            failures += twin["failures"]
            metrics, partial = layer_metrics(traced.records)
            metrics.update({
                "session.build_s": (statistics.median(builds), "s"),
                "session.launch_s": (builds[0], "s"),
                "sources.stage_s": (statistics.median(stages), "s"),
                "trace.overhead_s": (traced.read_s / len(twin["walls"]), "s"),
                "drift.first_half_p50_s": (drift[0], "s"),
                "drift.second_half_p50_s": (drift[1], "s"),
                "peak_rss_mb": (peak_rss_mb(spark), "MB"),
                "op_s.p50": (p50, "s"),
                "op_s.tail": (p90(walls), "s"),
            })
            print("layers " + json.dumps(
                {k: {"value": v, "unit": u} for k, (v, u) in partial.items()}))
            out = os.path.join(HERE, "_traces")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"info": info, "spans": traced.records}, fh)
        else:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "cold_pass_s": (cold_pass_s, "s"),
                "ops_per_min": (60.0 * len(walls) / win["elapsed"], "1/min"),
                "ok_frac": (1.0 - len(failures) / attempted, "frac"),
                "rows_per_s": (wl.rows_per_pass(cold) * win["passes"] / sum(walls), "1/s"),
                "stored_bytes_per_row": (wl.stored_bytes_per_row(cold), "B"),
            }
        info["failures"] = failures
        print("info " + json.dumps(info))
        result = {"correct": not failures, "attempted": attempted,
                  "failed": len(failures),
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if spark is not None:
            shutdown(spark)
        wl.cleanup()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
