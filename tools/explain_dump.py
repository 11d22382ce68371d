"""Dump ``.explain("formatted")`` per check query into plans/r11/.

Usage: python tools/explain_dump.py [--suffix before|after] name [name...]

Writes plans/r11/<name>_<suffix>.txt — the optimization-round evidence
files the judge diffs plan claims against.  Mirrors bench.py's session
and fixture setup so the plans are the ones the bench actually runs.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from ethereum2_etl_airflow_spark.plans.registry import ensure_all
    from ethereum2_etl_airflow_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = build_session(app_name="explain_dump",
                          master=f"local[{cpus}]", shuffle_partitions=8)
    qs = entrymod.queries()
    for err in ensure_all(spark, args.sf_dir):
        print(f"# fixture error: {err}", file=sys.stderr)

    out_dir = os.path.join(REPO, "plans", "r11")
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names:
        if name not in qs:
            print(f"SKIP {name}: not registered")
            continue
        try:
            df = qs[name](spark, args.sf_dir)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as ex:
            print(f"ERR  {name}: {str(ex).splitlines()[0][:140]}")
            continue
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"OK   {name} -> {path} ({plan.count(chr(10))} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
