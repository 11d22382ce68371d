"""SparkSession factory tuned for this engine.

The reference performs no execution of its own (SURVEY.md §4) — BigQuery
does.  Here the session IS the engine, so scale posture is set centrally:

- **UTC everywhere**: the reference's timestamps are UTC beacon-chain times
  (`build_hourly_export_dag.py:241-243`); session timezone is pinned so
  date-cast predicates (`verify/sqls/*.sql:5,9`) are deterministic.
- **AQE on**: runtime shuffle coalescing + skew-join splitting replace the
  reference's hand-tuned worker counts (`build_export_dag.py:116`).
- **Explicit schemas only** (no inference): callers pass StructTypes from
  :mod:`.sources.schemas`; at 100 TB an inference pass over NDJSON is an
  extra full scan.
- **nanosAsLong**: parquet INT64(TIMESTAMP_NANOS) columns (pandas-written
  data such as the driver's ``events`` table) are read as raw nanos and
  converted by :func:`ethereum2_etl_airflow_spark.sources.testdata.load_table`
  — Spark has no native nanos type.
- **Dynamic partition overwrite**: incremental history loads rewrite only
  touched date partitions instead of the reference's truncate-the-world
  reload (`build_hourly_load_dag.py:98,103-104`), which is O(history) per
  tick and untenable at 100 TB.
- **Storage format: zstd Parquet, INT64 microsecond timestamps.**  Every
  warehouse writer inherits both from here.  Beacon roots and signatures
  are hex strings with 4 bits of entropy per character; snappy is LZ-only
  and finds no repeats in uniformly random hex (254 B/row stored against
  260 raw on mainnet-style rows), while zstd's entropy stage stores 133.
  Spark's default INT96 timestamp costs 8.5 B/row and carries no min/max
  statistics, so a timestamp predicate cannot skip row groups; INT64
  ``TIMESTAMP(MICROS)`` has both.  Readers detect the format per file, so
  snappy + INT96 partitions stay readable next to new ones.  Warehouse
  bytes per row after one pass of the benchmark's ``etl_tick`` (3 days of
  mainnet cadence):

  ====================================  ======
  format                                B/row
  ====================================  ======
  snappy + INT96 (Spark defaults)       94.39
  zstd                                  42.78
  zstd + TIMESTAMP_MICROS (this)        40.69
  + Parquet writer v2                   41.78
  + one file per date partition         37.48
  ====================================  ======

  Writer v2 does not pay; one file per date would cost a shuffle or the
  parse parallelism on every load, so neither is set.

At cluster scale the same builder applies; only ``master`` and memory
settings come from spark-submit.  Partition sizing rationale: with
``maxPartitionBytes=128m`` a 100 TB table scans as ~800k tasks — fine for a
1000-executor cluster; shuffle partitions default to 2× cores locally and
should be set to ~2-3× total cores (or left to AQE coalescing) on a real
cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["build_session", "stop_session", "ship_package"]


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers.

    Pandas-UDF closures that reference module-level functions are pickled
    *by reference* — workers must import ``ethereum2_etl_airflow_spark``
    themselves.  That works when the driver's cwd is the repo root (cwd
    is on ``sys.path`` and inherited), and silently breaks otherwise.
    ``addPyFile`` ships a zip of the package and prepends it to every
    worker's ``sys.path``, making the UDF operators location-independent
    (exactly what a spark-submit deployment does with ``--py-files``).

    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_e2etl_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"{pkg_name}_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._e2etl_pkg_shipped = True


def build_session(
    app_name: str = "ethereum2-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ansi: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``ansi=True`` enables ANSI semantics engine-wide, giving the verify
    stage the reference's fail-on-CAST behavior (`blocks_count.sql:11`,
    workaround comment `build_load_dag.py:110-112`).  The verify runner
    uses ``raise_error()`` instead (SURVEY §2.2 P5) so the default session
    keeps permissive casts; flip this only to replicate bug-for-bug.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            n = master[len("local[") : -1]
            cores = os.cpu_count() if n == "*" else int(n)
        else:  # cluster: let AQE coalesce from a generous initial number
            cores = 100
        shuffle_partitions = max(2 * (cores or 4), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # determinism / oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", str(ansi).lower())
        # scale posture
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # pandas-written parquet with ns timestamps (driver testdata)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for the pandas-UDF extension operators (SURVEY §2.9)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # storage format (module docstring)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM IS the executor; 32 concurrent
        # tasks each building shuffled-hash relations need real
        # execution-pool headroom (8g starved the graph batch at 4x
        # data: "Can't acquire 67108864 bytes to build hash relation").
        # 16g measured fastest across the 196-query suite (208.6 s vs
        # 216.9 s at 8g and 234.1 s at 32g — GC cost dominates beyond
        # the working set) while clearing the 16x-data graph probe;
        # spark-submit overrides on a cluster.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def stop_session(spark: SparkSession) -> None:
    spark.stop()
