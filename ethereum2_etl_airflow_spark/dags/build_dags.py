"""Airflow DAG builders (SURVEY §2.7 O1-O15).

Same orchestration shape as the reference — builder functions returning
DAGs with the same task names, sensors, retry policy, provider fallback
and templating — but every data operation is a Spark job from this
package instead of a BigQuery load/query job:

- export tasks (O1/O3): fetch + stage NDJSON under
  ``export/{table}/block_date={ds}/`` (`build_export_dag.py:20-207`),
  optionally rate-limited (O15, `variables.py:20-21`,
  `build_export_dag.py:82`)
- load tasks (O2/O4): schema-enforced NDJSON → partitioned parquet
  (`build_load_dag.py:76-96` → :mod:`..operators.load`); hourly mode
  (O4) loads the reference's full 5-table surface
  (`build_hourly_load_dag.py:138-149`) including the point-in-time
  ``beacon_validators_hourly`` table and the ``beacon_validators_latest``
  snapshot via the race-free versioned-pointer swap
- verify tasks: Spark SQL invariants (`build_load_dag.py:109-132`
  → :mod:`..operators.verify`), failure fails the Airflow task
- sensors: O6 staged-object sensor gating every load
  (`build_load_dag.py:67-74`: poke 60 s, timeout 1 h) and O7
  cross-DAG ExternalTaskSensor for ``beacon_validators_latest``
  (`build_hourly_load_dag.py:70-80`: reschedule mode, poke 5 min,
  timeout 2 h).  A Structured Streaming deployment
  (:mod:`..streaming.hourly`) subsumes the file sensor — file-arrival
  IS the trigger there — but the DAG shape carries both for parity.
- retries/timeouts/emails (O9/O10/O14): same constants as the reference
  (5 retries / 5 min delay `build_export_dag.py:39-40`; export 48 h
  `build_export_dag.py:176`; load 30 min `build_load_dag.py:102`;
  success EmailOperator gated on configured recipients
  `build_load_dag.py:134-144`).

Airflow is an optional dependency: builders import it lazily and raise a
clear error when missing, so the engine library stays importable in
Spark-only environments (like this container, where these builders are
exercised only by shape tests with a stubbed Airflow).  Sensor and email
operator classes that a given Airflow install lacks degrade to
PythonOperator-backed equivalents with the same task ids and kwargs.
"""

from __future__ import annotations

import glob as _glob
import time as _time
from datetime import datetime, timedelta
from typing import Any, Callable, NamedTuple

from ..config import ExportConfig, LoadConfig

__all__ = ["build_export_dag", "build_load_dag", "provider_fallback",
           "wait_for_staged_object", "RateLimiter"]

EXPORT_TABLES = ("beacon_blocks", "beacon_validators", "beacon_committees")
#: hourly mode adds the point-in-time validators snapshot task, which
#: stages both the hour partition and the "latest" tag
#: (`build_hourly_export_dag.py:126-149,203-207`)
HOURLY_EXPORT_TABLES = ("beacon_blocks", "beacon_validators",
                        "beacon_validators_hourly", "beacon_committees")

#: O6 sensor policy (`build_load_dag.py:69-70`)
SENSOR_POKE_SECS = 60
SENSOR_TIMEOUT_SECS = 60 * 60
#: O7 cross-DAG sensor policy (`build_hourly_load_dag.py:76-80`)
XDAG_POKE_SECS = 5 * 60
XDAG_TIMEOUT_SECS = 60 * 60 * 2


def provider_fallback(providers: list[str],
                      fn: Callable[[str], Any]) -> Any:
    """O8 (`build_export_dag.py:210-224`): try each provider URI in order
    until one succeeds; re-raise the last failure."""
    last: Exception | None = None
    for uri in providers:
        try:
            return fn(uri)
        except Exception as ex:  # noqa: BLE001 — fallback semantics
            last = ex
    raise last if last else ValueError("no provider URIs configured")


class RateLimiter:
    """O15 token bucket (`variables.py:20-21` → `build_export_dag.py:82`
    ``rate_limit`` threaded into the beacon API client): at most ``rate``
    acquisitions per second, burst up to ``burst`` (default ``rate``).

    Injectable clock/sleep for deterministic tests.  Thread-safe enough
    for Airflow's one-process-per-task model; NOT a distributed limiter —
    each export task limits its own provider connection, matching the
    reference (one API client per task)."""

    def __init__(self, rate: float, burst: float | None = None,
                 clock: Callable[[], float] = _time.monotonic,
                 sleep: Callable[[float], None] = _time.sleep):
        if rate <= 0:
            raise ValueError("rate must be positive")
        self.rate = float(rate)
        self.burst = float(burst if burst is not None else rate)
        self._clock, self._sleep = clock, sleep
        self._tokens = self.burst
        self._last = clock()

    def acquire(self) -> None:
        """Block until a token is available, then consume it."""
        while True:
            now = self._clock()
            self._tokens = min(self.burst,
                               self._tokens + (now - self._last) * self.rate)
            self._last = now
            if self._tokens >= 1.0:
                self._tokens -= 1.0
                return
            self._sleep((1.0 - self._tokens) / self.rate)


def wait_for_staged_object(path_glob: str,
                           timeout: float = SENSOR_TIMEOUT_SECS,
                           poke_interval: float = SENSOR_POKE_SECS,
                           clock: Callable[[], float] = _time.monotonic,
                           sleep: Callable[[float], None] = _time.sleep) -> str:
    """O6 poke loop (`build_load_dag.py:67-74` GCS object sensor): poll
    until ``path_glob`` matches at least one file, raising ``TimeoutError``
    after ``timeout`` seconds.

    Deviation from the reference's single-object poke: Spark stages a
    partition as ``part-*.json`` files committed by directory rename, so
    the staged-object signal is "the partition glob is non-empty", not one
    well-known filename."""
    deadline = clock() + timeout
    while True:
        hits = _glob.glob(path_glob)
        if hits:
            return hits[0]
        if clock() >= deadline:
            raise TimeoutError(
                f"staged object never appeared: {path_glob} "
                f"(waited {timeout:.0f}s)")
        sleep(poke_interval)


class _Airflow(NamedTuple):
    DAG: type
    PythonOperator: type
    FileSensor: type | None
    ExternalTaskSensor: type | None
    EmailOperator: type | None


def _airflow() -> _Airflow:
    try:
        from airflow import DAG
        from airflow.operators.python import PythonOperator
    except ImportError as ex:  # pragma: no cover - exercised via stub
        raise ImportError(
            "Airflow is not installed; the engine library works without "
            "it — install apache-airflow to build DAGs") from ex
    # optional operator classes — layouts move across Airflow majors, and
    # each degrades to a PythonOperator-backed equivalent below
    try:
        from airflow.sensors.filesystem import FileSensor
    except ImportError:
        FileSensor = None
    try:
        from airflow.sensors.external_task import ExternalTaskSensor
    except ImportError:
        ExternalTaskSensor = None
    try:
        from airflow.operators.email import EmailOperator
    except ImportError:
        EmailOperator = None
    return _Airflow(DAG, PythonOperator, FileSensor, ExternalTaskSensor,
                    EmailOperator)


def _file_sensor(af: _Airflow, *, task_id: str, filepath: str, dag,
                 poke_glob: Callable[..., str] | None = None):
    """O6: FileSensor when the install has one (``filepath`` carries
    Airflow template placeholders, which FileSensor resolves), else a
    PythonOperator running the same poke loop with ``poke_glob(ds=...,
    hour=...)`` building the runtime glob (same task id / poke /
    timeout)."""
    if af.FileSensor is not None:
        return af.FileSensor(task_id=task_id, filepath=filepath,
                             poke_interval=SENSOR_POKE_SECS,
                             timeout=SENSOR_TIMEOUT_SECS, dag=dag)

    def _poke(ds=None, logical_date=None, **_):
        kw = {"ds": ds}
        if logical_date is not None:
            kw["hour"] = logical_date.strftime("%H")
        path = poke_glob(**kw) if poke_glob is not None else filepath
        return wait_for_staged_object(path)

    op = af.PythonOperator(task_id=task_id, python_callable=_poke, dag=dag)
    op.filepath, op.poke_interval, op.timeout = (
        filepath, SENSOR_POKE_SECS, SENSOR_TIMEOUT_SECS)
    return op


def _external_task_sensor(af: _Airflow, *, task_id: str, external_dag_id: str,
                          external_task_id: str, dag):
    """O7: cross-DAG sensor (`build_hourly_load_dag.py:70-80`)."""
    kw = dict(task_id=task_id, external_dag_id=external_dag_id,
              external_task_id=external_task_id,
              execution_delta=timedelta(minutes=0), priority_weight=0,
              mode="reschedule", poke_interval=XDAG_POKE_SECS,
              timeout=XDAG_TIMEOUT_SECS, dag=dag)
    if af.ExternalTaskSensor is not None:
        return af.ExternalTaskSensor(**kw)

    def _needs_scheduler(**_):
        raise RuntimeError(
            f"cross-DAG sensing ({external_dag_id}.{external_task_id}) "
            "requires a running Airflow scheduler; in a Spark-only "
            "deployment use streaming.hourly (file arrival is the trigger)")

    op = af.PythonOperator(task_id=task_id, python_callable=_needs_scheduler,
                           dag=dag)
    op.external_dag_id, op.external_task_id = external_dag_id, external_task_id
    return op


def build_export_dag(cfg: ExportConfig,
                     export_fns: dict[str, Callable] | None = None,
                     hourly: bool = False):
    """O1/O3: export DAG — one task per entity stream, no inter-deps,
    provider fallback around each callback (`build_export_dag.py:189-205`)
    and a shared per-DAG-run rate limiter when ``export_rate_limit`` is
    configured (O15, `build_export_dag.py:82`).

    ``export_fns`` maps table → callable(provider_uri, ds, hour) doing the
    actual fetch+stage (driver testdata substitutes in this repo)."""
    af = _airflow()
    default_args = {
        "depends_on_past": False,
        "retries": 5,
        "retry_delay": timedelta(minutes=5),
        "email_on_failure": bool(cfg.notification_emails),
        "email": cfg.notification_emails,
    }
    dag = af.DAG(
        dag_id=f"{cfg.chain}_{'hourly_' if hourly else ''}export_dag",
        schedule=cfg.export_schedule,
        default_args=default_args,
        start_date=cfg.export_start_date or datetime(2020, 12, 1),
        end_date=cfg.export_end_date,
        max_active_runs=cfg.export_max_active_runs,
        catchup=cfg.export_end_date is not None,
    )
    export_fns = export_fns or {}
    limiter = (RateLimiter(cfg.export_rate_limit)
               if cfg.export_rate_limit else None)
    for table in (HOURLY_EXPORT_TABLES if hourly else EXPORT_TABLES):
        fn = export_fns.get(table)

        def task_callable(ds=None, logical_date=None, _fn=fn, _table=table, **_):
            if _fn is None:
                raise NotImplementedError(
                    f"no export callback wired for {_table}")
            hour = logical_date.strftime("%H") if (hourly and logical_date) else None

            def _call(uri):
                if limiter is not None:
                    limiter.acquire()
                return _fn(uri, ds, hour)

            return provider_fallback(cfg.provider_uris, _call)

        af.PythonOperator(
            task_id=f"export_{table}",
            python_callable=task_callable,
            execution_timeout=timedelta(hours=48),  # build_export_dag.py:176
            dag=dag,
        )
    dag.rate_limiter = limiter
    return dag


#: hourly-mode load surface (`build_hourly_load_dag.py:138-149`):
#: table → (staged source table, ts partition column, cross-DAG wait task)
HOURLY_LOAD_TABLES: dict[str, tuple[str, str | None, str | None]] = {
    "beacon_blocks": ("beacon_blocks", "block_timestamp", None),
    "beacon_validators": ("beacon_validators", "timestamp", None),
    "beacon_validators_hourly": ("beacon_validators", "timestamp", None),
    "beacon_validators_latest": ("beacon_validators", "timestamp",
                                 "export_beacon_validators_hourly"),
    "beacon_committees": ("beacon_committees", "epoch_timestamp", None),
}


def build_load_dag(cfg: LoadConfig, spark_factory: Callable,
                   staging_root: str, warehouse_root: str,
                   hourly: bool = False):
    """O2/O4: load DAG — per table: sensor → load → verify, then a success
    e-mail after all verifies when recipients are configured
    (`build_load_dag.py:126-144`).

    Daily mode loads the reference's 3-table surface; hourly mode the
    5-table surface (`build_hourly_load_dag.py:138-149`):
    ``beacon_validators_hourly`` lands point-in-time partitions
    ``(block_date, hour)``; ``beacon_validators_latest`` republishes the
    staged latest snapshot through the versioned-pointer swap
    (:func:`..operators.load.write_latest_snapshot`) and is gated by the
    O7 cross-DAG sensor instead of a file sensor.
    """
    af = _airflow()
    from ..operators.load import (
        derive_block_date, load_table, read_latest_snapshot,
        write_latest_snapshot, write_partitioned,
    )
    from ..operators.verify import run_check
    from ..sources.ndjson import read_ndjson, staging_path
    from ..sources.schemas import BEACON_TABLES, beacon_schema

    default_args = {
        "depends_on_past": False,
        "retries": 5,
        "retry_delay": timedelta(minutes=5),
        "email_on_failure": bool(cfg.notification_emails),
        "email": cfg.notification_emails,
    }
    dag = af.DAG(
        dag_id=f"{cfg.chain}_{'hourly_' if hourly else ''}load_dag",
        schedule=cfg.load_schedule,
        default_args=default_args,
        start_date=cfg.load_start_date or datetime(2020, 12, 1),
        end_date=cfg.load_end_date,
        # catchup only in integration-test mode (build_load_dag.py:60)
        catchup=cfg.load_end_date is not None,
    )

    # full-history staged NDJSON for a table — ADVICE fix: the hourly
    # tree has an extra hour=HH level, so the glob is deeper
    def staged_glob(src_table: str) -> str:
        base = staging_path(staging_root, src_table, hourly=hourly)
        return base + ("/*/*/*.json" if hourly else "/*/*.json")

    # the O6 sensor pokes ONE tick's partition, like the reference's
    # `block_date={{ds}}` object poke (build_load_dag.py:71) — ds/hour
    # default to Airflow template placeholders so FileSensor templating
    # resolves them; the fallback poke loop fills them from task kwargs
    def sensor_glob(src_table: str, ds: str | None = None,
                    hour: str | None = None) -> str:
        ds = ds if ds is not None else "{{ ds }}"
        if hourly and hour is None:
            hour = "{{ logical_date.strftime('%H') }}"
        return staging_path(staging_root, src_table, ds, hour,
                            hourly=hourly) + "/*.json"

    def make_load(table: str, src_table: str, ts_col: str | None):
        def _load(ds=None, **_):
            spark = spark_factory()
            if table == "beacon_validators_latest":
                # staged latest → warehouse latest, both pointer-swapped
                src = staging_path(staging_root, src_table,
                                   hourly=hourly) + "_latest"
                df = read_latest_snapshot(spark, src)
                write_latest_snapshot(
                    df, f"{warehouse_root}/beacon_validators_latest")
                return
            snapshot = table == "beacon_validators" and not hourly
            if snapshot:
                # the daily snapshot is ds's staged partition only, as in
                # the reference (build_load_dag.py:88-90,127): a backfill
                # loads ds's snapshot, not the newest one staged
                src = staging_path(staging_root, src_table, ds) + "/*.json"
            else:
                src = staged_glob(src_table)
            df = read_ndjson(spark, src, beacon_schema(src_table))
            if table == "beacon_validators_hourly":
                # point-in-time table: (block_date, hour) partitions so a
                # snapshot read prunes to one directory
                from pyspark.sql import functions as F
                out = derive_block_date(df, ts_col).withColumn(
                    "hour", F.date_format(F.col(ts_col), "HH"))
                write_partitioned(out, f"{warehouse_root}/{table}",
                                  partition_cols=["block_date", "hour"])
                return
            load_table(spark, df, f"{warehouse_root}/{table}", ts_col,
                       only_last_date=snapshot)
        return _load

    def make_verify(check: str):
        def _verify(ds=None, **_):
            spark = spark_factory()
            for table in BEACON_TABLES:
                spark.read.parquet(f"{warehouse_root}/{table}") \
                    .createOrReplaceTempView(table)
            run_check(spark, check, ds)
        return _verify

    if hourly:
        surface = HOURLY_LOAD_TABLES
        # reference hourly DAG verifies only the block invariants
        # (build_hourly_load_dag.py:154-157; others commented out)
        checks_by_table = {"beacon_blocks": ["blocks_count",
                                             "blocks_have_latest"]}
    else:
        surface = {t: (t, ts, None) for t, ts in BEACON_TABLES.items()}
        # validators_count stays unwired, as in the reference: a daily
        # only_last_date snapshot holds one epoch, so it cannot pass
        checks_by_table = {
            "beacon_blocks": ["blocks_count", "blocks_have_latest"],
            "beacon_committees": ["committees_count"],
        }

    verifies = []
    for table, (src_table, ts_col, wait_task) in surface.items():
        if wait_task is not None:
            sensor = _external_task_sensor(
                af, task_id=f"wait_latest_{table}",
                external_dag_id=f"{cfg.chain}_hourly_export_dag",
                external_task_id=wait_task, dag=dag)
        else:
            sensor = _file_sensor(af, task_id=f"wait_latest_{table}",
                                  filepath=sensor_glob(src_table),
                                  poke_glob=(lambda src=src_table, **kw:
                                             sensor_glob(src, **kw)),
                                  dag=dag)
        load_op = af.PythonOperator(
            task_id=f"load_{table}",
            python_callable=make_load(table, src_table, ts_col),
            execution_timeout=timedelta(minutes=30),  # build_load_dag.py:102
            dag=dag)
        sensor >> load_op  # O6/O7 gate (build_load_dag.py:108)
        for check in checks_by_table.get(table, []):
            v = af.PythonOperator(task_id=f"verify_{check}",
                                  python_callable=make_verify(check), dag=dag)
            load_op >> v  # O5 dependency edge (build_load_dag.py:142-144)
            verifies.append(v)

    # O14 success e-mail, only when recipients configured
    # (build_load_dag.py:134-144)
    if cfg.notification_emails:
        if af.EmailOperator is not None:
            done = af.EmailOperator(
                task_id="send_email", to=list(cfg.notification_emails),
                subject=f"{cfg.chain} load DAG succeeded",
                html_content=f"{cfg.chain} load DAG succeeded", dag=dag)
        else:
            done = af.PythonOperator(task_id="send_email", dag=dag,
                                     python_callable=lambda **_: None)
            done.to = list(cfg.notification_emails)
        for v in verifies:
            v >> done
    return dag
