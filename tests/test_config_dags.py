"""Config resolution (O13) + DAG-builder shape tests (O1-O15) with a
stubbed Airflow — the real scheduler is an optional dependency."""

from __future__ import annotations

import os
import sys
import time
import types
from datetime import datetime

import pytest

from ethereum2_etl_airflow_spark.config import (
    read_export_config, read_load_config, read_var,
)
from ethereum2_etl_airflow_spark.dags import provider_fallback


def test_read_var_prefix_and_parsing():
    vars = {"eth2_mainnet_provider_uris": "http://a, http://b ,",
            "output_bucket": "gs://fallback",
            "eth2_mainnet_export_max_workers": "7",
            "eth2_mainnet_export_start_date": "2020-12-01"}
    p = "eth2_mainnet_"
    assert read_var(vars, "provider_uris", p, parse="list") == \
        ["http://a", "http://b"]
    assert read_var(vars, "output_bucket", p) == "gs://fallback"  # prefix fallback
    assert read_var(vars, "export_max_workers", p, parse="int") == 7
    assert read_var(vars, "export_start_date", p, parse="date") == \
        datetime(2020, 12, 1)
    assert read_var(vars, "missing", p, default="d") == "d"
    with pytest.raises(ValueError):
        read_var(vars, "missing", p, required=True)


def test_export_config_defaults():
    cfg = read_export_config({
        "eth2_mainnet_provider_uris": "http://node",
        "eth2_mainnet_output_bucket": "gs://bkt"})
    assert cfg.export_max_workers == 5      # README.md:71
    assert cfg.export_max_active_runs == 3  # README.md:70
    assert cfg.export_schedule == "30 * * * *"


def test_load_config_defaults():
    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    assert cfg.load_schedule == "0 2 * * *"  # README.md:73
    assert cfg.dataset_name == "crypto_ethereum2"


def test_provider_fallback_order():
    calls = []

    def fn(uri):
        calls.append(uri)
        if uri != "good":
            raise RuntimeError("down")
        return "ok"

    assert provider_fallback(["bad1", "bad2", "good"], fn) == "ok"
    assert calls == ["bad1", "bad2", "good"]
    with pytest.raises(RuntimeError):
        provider_fallback(["bad1"], fn)


class _StubDAG:
    def __init__(self, dag_id, **kw):
        self.dag_id, self.kw, self.tasks = dag_id, kw, []


class _StubTask:
    def __init__(self, task_id, dag=None, **kw):
        self.task_id, self.kw = task_id, kw
        self.downstream: list[str] = []
        if dag is not None:
            dag.tasks.append(self)

    def __rshift__(self, other):
        self.downstream.append(other.task_id)
        return other


class _StubPythonOperator(_StubTask):
    def __init__(self, task_id, python_callable=None, dag=None, **kw):
        super().__init__(task_id, dag=dag, **kw)
        self.python_callable = python_callable


class _StubFileSensor(_StubTask):
    def __init__(self, task_id, filepath=None, poke_interval=None,
                 timeout=None, dag=None, **kw):
        super().__init__(task_id, dag=dag, **kw)
        self.filepath, self.poke_interval, self.timeout = \
            filepath, poke_interval, timeout


class _StubExternalTaskSensor(_StubTask):
    def __init__(self, task_id, external_dag_id=None, external_task_id=None,
                 dag=None, **kw):
        super().__init__(task_id, dag=dag, **kw)
        self.external_dag_id, self.external_task_id = \
            external_dag_id, external_task_id


class _StubEmailOperator(_StubTask):
    def __init__(self, task_id, to=None, subject=None, html_content=None,
                 dag=None, **kw):
        super().__init__(task_id, dag=dag, **kw)
        self.to, self.subject, self.html_content = to, subject, html_content


def _install_stub_airflow(monkeypatch, with_sensors=True):
    af = types.ModuleType("airflow")
    ops = types.ModuleType("airflow.operators")
    py = types.ModuleType("airflow.operators.python")
    af.DAG, py.PythonOperator = _StubDAG, _StubPythonOperator
    monkeypatch.setitem(sys.modules, "airflow", af)
    monkeypatch.setitem(sys.modules, "airflow.operators", ops)
    monkeypatch.setitem(sys.modules, "airflow.operators.python", py)
    # make sure optional modules from a previous test don't leak in
    for m in ("airflow.sensors", "airflow.sensors.filesystem",
              "airflow.sensors.external_task", "airflow.operators.email"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    if with_sensors:
        sensors = types.ModuleType("airflow.sensors")
        fs = types.ModuleType("airflow.sensors.filesystem")
        ext = types.ModuleType("airflow.sensors.external_task")
        email = types.ModuleType("airflow.operators.email")
        fs.FileSensor = _StubFileSensor
        ext.ExternalTaskSensor = _StubExternalTaskSensor
        email.EmailOperator = _StubEmailOperator
        monkeypatch.setitem(sys.modules, "airflow.sensors", sensors)
        monkeypatch.setitem(sys.modules, "airflow.sensors.filesystem", fs)
        monkeypatch.setitem(sys.modules, "airflow.sensors.external_task", ext)
        monkeypatch.setitem(sys.modules, "airflow.operators.email", email)
    return af


@pytest.fixture()
def stub_airflow(monkeypatch):
    """Airflow stand-in (operators + sensors + email) capturing wiring."""
    return _install_stub_airflow(monkeypatch, with_sensors=True)


@pytest.fixture()
def stub_airflow_minimal(monkeypatch):
    """Airflow stand-in WITHOUT sensor/email modules — exercises the
    PythonOperator-backed fallbacks."""
    return _install_stub_airflow(monkeypatch, with_sensors=False)


def test_export_dag_shape(stub_airflow):
    from ethereum2_etl_airflow_spark.dags import build_export_dag

    cfg = read_export_config({
        "eth2_mainnet_provider_uris": "http://a,http://b",
        "eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_export_dag(cfg)
    assert dag.dag_id == "eth2_mainnet_export_dag"
    assert sorted(t.task_id for t in dag.tasks) == [
        "export_beacon_blocks", "export_beacon_committees",
        "export_beacon_validators"]
    # retry policy from the reference (build_export_dag.py:39-40)
    assert dag.kw["default_args"]["retries"] == 5
    # unwired callback raises clearly
    with pytest.raises(NotImplementedError):
        dag.tasks[0].python_callable(ds="2024-01-01")


def test_export_dag_provider_fallback_wiring(stub_airflow):
    from ethereum2_etl_airflow_spark.dags import build_export_dag

    seen = []

    def export_blocks(uri, ds, hour):
        seen.append((uri, ds, hour))
        if uri.endswith("a"):
            raise RuntimeError("down")
        return "staged"

    cfg = read_export_config({
        "eth2_mainnet_provider_uris": "http://a,http://b",
        "eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_export_dag(cfg, export_fns={"beacon_blocks": export_blocks})
    blocks = next(t for t in dag.tasks if t.task_id == "export_beacon_blocks")
    assert blocks.python_callable(ds="2024-01-01") == "staged"
    assert [u for u, *_ in seen] == ["http://a", "http://b"]


def test_load_dag_shape_and_wiring(stub_airflow):
    from ethereum2_etl_airflow_spark.dags import build_load_dag

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt",
                            "eth2_mainnet_notification_emails": "a@x.io,b@x.io"})
    dag = build_load_dag(cfg, spark_factory=lambda: None,
                         staging_root="/s", warehouse_root="/w")
    ids = sorted(t.task_id for t in dag.tasks)
    assert ids == ["load_beacon_blocks", "load_beacon_committees",
                   "load_beacon_validators", "send_email",
                   "verify_blocks_count", "verify_blocks_have_latest",
                   "verify_committees_count",
                   "wait_latest_beacon_blocks",
                   "wait_latest_beacon_committees",
                   "wait_latest_beacon_validators"]
    tasks = {t.task_id: t for t in dag.tasks}
    # O6: each load is gated by a FileSensor poking that tick's partition
    # (build_load_dag.py:67-74)
    wait = tasks["wait_latest_beacon_blocks"]
    assert isinstance(wait, _StubFileSensor)
    assert wait.downstream == ["load_beacon_blocks"]
    assert wait.poke_interval == 60 and wait.timeout == 3600
    assert "block_date={{ ds }}" in wait.filepath
    # load >> verify edges (build_load_dag.py:142-144)
    assert set(tasks["load_beacon_blocks"].downstream) == {
        "verify_blocks_count", "verify_blocks_have_latest"}
    # validators_count is unwired, as in the reference: it cannot pass on
    # a daily only_last_date snapshot whose epoch is above 0
    assert tasks["load_beacon_validators"].downstream == []
    # all verifies feed the success email, an EmailOperator with the
    # configured recipients (O14, build_load_dag.py:134-144)
    assert tasks["verify_committees_count"].downstream == ["send_email"]
    assert isinstance(tasks["send_email"], _StubEmailOperator)
    assert tasks["send_email"].to == ["a@x.io", "b@x.io"]
    # catchup only with an end date (build_load_dag.py:60)
    assert dag.kw["catchup"] is False


def test_load_dag_no_email_task_without_recipients(stub_airflow):
    from ethereum2_etl_airflow_spark.dags import build_load_dag

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: None,
                         staging_root="/s", warehouse_root="/w")
    # reference omits send_email when no recipients (build_load_dag.py:134)
    assert "send_email" not in {t.task_id for t in dag.tasks}


def test_hourly_load_dag_five_table_surface(stub_airflow):
    """O4/O7: the hourly load DAG carries the reference's 5-table surface
    (build_hourly_load_dag.py:138-149) with a cross-DAG sensor gating
    beacon_validators_latest (:70-80)."""
    from ethereum2_etl_airflow_spark.dags import build_load_dag

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: None,
                         staging_root="/s", warehouse_root="/w", hourly=True)
    assert dag.dag_id == "eth2_mainnet_hourly_load_dag"
    tasks = {t.task_id: t for t in dag.tasks}
    assert sorted(t for t in tasks if t.startswith("load_")) == [
        "load_beacon_blocks", "load_beacon_committees",
        "load_beacon_validators", "load_beacon_validators_hourly",
        "load_beacon_validators_latest"]
    # O7: latest is gated by the cross-DAG sensor on the hourly export
    xwait = tasks["wait_latest_beacon_validators_latest"]
    assert isinstance(xwait, _StubExternalTaskSensor)
    assert xwait.external_dag_id == "eth2_mainnet_hourly_export_dag"
    assert xwait.external_task_id == "export_beacon_validators_hourly"
    assert xwait.downstream == ["load_beacon_validators_latest"]
    # the other four wait on staged files, with the hour=HH level
    hwait = tasks["wait_latest_beacon_validators_hourly"]
    assert isinstance(hwait, _StubFileSensor)
    assert "export_hourly/" in hwait.filepath and "hour=" in hwait.filepath
    # hourly DAG verifies only block invariants
    # (build_hourly_load_dag.py:154-157)
    assert sorted(t for t in tasks if t.startswith("verify_")) == [
        "verify_blocks_count", "verify_blocks_have_latest"]


def test_load_dag_sensor_fallback_without_airflow_sensors(
        stub_airflow_minimal, tmp_path):
    """Sensor classes missing from the Airflow install degrade to
    PythonOperator-backed pokes with the same task ids and policy."""
    from ethereum2_etl_airflow_spark.dags import build_load_dag

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: None,
                         staging_root=str(tmp_path), warehouse_root="/w")
    tasks = {t.task_id: t for t in dag.tasks}
    wait = tasks["wait_latest_beacon_blocks"]
    assert isinstance(wait, _StubPythonOperator)
    assert wait.poke_interval == 60 and wait.timeout == 3600
    # the fallback poke resolves ds into the runtime glob and finds the
    # staged partition
    part = tmp_path / "export" / "beacon_blocks" / "block_date=2024-01-01"
    part.mkdir(parents=True)
    (part / "part-0.json").write_text("{}\n")
    hit = wait.python_callable(ds="2024-01-01")
    assert hit.endswith("part-0.json")


def test_wait_for_staged_object_timeout_and_hit(tmp_path):
    from ethereum2_etl_airflow_spark.dags import wait_for_staged_object

    clock = {"t": 0.0}
    sleeps = []

    def fake_clock():
        return clock["t"]

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    with pytest.raises(TimeoutError):
        wait_for_staged_object(str(tmp_path / "missing" / "*.json"),
                               timeout=3600, poke_interval=60,
                               clock=fake_clock, sleep=fake_sleep)
    assert len(sleeps) == 60  # 3600 s / 60 s pokes
    (tmp_path / "x.json").write_text("{}\n")
    assert wait_for_staged_object(str(tmp_path / "*.json"),
                                  clock=fake_clock, sleep=fake_sleep) \
        == str(tmp_path / "x.json")


def test_rate_limiter_token_bucket():
    from ethereum2_etl_airflow_spark.dags import RateLimiter

    clock = {"t": 0.0}
    sleeps = []

    def fake_clock():
        return clock["t"]

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    # 2 req/s, burst 2: first two immediate, third waits 0.5 s
    rl = RateLimiter(2, clock=fake_clock, sleep=fake_sleep)
    rl.acquire(), rl.acquire()
    assert sleeps == []
    rl.acquire()
    assert sleeps and abs(sum(sleeps) - 0.5) < 1e-9
    with pytest.raises(ValueError):
        RateLimiter(0)


def test_export_dag_rate_limit_wiring(stub_airflow):
    """O15: export_rate_limit builds a shared limiter around every
    provider call (build_export_dag.py:82)."""
    from ethereum2_etl_airflow_spark.dags import build_export_dag

    cfg = read_export_config({
        "eth2_mainnet_provider_uris": "http://a",
        "eth2_mainnet_output_bucket": "gs://bkt",
        "eth2_mainnet_export_rate_limit": "10"})
    acquired = []
    dag = build_export_dag(
        cfg, export_fns={"beacon_blocks": lambda uri, ds, hour: "ok"})
    assert dag.rate_limiter is not None and dag.rate_limiter.rate == 10.0
    dag.rate_limiter.acquire = lambda: acquired.append(1)
    blocks = next(t for t in dag.tasks if t.task_id == "export_beacon_blocks")
    assert blocks.python_callable(ds="2024-01-01") == "ok"
    assert acquired == [1]
    # no limit configured → no limiter object
    cfg2 = read_export_config({
        "eth2_mainnet_provider_uris": "http://a",
        "eth2_mainnet_output_bucket": "gs://bkt"})
    assert build_export_dag(cfg2).rate_limiter is None

def test_hourly_load_dag_end_to_end(stub_airflow, spark, tmp_path):
    """O4 executed: stage an hourly validators export (+latest snapshot),
    run the hourly load task callables, and read the point-in-time table
    and the latest snapshot back from the warehouse."""
    from ethereum2_etl_airflow_spark.dags import build_load_dag
    from ethereum2_etl_airflow_spark.operators.load import read_latest_snapshot
    from ethereum2_etl_airflow_spark.sources.fixtures import gen_beacon_validators
    from ethereum2_etl_airflow_spark.sources.ndjson import stage_export

    staging, warehouse = str(tmp_path / "stage"), str(tmp_path / "wh")
    # two point-in-time snapshots ~2.7h apart (32 slots x 300s)
    genesis, sps = 1704067200, 300
    snap0 = gen_beacon_validators(spark, 20, epoch=0, genesis=genesis,
                                  secs_per_slot=sps)
    snap1 = gen_beacon_validators(spark, 24, epoch=1, genesis=genesis,
                                  secs_per_slot=sps)
    stage_export(snap0.unionByName(snap1), staging, "beacon_validators",
                 "timestamp", hourly=True, latest_copy=False)
    # "latest" staged snapshot is the newest point-in-time batch
    stage_export(snap1, staging, "beacon_validators", "timestamp",
                 hourly=True, latest_copy=True)

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: spark,
                         staging_root=staging, warehouse_root=warehouse,
                         hourly=True)
    tasks = {t.task_id: t for t in dag.tasks}
    tasks["load_beacon_validators_hourly"].python_callable(ds="2024-01-01")
    tasks["load_beacon_validators_latest"].python_callable(ds="2024-01-01")

    pit = spark.read.parquet(f"{warehouse}/beacon_validators_hourly")
    assert pit.count() == 44
    # (block_date, hour) partition columns exist and prune to one snapshot
    # (partition type inference reads hour=HH directories back as ints)
    assert sorted(r["hour"] for r in pit.select("hour").distinct().collect()) \
        == [0, 2]
    assert pit.where("hour = 2").count() == 24

    latest = read_latest_snapshot(spark, f"{warehouse}/beacon_validators_latest")
    assert latest.count() == 24
    assert latest.select("epoch").distinct().collect()[0]["epoch"] == 1


def test_daily_validators_load_reads_ds_snapshot(stub_airflow, spark, tmp_path):
    """The daily validators load reads ds's staged partition only, like
    the reference (build_load_dag.py:88-90,127): a backfill of an older
    ds loads that date's snapshot, not the newest one staged."""
    from ethereum2_etl_airflow_spark.dags import build_load_dag
    from ethereum2_etl_airflow_spark.sources.fixtures import gen_beacon_validators
    from ethereum2_etl_airflow_spark.sources.ndjson import stage_export

    staging, warehouse = str(tmp_path / "stage"), str(tmp_path / "wh")
    # 9 epochs x 32 slots x 300 s is one day: epoch 0 is staged under
    # 2024-01-01, epoch 9 under 2024-01-02
    genesis, sps = 1704067200, 300
    snaps = gen_beacon_validators(spark, 20, epoch=0, genesis=genesis,
                                  secs_per_slot=sps).unionByName(
        gen_beacon_validators(spark, 24, epoch=9, genesis=genesis,
                              secs_per_slot=sps))
    stage_export(snaps, staging, "beacon_validators", "timestamp")

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: spark,
                         staging_root=staging, warehouse_root=warehouse)
    load = next(t for t in dag.tasks if t.task_id == "load_beacon_validators")
    load.python_callable(ds="2024-01-01")

    out = spark.read.parquet(f"{warehouse}/beacon_validators")
    assert out.count() == 20
    assert [r["epoch"] for r in out.select("epoch").distinct().collect()] == [0]
    assert [r["block_date"].isoformat()
            for r in out.select("block_date").distinct().collect()] == [
        "2024-01-01"]


def test_daily_blocks_committees_loads_read_only_ds(stub_airflow, spark,
                                                    tmp_path):
    """The daily blocks and committees loads read ds's staged partition
    only: loading a newer ds adds its warehouse partition and leaves an
    older date's files as they were (same names, same mtimes)."""
    from ethereum2_etl_airflow_spark.dags import build_load_dag
    from ethereum2_etl_airflow_spark.sources.fixtures import (
        gen_beacon_blocks, gen_beacon_committees)
    from ethereum2_etl_airflow_spark.sources.ndjson import stage_export

    staging, warehouse = str(tmp_path / "stage"), str(tmp_path / "wh")
    # 288 slots x 300 s and 9 epochs x 32 slots x 300 s are one day
    genesis, sps = 1704067200, 300
    stage_export(gen_beacon_blocks(spark, 2 * 288, genesis=genesis,
                                   secs_per_slot=sps),
                 staging, "beacon_blocks", "block_timestamp")
    stage_export(gen_beacon_committees(spark, 18, genesis=genesis,
                                       secs_per_slot=sps),
                 staging, "beacon_committees", "epoch_timestamp")

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: spark,
                         staging_root=staging, warehouse_root=warehouse)
    tasks = {t.task_id: t for t in dag.tasks}

    def files(table, day):
        d = os.path.join(warehouse, table, f"block_date={day}")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns
                for f in os.listdir(d)}

    for table, per_day in (("beacon_blocks", 288),
                           ("beacon_committees", 36)):
        load = tasks[f"load_{table}"].python_callable
        load(ds="2024-01-01")
        out = spark.read.parquet(f"{warehouse}/{table}")
        assert [r["block_date"].isoformat() for r in
                out.select("block_date").distinct().collect()] == [
            "2024-01-01"]
        old = files(table, "2024-01-01")
        time.sleep(0.05)
        load(ds="2024-01-02")
        assert files(table, "2024-01-01") == old
        counts = {r["block_date"].isoformat(): r["count"] for r in
                  spark.read.parquet(f"{warehouse}/{table}")
                  .groupBy("block_date").count().collect()}
        assert counts == {"2024-01-01": per_day, "2024-01-02": per_day}


def test_hourly_blocks_load_reads_only_ds(stub_airflow, spark, tmp_path):
    """An hourly blocks load reads every hour of ds's staged partition
    and nothing else: loading a newer ds adds its warehouse partition
    and leaves an older date's files as they were (same names, same
    mtimes)."""
    from ethereum2_etl_airflow_spark.dags import build_load_dag
    from ethereum2_etl_airflow_spark.sources.fixtures import gen_beacon_blocks
    from ethereum2_etl_airflow_spark.sources.ndjson import stage_export

    staging, warehouse = str(tmp_path / "stage"), str(tmp_path / "wh")
    # 288 slots x 300 s is one day, 12 slots per staged hour
    stage_export(gen_beacon_blocks(spark, 2 * 288, genesis=1704067200,
                                   secs_per_slot=300),
                 staging, "beacon_blocks", "block_timestamp", hourly=True)

    cfg = read_load_config({"eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_load_dag(cfg, spark_factory=lambda: spark,
                         staging_root=staging, warehouse_root=warehouse,
                         hourly=True)
    load = next(t for t in dag.tasks
                if t.task_id == "load_beacon_blocks").python_callable
    table = f"{warehouse}/beacon_blocks"
    old_dir = os.path.join(table, "block_date=2024-01-01")

    load(ds="2024-01-01")
    assert [d for d in os.listdir(table) if d.startswith("block_date=")] \
        == ["block_date=2024-01-01"]
    old = {f: os.stat(os.path.join(old_dir, f)).st_mtime_ns
           for f in os.listdir(old_dir)}
    time.sleep(0.05)
    load(ds="2024-01-02")
    assert {f: os.stat(os.path.join(old_dir, f)).st_mtime_ns
            for f in os.listdir(old_dir)} == old
    counts = {r["block_date"].isoformat(): r["count"] for r in
              spark.read.parquet(table).groupBy("block_date").count()
              .collect()}
    assert counts == {"2024-01-01": 288, "2024-01-02": 288}


def test_hourly_export_dag_four_task_surface(stub_airflow):
    """O3: the hourly export DAG carries the reference's 4-task surface,
    including the distinct point-in-time validators snapshot
    (build_hourly_export_dag.py:191-212)."""
    from ethereum2_etl_airflow_spark.dags import build_export_dag

    cfg = read_export_config({
        "eth2_mainnet_provider_uris": "http://a",
        "eth2_mainnet_output_bucket": "gs://bkt"})
    dag = build_export_dag(cfg, hourly=True)
    assert dag.dag_id == "eth2_mainnet_hourly_export_dag"
    assert sorted(t.task_id for t in dag.tasks) == [
        "export_beacon_blocks", "export_beacon_committees",
        "export_beacon_validators", "export_beacon_validators_hourly"]
    # daily mode keeps the 3-task surface
    assert sorted(t.task_id for t in build_export_dag(cfg).tasks) == [
        "export_beacon_blocks", "export_beacon_committees",
        "export_beacon_validators"]
