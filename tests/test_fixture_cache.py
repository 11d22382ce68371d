"""The fixture cache: ``sources.testdata.fixture_dir`` publishes every
staged fixture, stream source and served index once per testdata version,
atomically, under ``TMPDIR``; ``plans.registry.ensure_all`` builds all of
them before any check reads one."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from ethereum2_etl_airflow_spark.sources import testdata


@pytest.fixture
def tmpdir_env(tmp_path, monkeypatch):
    """A fresh ``TMPDIR``; ``tempfile`` re-reads it on the next call."""
    root = tmp_path / "tmpdir"
    root.mkdir()
    monkeypatch.setenv("TMPDIR", str(root))
    monkeypatch.setattr(tempfile, "tempdir", None)
    return root


@pytest.fixture
def scratch_sf(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"v1")
    return str(sf)


def _write_marker(out):
    os.makedirs(out)
    open(os.path.join(out, "data"), "w").close()


def test_published_under_tmpdir(tmpdir_env, scratch_sf):
    path = testdata.fixture_dir(scratch_sf, "t", _write_marker)
    assert os.path.dirname(path) == str(tmpdir_env)
    assert os.path.basename(path).startswith("e2etl_t_")
    assert os.listdir(path) == ["data"]
    assert os.listdir(tmpdir_env) == [os.path.basename(path)]


def test_failed_build_publishes_nothing_and_next_call_rebuilds(
        tmpdir_env, scratch_sf):
    def crash(out):
        # the crash ensure_overwrite_sink could leave: a complete first
        # write, then death before the replacing second write
        _write_marker(out)
        open(os.path.join(out, "_SUCCESS"), "w").close()
        raise RuntimeError("died between writes")

    with pytest.raises(RuntimeError, match="died between writes"):
        testdata.fixture_dir(scratch_sf, "ovw", crash)
    assert os.listdir(tmpdir_env) == []

    calls = []

    def build(out):
        calls.append(out)
        _write_marker(out)

    path = testdata.fixture_dir(scratch_sf, "ovw", build)
    assert len(calls) == 1 and os.listdir(path) == ["data"]
    assert testdata.fixture_dir(scratch_sf, "ovw", build) == path
    assert len(calls) == 1


def test_rewritten_table_gets_a_new_path(tmpdir_env, scratch_sf):
    first = testdata.fixture_dir(scratch_sf, "t", _write_marker)
    table = os.path.join(scratch_sf, "events.parquet")
    st = os.stat(table)
    with open(table, "wb") as fh:
        fh.write(b"v2")
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = testdata.fixture_dir(scratch_sf, "t", _write_marker)
    assert second != first
    assert os.path.isdir(first) and os.path.isdir(second)


def test_dead_builders_are_reaped_and_live_ones_kept(tmpdir_env, scratch_sf):
    path = testdata.fixture_dir(scratch_sf, "t", _write_marker)
    os.rename(path, path + ".held")  # force the next call to miss
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead = f"{path}.build.{proc.pid}"
    live = f"{path}.build.{os.getppid()}"
    for d in (dead, live):
        os.makedirs(d)
    assert testdata.fixture_dir(scratch_sf, "t", _write_marker) == path
    assert not os.path.exists(dead)
    assert os.path.isdir(live)


def test_concurrent_threads_build_once(tmpdir_env, scratch_sf):
    calls = []

    def slow_build(out):
        calls.append(out)
        os.makedirs(out)
        time.sleep(0.05)
        open(os.path.join(out, "data"), "w").close()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [pool.submit(testdata.fixture_dir, scratch_sf, "t",
                                slow_build) for _ in range(32)]
            paths = {f.result(timeout=60) for f in futs}
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1 and len(paths) == 1
    assert os.listdir(paths.pop()) == ["data"]


# with every scan_* check: the checks that read an ensure_* fixture
FIXTURE_CHECKS = ["sink_overwrite", "sessionize_stream", "dedup_stream",
                  "stream_join_outer", "sim_pq_index", "sim_ivf_index",
                  "sim_ivf_append", "sim_ivf_compact"]


def test_ensure_all_builds_every_fixture_a_check_reads(
        spark, sf_dir, tmpdir_env, monkeypatch):
    from ethereum2_etl_airflow_spark.plans import (
        checks_extension, checks_reference)
    from ethereum2_etl_airflow_spark.plans.registry import (
        ensure_all, spark_queries)

    built = []

    def spy(sf, tag, build):
        def recorded(out):
            built.append(tag)
            build(out)
        return testdata.fixture_dir(sf, tag, recorded)

    for mod in (checks_extension, checks_reference):
        monkeypatch.setattr(mod, "fixture_dir", spy)
    assert ensure_all(spark, sf_dir) == []
    assert len(built) == len(set(built)) == 15, built

    built.clear()
    queries = spark_queries()
    for name in [n for n in queries if n.startswith("scan_")] \
            + FIXTURE_CHECKS:
        queries[name](spark, sf_dir)
    assert built == []
