"""Loaders for the driver's TPC-H-ish testdata (TESTDATA.md), and the
one cache the checks' derived fixtures are published through.

Centralizes three concerns:

1. **Runtime confs**: the harness may hand us a SparkSession it built
   itself, so every entry point defensively sets the runtime-settable
   confs we rely on (UTC session timezone; ``nanosAsLong`` so the
   pandas-written ``events.parquet`` INT64(TIMESTAMP_NANOS) column is
   readable — Spark has no nanosecond timestamp type).
2. **Nanos normalization**: ``events.ts`` arrives as raw nanos (bigint)
   under ``nanosAsLong``; :func:`load_table` converts it to a microsecond
   TIMESTAMP, matching what DuckDB yields for the same file, so oracle
   comparisons line up exactly.
3. **Fixture cache**: :func:`fixture_dir` builds each staged file set,
   stream source and served index once per testdata version and
   publishes it atomically.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["ensure_runtime_conf", "load_table", "fixture_dir", "TABLES"]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: columns stored as INT64(TIMESTAMP_NANOS) in parquet, per table
_NANOS_TS_COLS = {"events": ["ts"]}


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs this engine depends on and ship the
    package to executors (idempotent) — every entry point calls this so a
    foreign SparkSession (the driver harness's) behaves like ours."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf on some builds; session.build_session sets it
    try:
        from ..session import ship_package

        ship_package(spark)
    except Exception:
        pass  # non-fatal: cwd-based imports still work in-repo
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing nanosecond timestamps."""
    ensure_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integer nanos → truncate to micros (same floor DuckDB applies).
            # DIV keeps the math in int64: float division would lose
            # precision (ns epoch values exceed double's 2^53 exact range).
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


#: one in-process builder at a time: concurrent threads share the pid,
#: so they would share a build directory
_BUILD_LOCK = threading.RLock()


def fixture_dir(sf_dir: str, tag: str, build) -> str:
    """The directory of fixture ``tag`` derived from ``sf_dir``, built on
    first use by ``build(tmp)`` and published with an atomic rename.

    The path is ``<tempdir>/e2etl_<tag>_<key>`` (``tempfile`` honors
    ``TMPDIR``).  The key hashes the normalized ``sf_dir`` and the name,
    size and mtime of every ``*.parquet`` entry in it, so rewritten
    testdata gets a fresh fixture; a tag names its builder's version and
    parameters.  The published directory is the only marker: ``build``
    writes into ``<path>.build.<pid>``, and a build that raises leaves
    nothing at ``path``, so a crash can never serve a partial fixture.
    A miss first reaps build directories whose pid is dead.  A rename
    that fails is another process's win when a fixture exists at
    ``path``, and an error otherwise."""
    key = hashlib.md5(os.path.normpath(sf_dir).encode())
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, name))
            key.update(f"|{name}|{st.st_size}|{st.st_mtime_ns}".encode())
    path = os.path.join(tempfile.gettempdir(),
                        f"e2etl_{tag}_{key.hexdigest()[:12]}")
    if os.path.isdir(path):
        return path
    with _BUILD_LOCK:
        if os.path.isdir(path):
            return path
        base, prefix = os.path.split(path + ".build.")
        for stale in os.listdir(base):
            if not stale.startswith(prefix):
                continue
            try:
                os.kill(int(stale[len(prefix):]), 0)  # raises if pid is gone
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
            except PermissionError:
                pass  # pid alive under another user
        tmp = f"{path}.build.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(path):
                raise  # not another process's win: nothing to serve
    return path
