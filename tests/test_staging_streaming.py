"""Export-side staging writer (hourly + latest) and incremental
streaming behavior (new files picked up across micro-batch runs)."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from ethereum2_etl_airflow_spark.functions.skew import salted_join
from ethereum2_etl_airflow_spark.operators.load import read_latest_snapshot
from ethereum2_etl_airflow_spark.sources.fixtures import gen_beacon_blocks
from ethereum2_etl_airflow_spark.sources.ndjson import (
    read_ndjson, read_partition, stage_export,
)
from ethereum2_etl_airflow_spark.sources.schemas import beacon_schema
from ethereum2_etl_airflow_spark.sources.testdata import load_table

GENESIS = 1704067200
SPS = 300


def test_stage_export_daily_layout(spark, tmp_path):
    blocks = gen_beacon_blocks(spark, 2 * 288, genesis=GENESIS, secs_per_slot=SPS)
    root = str(tmp_path)
    base = stage_export(blocks, root, "beacon_blocks", "block_timestamp")
    assert sorted(os.path.basename(d) for d in
                  glob.glob(f"{base}/block_date=*")) == [
        "block_date=2024-01-01", "block_date=2024-01-02"]
    back = read_ndjson(spark, f"{base}/*/*.json",
                       beacon_schema("beacon_blocks"))
    assert back.count() == 2 * 288


def test_stage_export_hourly_layout_and_latest(spark, tmp_path):
    blocks = gen_beacon_blocks(spark, 48, genesis=GENESIS, secs_per_slot=SPS)
    root = str(tmp_path)
    base = stage_export(blocks, root, "beacon_blocks", "block_timestamp",
                        hourly=True, latest_copy=True)
    # 48 slots x 300s = 4 hours of data under one date
    hours = sorted(os.path.basename(d) for d in
                   glob.glob(f"{base}/block_date=2024-01-01/hour=*"))
    assert hours == ["hour=00", "hour=01", "hour=02", "hour=03"]
    one = read_partition(spark, root, "beacon_blocks",
                         beacon_schema("beacon_blocks"),
                         "2024-01-01", hour="01", hourly=True)
    assert one.count() == 12  # one hour of 300 s slots
    latest = read_latest_snapshot(spark, f"{base}_latest")
    assert latest.count() == 48


def test_streaming_picks_up_new_files(spark, tmp_path):
    """Two availableNow runs: the second sees files staged after the
    first — the sensor-less incremental load (SURVEY §2.7 O6)."""
    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.hourly import (
        hourly_counts_stream)

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    first = ev.where(F.col("event_id") < 500)
    second = ev.where(F.col("event_id") >= 500)
    first.write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = hourly_counts_stream(spark, src, schema, ts_col="ts",
                                  ts_is_nanos=False)
    r1 = run_bounded(stream, spark, mode="complete", prefix="hourly")
    assert r1.agg(F.sum("n")).first()[0] == 500

    second.write.mode("append").parquet(src)
    r2 = run_bounded(stream, spark, mode="complete", prefix="hourly")
    assert r2.agg(F.sum("n")).first()[0] == 1000
    # per-hour rows equal the batch aggregate
    batch = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
             .agg(F.count("*").alias("n")).count())
    assert r2.count() == batch


def test_salted_join_equals_plain_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type")
    dim = ev.groupBy("user_id").agg(F.min("event_id").alias("first_event"))
    plain = ev.join(dim, "user_id")
    salted = salted_join(ev, dim, on="user_id", salt=8)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.select(*plain.columns).collect()}
    assert a == b


def test_salted_join_left_preserves_unmatched(spark):
    fact = spark.createDataFrame(
        [(1, "x"), (2, "y"), (99, "orphan")], "k long, v string")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, d string")
    out = salted_join(fact, dim, on="k", how="left", salt=4).collect()
    got = {(r["k"], r["d"]) for r in out}
    assert got == {(1, "a"), (2, "b"), (99, None)}


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from ethereum2_etl_airflow_spark.operators.similarity import (
        ann_ivf_topk, topk_cosine_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["vec_id"])
             for r in topk_cosine_bruteforce(emb, qids, k=10).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in ann_ivf_topk(emb, qids, k=10,
                                    n_lists=8, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    # probing half the cells on random data should keep decent recall
    assert recall >= 0.5, f"IVF recall {recall:.2f}"
    # and every IVF hit must carry the exact-tier cosine (same kernel)
    assert len(approx) == 50


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Native session-window sessionization: the stream emits exactly the
    batch sessions the final watermark has closed (session_end + gap
    before it)."""
    import os

    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.sessionize import (
        sessionize_batch, sessionize_stream,
    )

    gap_us = 6 * 3600 * 1_000_000
    ev = (load_table(spark, "/root/testdata/sf0.001", "events")
          .select("user_id", "ts", "value"))
    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    # two files in event-time order so the watermark advances between
    # micro-batches (maxFilesPerTrigger=1) and closes early sessions
    ev.where(F.col("ts") < "2024-01-15").coalesce(1) \
        .write.mode("append").parquet(src)
    ev.where(F.col("ts") >= "2024-01-15").coalesce(1) \
        .write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream_src = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
    sessions = sessionize_stream(stream_src, gap_s=6 * 3600,
                                 watermark="1 hour")
    got = {tuple(r) for r in run_bounded(sessions, spark, prefix="sess")
           .collect()}

    # the watermark tracks the max event time in milliseconds
    max_us = ev.select(F.unix_micros(F.max(F.col("ts").cast("timestamp")))) \
        .first()[0]
    watermark_us = max_us // 1000 * 1000 - 3600 * 1_000_000
    closed = sessionize_batch(ev, gap_s=6 * 3600).where(
        F.unix_micros(F.col("session_end").cast("timestamp")) + gap_us
        < watermark_us)
    expected = {tuple(r) for r in closed.collect()}
    assert len(expected) == 578
    assert got == expected


def test_sessionize_stream_closes_on_event_time(spark, tmp_path):
    """A session stays open through batches where its user has no data:
    user 1's 00:00 session takes its 04:00 event two batches later, and
    closes only when the watermark passes 04:00 + gap."""
    import datetime
    import os
    import time

    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.sessionize import (
        sessionize_stream,
    )

    day = datetime.datetime(2024, 1, 1)
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    # one file per micro-batch: (user_id, hour of its one event)
    for i, (user, hour) in enumerate([(1, 0), (2, 3), (1, 4), (3, 36)]):
        out = str(tmp_path / f"f{i}")
        spark.createDataFrame(
            [(user, day + datetime.timedelta(hours=hour), 1.0)],
            "user_id long, ts timestamp, value double") \
            .coalesce(1).write.parquet(out)
        (part,) = glob.glob(f"{out}/part-*.parquet")
        dst = str(src / f"{i}.parquet")
        os.rename(part, dst)
        # the file source orders files by modification time
        os.utime(dst, (now - 40 + 10 * i,) * 2)

    stream_src = (spark.readStream
                  .schema("user_id long, ts timestamp, value double")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = run_bounded(sessionize_stream(stream_src, gap_s=6 * 3600,
                                        watermark="1 hour"),
                      spark, prefix="sess")
    got = {tuple(r) for r in out.collect()}
    h = lambda n: day + datetime.timedelta(hours=n)  # noqa: E731
    assert got == {(1, h(0), h(4), 2, 2000), (2, h(3), h(3), 1, 1000)}


def test_asof_join_semantics(spark):
    from ethereum2_etl_airflow_spark.functions.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 50)], "k long, t long") \
        .select("k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (2, 60, "z")], "k long, t long, v string") \
        .select("k", F.timestamp_seconds("t").alias("rts"), "v")

    out = {(r["k"], r["ts"].second + r["ts"].minute * 60, r["asof_v"])
           for r in asof_join(left, right, "k", "ts", "rts").collect()}
    # t=10 inclusive -> "a"; t=20 -> "b"; t=5 -> no earlier ref -> NULL;
    # k=2 t=50 -> ref at 60 is later -> NULL
    assert out == {(1, 10, "a"), (1, 20, "b"), (1, 5, None), (2, 50, None)}

    strict = {(r["k"], r["ts"].second + r["ts"].minute * 60, r["asof_v"])
              for r in asof_join(left, right, "k", "ts", "rts",
                                 strict=True).collect()}
    # strict: the simultaneous ref at t=10 is no longer visible
    assert strict == {(1, 10, None), (1, 20, "b"), (1, 5, None), (2, 50, None)}


def test_verify_ansi_cast_mode(spark):
    """P5 bug-for-bug fidelity: under ANSI mode the reference's
    CAST('<msg>' AS BIGINT) trick errors on a violated invariant and the
    message text surfaces."""
    import pytest

    from ethereum2_etl_airflow_spark.operators.load import derive_block_date
    from ethereum2_etl_airflow_spark.operators.verify import run_check
    from ethereum2_etl_airflow_spark.sources.fixtures import gen_beacon_blocks

    gapped = gen_beacon_blocks(spark, 288, genesis=GENESIS, secs_per_slot=SPS,
                               gap_slots={44})
    derive_block_date(gapped, "block_timestamp") \
        .createOrReplaceTempView("beacon_blocks")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception) as ei:
            run_check(spark, "blocks_count", "2024-01-01", ansi_cast=True)
        assert "not equal to last slot" in str(ei.value) \
            or "CAST_INVALID_INPUT" in str(ei.value)
        # and a clean chain passes under the same mode
        ok = gen_beacon_blocks(spark, 288, genesis=GENESIS, secs_per_slot=SPS)
        derive_block_date(ok, "block_timestamp") \
            .createOrReplaceTempView("beacon_blocks")
        run_check(spark, "blocks_count", "2024-01-01", ansi_cast=True)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_asof_join_tied_reference_rows_deterministic(spark):
    """Several reference rows sharing (key, ts): the payload-struct
    tiebreaker must resolve to the lexicographically greatest payload,
    identically on every run/partitioning."""
    from datetime import datetime

    from ethereum2_etl_airflow_spark.functions.asof import asof_join

    t = datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([(1, datetime(2024, 1, 1, 12, 30))],
                                 "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t, "a"), (1, t, "c"), (1, t, "b")],
        "k long, rts timestamp, v string")
    outs = set()
    for n in (1, 2, 3, 8):
        out = asof_join(left, right.repartition(n), "k", "ts", "rts")
        outs.add(out.first()["asof_v"])
    assert outs == {"c"}


def test_dedup_stream_watermark_horizon(spark, tmp_path):
    """In-horizon copies are dropped; a copy arriving beyond the
    watermark delay is state-evicted and survives (the documented
    streaming-dedup contract)."""
    import os
    from datetime import datetime, timedelta

    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    batch1 = spark.createDataFrame(
        [(1, "the same text", t0),
         (2, "the same text  ", t0 + timedelta(minutes=5)),  # in horizon
         (3, "different text", t0 + timedelta(minutes=6))],
        "doc_id long, text string, ts timestamp")
    # the watermark applied to batch N comes from batch N-1's data, and
    # state eviction runs in end-of-batch cleanup — so the late copy must
    # arrive two batches after the event that advances the watermark:
    # batch2 advances it, batch3's cleanup evicts, batch4's copy survives
    batch2 = spark.createDataFrame(
        [(4, "unrelated text", t0 + timedelta(hours=5))],
        "doc_id long, text string, ts timestamp")
    batch3 = spark.createDataFrame(
        [(6, "another unrelated text", t0 + timedelta(hours=5, minutes=2))],
        "doc_id long, text string, ts timestamp")
    batch4 = spark.createDataFrame(
        [(5, "THE SAME TEXT", t0 + timedelta(hours=5, minutes=3))],
        "doc_id long, text string, ts timestamp")
    # stage each batch as its own file with strictly increasing mtime —
    # the file source orders micro-batches by modification time, and
    # uuid part names make write order ≠ listing order otherwise
    import shutil

    for i, b in enumerate([batch1, batch2, batch3, batch4]):
        tmp = str(tmp_path / f"w{i}")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        dest = os.path.join(src, f"{i}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dest)
        os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (spark.readStream.schema(batch1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = run_bounded(dedup_stream(stream, watermark="1 hour"), spark,
                      prefix="dedup")
    rows = out.collect()
    # batch1: one of doc 1/2 survives (same fingerprint) + doc 3;
    # batch2/3: docs 4 and 6 (new fps; wm reaches t0+4h, state evicted);
    # batch4: doc 5 re-surfaces because the fingerprint state expired
    ids = {r["doc_id"] for r in rows}
    assert out.count() == 5
    assert {3, 4, 5, 6} <= ids and len(ids & {1, 2}) == 1
    fps = [r["fp"] for r in rows]
    assert len(fps) == 5 and len(set(fps)) == 4  # doc5 repeats doc1/2's fp


def test_attribution_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream time-bound join over a single micro-batch equals the
    batch join built from the same logical definition."""
    import os

    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.join import attribution_join

    rows = [
        # user 1: click at t0, purchases at +30m (match) and +90m (no)
        (1, 100, "click", "2024-01-01 10:00:00"),
        (2, 101, "purchase", "2024-01-01 10:30:00"),
        (3, 102, "purchase", "2024-01-01 11:30:00"),
        # user 2: purchase before any click → no match
        (4, 103, "purchase", "2024-01-02 09:00:00"),
        (5, 104, "click", "2024-01-02 10:00:00"),
    ]
    ev = (spark.createDataFrame(
        [(r[1], 1 if r[0] <= 3 else 2, r[2], r[3]) for r in rows],
        "event_id long, user_id long, event_type string, ts_s string")
        .select("event_id", "user_id", "event_type",
                F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts")))
    clicks = ev.where("event_type = 'click'")
    purchases = ev.where("event_type = 'purchase'")
    batch = attribution_join(clicks, purchases).collect()
    assert {(r["click_id"], r["purchase_id"]) for r in batch} == {(100, 101)}

    src = str(tmp_path / "ev_src")
    os.makedirs(src, exist_ok=True)
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    streamed = run_bounded(
        attribution_join(stream.where("event_type='click'"),
                         stream.where("event_type='purchase'")), spark,
        prefix="ssj")
    assert ({(r["click_id"], r["purchase_id"]) for r in streamed.collect()}
            == {(100, 101)})


def test_stream_latest_snapshot_upsert(spark, tmp_path):
    """foreachBatch upsert: two micro-batches → snapshot holds the
    per-key newest row across both; snapshot survives the second merge."""
    import os
    import shutil

    from ethereum2_etl_airflow_spark.operators.load import (
        read_latest_snapshot)
    from ethereum2_etl_airflow_spark.streaming.upsert import (
        stream_latest_snapshot)

    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b")], "user_id long, seq long, v string")
    b2 = spark.createDataFrame(
        [(1, 12, "c"), (3, 9, "d")], "user_id long, seq long, v string")

    src = str(tmp_path / "up_src")
    os.makedirs(src, exist_ok=True)
    for i, b in enumerate([b1, b2]):
        tmp = str(tmp_path / f"w{i}")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        dest = os.path.join(src, f"{i}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dest)

    snap = str(tmp_path / "snap")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_latest_snapshot(
        stream, snap, ["user_id"], ["seq"],
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()

    result = {r["user_id"]: (r["seq"], r["v"])
              for r in read_latest_snapshot(spark, snap).collect()}
    assert result == {1: (12, "c"), 2: (11, "b"), 3: (9, "d")}


def test_hourly_stream_resumes_from_checkpoint(spark, tmp_path):
    """Checkpointed incremental processing: a second availableNow run
    with the same checkpoint only reads files that arrived since the
    first run, and the complete-mode aggregate stays correct."""
    import os
    import shutil

    from ethereum2_etl_airflow_spark.streaming.hourly import (
        hourly_counts_stream)

    def write_file(df, i):
        tmp = str(tmp_path / f"hw{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        shutil.copyfile(os.path.join(tmp, part),
                        os.path.join(src, f"{i}.parquet"))

    src = str(tmp_path / "hr_src")
    os.makedirs(src, exist_ok=True)
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz")
    from datetime import datetime

    b1 = mk([(1, datetime(2024, 1, 1, 10, 5)),
             (2, datetime(2024, 1, 1, 10, 40))])
    b2 = mk([(3, datetime(2024, 1, 1, 11, 10))])
    write_file(b1, 0)

    ckpt = str(tmp_path / "ckpt")
    schema = b1.schema

    def run_once(qname):
        stream = hourly_counts_stream(spark, src, schema)
        q = (stream.writeStream.format("memory").queryName(qname)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["hour_start"]: (r["n"], r["start_block"], r["end_block"])
                for r in spark.table(qname).collect()}

    first = run_once("hr_run1")
    assert list(first.values()) == [(2, 1, 2)]

    write_file(b2, 1)
    second = run_once("hr_run2")
    assert sorted(second.values()) == [(1, 3, 3), (2, 1, 2)]


def test_attribution_outer_withholds_until_watermark(spark, tmp_path):
    """Left-outer emission contract: an unmatched click is WITHHELD
    while the watermark could still admit a match, and emitted
    null-extended once the watermark passes click_ts + within.  Also
    pins state eviction: matched rows emit immediately in both runs."""
    import glob
    import os
    import shutil

    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.join import attribution_join

    def mk(rows):
        return (spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts_s string")
            .select("event_id", "user_id", "event_type",
                    F.to_timestamp("ts_s").alias("ts")))

    # u1 click unmatched; u2 click matched at +30m
    real = mk([(100, 1, "click", "2024-01-01 10:00:00"),
               (101, 2, "click", "2024-01-01 10:00:00"),
               (200, 2, "purchase", "2024-01-01 10:30:00")])
    # watermark delay 2 h, join bound 1 h: u1 evictable once the
    # max event time passes t0 + 3 h
    near = mk([(-10, -1, "click", "2024-01-01 12:00:00"),
               (-11, -1, "purchase", "2024-01-01 12:00:00")])
    far = mk([(-20, -2, "click", "2024-01-01 16:00:00"),
              (-21, -2, "purchase", "2024-01-01 16:00:00")])

    def run(files, tag):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        for i, df in enumerate(files):
            tmp = str(tmp_path / f"tmp_{tag}_{i}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            dest = os.path.join(src, f"{i:03d}.parquet")
            shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dest)
            os.utime(dest, (1_700_000_000 + i * 10,) * 2)
        stream = (spark.readStream.schema(real.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        out = run_bounded(attribution_join(
            stream.where("event_type='click'"),
            stream.where("event_type='purchase'"), how="leftOuter"),
            spark, prefix="ssj")
        return {(r["user_id"], r["click_id"], r["purchase_id"])
                for r in out.collect()}

    # watermark tops out at t0 (12:00 − 2 h): u1 withheld, match emitted
    got = run([real, near], "open")
    assert (2, 101, 200) in got
    assert not any(u == 1 for u, _, _ in got)
    # watermark reaches t0 + 2 h > t0 + 1 h: u1's null row flushes
    got = run([real, near, far], "closed")
    assert (2, 101, 200) in got and (1, 100, None) in got


def test_enrich_with_dim_left_keeps_unmatched(spark):
    from ethereum2_etl_airflow_spark.streaming.enrich import enrich_with_dim

    facts = spark.createDataFrame([(1, 10), (2, 99)], ["fid", "k"])
    dim = spark.createDataFrame([(10, "a")], ["dk", "attr"])
    out = {r["fid"]: r["attr"]
           for r in enrich_with_dim(facts, dim, "k", "dk", ["attr"],
                                    how="left").collect()}
    assert out == {1: "a", 2: None}


class _CountingSession:
    """Dict-backed stand-in for a session's conf that records every
    set/unset, to count restores."""

    def __init__(self, conf):
        self.conf, self._d, self.calls = self, dict(conf), []

    def get(self, k, default=None):
        return self._d.get(k, default)

    def set(self, k, v):
        self.calls.append(("set", k, v))
        self._d[k] = v

    def unset(self, k):
        self.calls.append(("unset", k))
        self._d.pop(k, None)


def test_pinned_shuffle_reentrant_and_threadsafe(spark):
    """``pinned_conf`` (behind ``pinned_shuffle`` and every stream
    start) counts holders per key: nested holders keep the outermost
    value, an inner exit does not restore early, concurrent holders
    restore exactly once, and a key unset before the pin is unset
    again after it."""
    import sys
    import threading

    from ethereum2_etl_airflow_spark.functions.layout import (
        pinned_conf, pinned_shuffle)

    key, akey = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    before, abefore = spark.conf.get(key), spark.conf.get(akey)
    with pinned_conf(spark, {key: 3}):
        assert spark.conf.get(key) == "3"
        with pinned_conf(spark, {key: 5}):  # nested: outermost wins
            assert spark.conf.get(key) == "3"
        assert spark.conf.get(key) == "3"     # inner exit didn't restore
        # keys are counted independently: an inner holder of a second
        # key pins and restores it while the outer width stays
        with pinned_shuffle(spark, 5):
            assert spark.conf.get(akey) == "false"
            assert spark.conf.get(key) == "3"
        assert spark.conf.get(akey) == abefore
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before

    # concurrent holders on the real session: every holder reads a pin
    # while all of them hold it, and the last exit restores
    n_threads, inside = 8, []
    barrier = threading.Barrier(n_threads, timeout=60)

    def worker(sess, out):
        barrier.wait()
        with pinned_conf(sess, {key: 7}):
            barrier.wait()
            out.append(sess.conf.get(key))
            barrier.wait()

    def run_threads(sess, out):
        ts = [threading.Thread(target=worker, args=(sess, out))
              for _ in range(n_threads)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)  # interleave the holders finely
        try:
            for t in ts:
                t.start()
            for t in ts:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in ts)

    run_threads(spark, inside)
    assert inside == ["7"] * n_threads
    assert spark.conf.get(key) == before

    # ...and the same interleaving sets and restores exactly once
    fake, seen = _CountingSession({key: "8"}), []
    run_threads(fake, seen)
    assert seen == ["7"] * n_threads
    assert fake.calls == [("set", key, "7"), ("set", key, "8")]

    # a key unset before the pin is unset again afterwards (the
    # run_bounded(flush=False) noDataMicroBatches path)
    nkey = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(nkey, None)
    spark.conf.unset(nkey)
    try:
        with pinned_conf(spark, {nkey: "false"}):
            with pinned_conf(spark, {nkey: "true"}):
                assert spark.conf.get(nkey) == "false"
            assert spark.conf.get(nkey) == "false"
        assert spark.conf.get(nkey, None) is None
        fake = _CountingSession({})
        with pinned_conf(fake, {nkey: "false"}):
            pass
        assert fake.calls == [("set", nkey, "false"), ("unset", nkey)]
    finally:
        if prev is not None:
            spark.conf.set(nkey, prev)


def test_pinned_shuffle_state_is_per_session(spark):
    """Two SparkSessions have independent SQLConf — the pin state must
    be keyed per session (round-6 advice: a module-global refcount
    silently skipped pinning the second session and restored the first
    session's saved conf into it)."""
    from ethereum2_etl_airflow_spark.functions.layout import pinned_conf

    key = "spark.sql.shuffle.partitions"
    other = spark.newSession()
    before_a, before_b = spark.conf.get(key), other.conf.get(key)
    with pinned_conf(spark, {key: 3}):
        with pinned_conf(other, {key: 5}):
            # each session pinned to ITS OWN value, not the outer's
            assert spark.conf.get(key) == "3"
            assert other.conf.get(key) == "5"
        assert other.conf.get(key) == before_b
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before_a
    assert other.conf.get(key) == before_b


def test_run_bounded_flush_false_matches_and_restores_conf(spark, tmp_path):
    """``flush=False`` (skip the final no-data micro-batch) is valid
    for emission-on-arrival append queries: an inner attribution join
    over a MULTI-batch source must emit the identical row set with and
    without the flush batch, and the session conf must be restored
    after the run (including when it was previously set)."""
    import os
    import shutil
    from datetime import datetime, timedelta

    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.join import attribution_join

    src = str(tmp_path / "ev")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows1 = [(i, i % 3, "click", t0 + timedelta(minutes=i))
             for i in range(6)]
    rows2 = [(100 + i, i % 3, "purchase", t0 + timedelta(minutes=i + 10))
             for i in range(6)]
    for i, rows in enumerate([rows1, rows2]):
        b = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
                  "ts timestamp")
        tmp = str(tmp_path / f"w{i}")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        dest = os.path.join(src, f"{i}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dest)
        os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    def run(flush):
        stream = (spark.readStream
                  .schema("event_id long, user_id long, "
                          "event_type string, ts timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        joined = attribution_join(
            stream.where(F.col("event_type") == "click"),
            stream.where(F.col("event_type") == "purchase"))
        return sorted(map(tuple, run_bounded(
            joined, spark, mode="append", prefix="tf",
            flush=flush).collect()))

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    try:
        assert run(flush=False) == run(flush=True)
        assert spark.conf.get(key) == "true"  # restored to the prior value
    finally:
        spark.conf.unset(key)


def test_run_bounded_drops_its_memory_sink(spark, tmp_path):
    """Each run's uuid-named memory-sink view is dropped before the
    result returns, and the result still reads and aggregates from the
    sink."""
    from ethereum2_etl_airflow_spark.streaming import run_bounded

    src = str(tmp_path / "ev")
    spark.range(12).selectExpr("id", "id % 3 AS k").coalesce(1) \
        .write.parquet(src)
    stream = spark.readStream.schema("id long, k long").parquet(src)

    def sink_views():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("st_")}

    before = sink_views()
    out = run_bounded(stream.where("k = 1"), spark)
    assert sink_views() - before == set()
    first = sorted(map(tuple, out.collect()))
    assert first == [(1, 1), (4, 1), (7, 1), (10, 1)]
    assert sorted(map(tuple, out.collect())) == first
    assert out.groupBy("k").count().collect()[0]["count"] == 4


def test_run_bounded_concurrent_flush_runs_keep_their_own_conf(spark,
                                                                 tmp_path):
    """A ``flush=False`` run and a ``flush=True`` run started while the
    first is still running, in one session under ``parallel_frames``:
    the flush=True outer join still emits its watermark-released null
    rows (each stream keeps the conf it started with), and the
    session's no-data-batch setting is restored afterwards."""
    import shutil
    import time
    from datetime import datetime, timedelta

    from ethereum2_etl_airflow_spark.functions.layout import parallel_frames
    from ethereum2_etl_airflow_spark.streaming import run_bounded
    from ethereum2_etl_airflow_spark.streaming.join import attribution_join

    # real clicks/purchases, then a sentinel pair 5 h later whose
    # watermark closes over every real click
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    files = [[(i, i % 3, "click", t0 + timedelta(minutes=i))
              for i in range(6)]
             + [(100, 0, "purchase", t0 + timedelta(minutes=10))],
             [(-10, -1, "click", t0 + timedelta(hours=5)),
              (-11, -1, "purchase", t0 + timedelta(hours=5))]]
    src = str(tmp_path / "ev")
    os.makedirs(src)
    for i, rows in enumerate(files):
        tmp = str(tmp_path / f"w{i}")
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
                  "ts timestamp").coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        dest = os.path.join(src, f"{i}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dest)
        os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    def stream(per_file=False):
        r = spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp")
        if per_file:
            r = r.option("maxFilesPerTrigger", 1)
        s = r.parquet(src)
        return (s.where(F.col("event_type") == "click"),
                s.where(F.col("event_type") == "purchase"))

    def outer():
        return sorted(map(tuple, run_bounded(
            attribution_join(*stream(), how="leftOuter"), spark,
            prefix="cfo")
            .collect()), key=repr)

    def inner():
        return run_bounded(attribution_join(*stream(per_file=True)), spark,
                           prefix="cfi", flush=False).collect()

    def late_outer():
        time.sleep(0.3)
        return outer()

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key, None)
    expected = outer()
    assert sum(r[2] is None for r in expected) == 4  # released nulls
    got_inner, got_outer = parallel_frames(inner, late_outer)
    assert got_outer == expected
    assert len(got_inner) == 3  # user 0's two pairs + the sentinel
    assert spark.conf.get(key, None) == before
