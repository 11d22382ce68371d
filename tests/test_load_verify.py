"""End-to-end load + verify slice (SURVEY §7.1): staged NDJSON →
schema-enforced partitioned parquet → verify invariants pass/fail."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ethereum2_etl_airflow_spark.operators.load import (
    compute_meta, derive_block_date, load_table, write_partitioned,
)
from ethereum2_etl_airflow_spark.operators.verify import (
    CHECKS, run_all_checks, run_check,
)
from ethereum2_etl_airflow_spark.sources.fixtures import (
    gen_beacon_blocks, gen_beacon_committees, gen_beacon_validators,
    write_staging_ndjson,
)
from ethereum2_etl_airflow_spark.sources.ndjson import read_ndjson, read_partition
from ethereum2_etl_airflow_spark.sources.schemas import beacon_schema

# Compressed clock: 300 s/slot → 288 slots/day; genesis at a UTC midnight.
GENESIS = 1704067200  # 2024-01-01 00:00:00 UTC
SPS = 300
N_SLOTS = 3 * 288  # three full days
DS = "2024-01-03"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("staging"))
    blocks = gen_beacon_blocks(spark, N_SLOTS, genesis=GENESIS, secs_per_slot=SPS)
    write_staging_ndjson(blocks, root, "beacon_blocks", "block_timestamp")
    committees = gen_beacon_committees(spark, N_SLOTS // 32, genesis=GENESIS,
                                       secs_per_slot=SPS * 32 // 32)
    return root, blocks, committees


def test_ndjson_scan_imposes_schema(spark, staged):
    root, blocks, _ = staged
    st = beacon_schema("beacon_blocks")
    df = read_ndjson(spark, f"{root}/export/beacon_blocks/*/*.json", st)
    # unknown `_extra` key silently dropped (ignore_unknown_values analog)
    assert "_extra" not in df.columns
    assert df.count() == N_SLOTS
    # nested arrays survive the round trip
    row = df.where(F.col("block_slot") == 5).select(
        F.size("deposits").alias("nd")).first()
    assert row["nd"] == 1


def test_single_partition_scan(spark, staged):
    root, *_ = staged
    st = beacon_schema("beacon_blocks")
    df = read_partition(spark, root, "beacon_blocks", st, DS)
    assert df.count() == 288
    assert df.select(F.min(F.to_date("block_timestamp"))).first()[0].isoformat() == DS


def test_load_partitioned_and_verify_pass(spark, staged, tmp_path):
    root, blocks, committees = staged
    st = beacon_schema("beacon_blocks")
    staged_df = read_ndjson(spark, f"{root}/export/beacon_blocks/*/*.json", st)
    dest = str(tmp_path / "tables" / "beacon_blocks")
    load_table(spark, staged_df, dest, "block_timestamp")
    out = spark.read.parquet(dest)
    # hive layout: block_date recovered as partition column
    assert "block_date" in out.columns
    assert out.count() == N_SLOTS
    out.createOrReplaceTempView("beacon_blocks")

    cdest = str(tmp_path / "tables" / "beacon_committees")
    load_table(spark, committees, cdest, "epoch_timestamp")
    spark.read.parquet(cdest).createOrReplaceTempView("beacon_committees")

    # dense epochs 0..3 so the gapless-epoch invariant holds
    vals = gen_beacon_validators(spark, 64, epoch=0, genesis=GENESIS,
                                 secs_per_slot=SPS)
    for e in (1, 2, 3):
        vals = vals.unionByName(gen_beacon_validators(
            spark, 64, epoch=e, genesis=GENESIS, secs_per_slot=SPS))
    derive_block_date(vals, "timestamp").createOrReplaceTempView("beacon_validators")

    run_check(spark, "blocks_count", DS)
    run_check(spark, "blocks_have_latest", DS)
    run_check(spark, "committees_count", DS)
    run_check(spark, "validators_count", "2024-01-01")


def test_verify_fails_on_gaps(spark, tmp_path):
    gapped = gen_beacon_blocks(spark, 288, genesis=GENESIS, secs_per_slot=SPS,
                               gap_slots={17, 95})
    derive_block_date(gapped, "block_timestamp").createOrReplaceTempView("beacon_blocks")
    with pytest.raises(Exception) as ei:
        run_check(spark, "blocks_count", "2024-01-01")
    assert "not equal to last slot" in str(ei.value)

    gapped_c = gen_beacon_committees(spark, 9, genesis=GENESIS,
                                     secs_per_slot=SPS, gap_epochs={4})
    derive_block_date(gapped_c, "epoch_timestamp").createOrReplaceTempView(
        "beacon_committees")
    with pytest.raises(Exception):
        run_check(spark, "committees_count", "2024-01-01")


def test_verify_empty_range_raises(spark):
    """With no rows dated <= ds, MAX is NULL, the aggregate condition is
    not true, and the gapless checks still fail."""
    later = gen_beacon_blocks(spark, 288, genesis=GENESIS, secs_per_slot=SPS)
    derive_block_date(later, "block_timestamp").createOrReplaceTempView(
        "beacon_blocks")
    committees = gen_beacon_committees(spark, 9, genesis=GENESIS,
                                       secs_per_slot=SPS)
    derive_block_date(committees, "epoch_timestamp").createOrReplaceTempView(
        "beacon_committees")
    with pytest.raises(Exception) as ei:
        run_check(spark, "blocks_count", "2023-12-31")
    assert "not equal to last slot" in str(ei.value)
    with pytest.raises(Exception) as ei:
        run_check(spark, "committees_count", "2023-12-31")
    assert "Epoch count mismatch in committees" in str(ei.value)


def test_verify_fails_on_missing_latest(spark):
    one_day = gen_beacon_blocks(spark, 288, genesis=GENESIS, secs_per_slot=SPS)
    derive_block_date(one_day, "block_timestamp").createOrReplaceTempView(
        "beacon_blocks")
    with pytest.raises(Exception) as ei:
        run_check(spark, "blocks_have_latest", "2024-01-05")
    assert "no blocks" in str(ei.value)


def test_snapshot_only_last_date(spark, tmp_path):
    """Validators daily load keeps only the last date (only_last_date=True,
    `build_load_dag.py:127`)."""
    # 9 epochs x 32 slots x 300 s = exactly one day per step
    days = [gen_beacon_validators(spark, 32, epoch=e, genesis=GENESIS,
                                  secs_per_slot=SPS) for e in (0, 9, 18)]
    df = days[0].unionByName(days[1]).unionByName(days[2])
    dest = str(tmp_path / "vals")
    load_table(spark, df, dest, "timestamp", only_last_date=True)
    out = spark.read.parquet(dest)
    assert out.select("epoch").distinct().collect()[0][0] == 18
    assert out.count() == 32


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Incremental re-load of one date must not clobber other partitions
    (deviation from the reference's truncate-the-world, SURVEY §7.4.4)."""
    dest = str(tmp_path / "blocks")
    full = gen_beacon_blocks(spark, 2 * 288, genesis=GENESIS, secs_per_slot=SPS)
    write_partitioned(derive_block_date(full, "block_timestamp"), dest)
    day2 = full.where(F.to_date("block_timestamp") == "2024-01-02")
    write_partitioned(derive_block_date(day2, "block_timestamp"), dest)
    assert spark.read.parquet(dest).count() == 2 * 288  # day 1 intact

    # replicate_truncate=True restores reference semantics
    write_partitioned(derive_block_date(day2, "block_timestamp"), dest,
                      replicate_truncate=True)
    assert spark.read.parquet(dest).count() == 288


def test_meta_sidecar(spark):
    blocks = gen_beacon_blocks(spark, 2 * 288, genesis=GENESIS, secs_per_slot=SPS)
    meta = compute_meta(derive_block_date(blocks, "block_timestamp"), "block_slot")
    rows = {r["block_date"].isoformat(): (r["start_block"], r["end_block"])
            for r in meta.collect()}
    assert rows == {"2024-01-01": (0, 287), "2024-01-02": (288, 575)}


def test_latest_snapshot_swap(spark, tmp_path):
    """beacon_validators_latest write-then-swap: readers always resolve a
    complete snapshot; re-publish atomically repoints (SURVEY §7.4.5)."""
    from ethereum2_etl_airflow_spark.operators.load import (
        read_latest_snapshot, write_latest_snapshot,
    )

    base = str(tmp_path / "latest")
    v1 = gen_beacon_validators(spark, 16, epoch=1, genesis=GENESIS,
                               secs_per_slot=SPS)
    d1 = write_latest_snapshot(v1, base)
    assert read_latest_snapshot(spark, base).count() == 16

    v2 = gen_beacon_validators(spark, 24, epoch=2, genesis=GENESIS,
                               secs_per_slot=SPS)
    d2 = write_latest_snapshot(v2, base)
    assert d1 != d2
    got = read_latest_snapshot(spark, base)
    assert got.count() == 24
    assert got.select("epoch").distinct().first()[0] == 2
    # previous version still intact for in-flight readers
    assert spark.read.parquet(d1).count() == 16


def test_meta_txt_fidelity(spark, tmp_path):
    """Sidecar text format matches the reference byte-for-byte:
    "{start},{end}" in {table}_meta.txt under the date partition."""
    from ethereum2_etl_airflow_spark.operators.load import write_meta_txt

    blocks = gen_beacon_blocks(spark, 2 * 288, genesis=GENESIS, secs_per_slot=SPS)
    meta = compute_meta(derive_block_date(blocks, "block_timestamp"), "block_slot")
    paths = write_meta_txt(meta, str(tmp_path))
    assert len(paths) == 2
    by_date = {p.split("block_date=")[1].split("/")[0]: open(p).read()
               for p in paths}
    assert by_date == {"2024-01-01": "0,287", "2024-01-02": "288,575"}


def test_corrupt_record_capture(spark, tmp_path):
    """Stronger than BigQuery's silent tolerance: corrupt NDJSON lines
    can be captured into a designated column (SURVEY §1.3)."""
    p = tmp_path / "bad.json"
    p.write_text('{"block_slot": 1, "skipped": false}\n'
                 'this is not json at all\n'
                 '{"block_slot": 2, "skipped": true}\n')
    df = read_ndjson(spark, str(p), beacon_schema("beacon_blocks"),
                     corrupt_col="_corrupt")
    rows = df.select("block_slot", "_corrupt").collect()
    good = {r["block_slot"] for r in rows if r["_corrupt"] is None}
    bad = [r["_corrupt"] for r in rows if r["_corrupt"] is not None]
    assert good == {1, 2}
    assert bad == ["this is not json at all"]


def test_schema_evolution_merge_read(spark, tmp_path):
    """Additive schema evolution across partitions: files written before
    a column existed read back as NULL under mergeSchema — the parquet
    analog of the reference's ignore_unknown_values/additive-field story."""
    d = str(tmp_path / "evo")
    spark.createDataFrame([(1, "a")], "id long, x string") \
        .write.mode("append").parquet(d)
    spark.createDataFrame([(2, "b", 7.5)], "id long, x string, y double") \
        .write.mode("append").parquet(d)
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "x", "y"}
    rows = {r["id"]: (r["x"], r["y"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 7.5)}


def test_write_partitioned_observed_metrics(spark, tmp_path):
    """Observation metrics ride the write action — counts/min/max with
    no second scan of the table."""
    from ethereum2_etl_airflow_spark.operators.load import (
        derive_block_date, write_partitioned_observed)
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    ev = derive_block_date(
        load_table(spark, "/root/testdata/sf0.001", "events"), "ts")
    dest = str(tmp_path / "obs")
    m = write_partitioned_observed(ev, dest, "event_id")
    n = spark.read.parquet(dest).count()
    assert m["n_rows"] == n
    assert m["n_null_keys"] == 0
    assert (m["min_key"], m["max_key"]) == (0, n - 1)


def _parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def test_load_writes_zstd_int64_micros(spark, staged, tmp_path):
    """The warehouse format set in build_session: every column chunk is
    ZSTD, and block_timestamp is INT64 TIMESTAMP(MICROS, UTC) with min/max
    statistics (INT96 has none)."""
    import pyarrow.parquet as pq

    root, *_ = staged
    df = read_ndjson(spark, f"{root}/export/beacon_blocks/*/*.json",
                     beacon_schema("beacon_blocks"))
    dest = str(tmp_path / "beacon_blocks")
    load_table(spark, df, dest, "block_timestamp")
    files = _parquet_files(dest)
    assert files
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        i = pf.schema_arrow.get_field_index("block_timestamp")
        col = pf.schema.column(i)
        assert col.physical_type == "INT64"
        lt = col.logical_type.to_json()
        assert '"timeUnit": "microseconds"' in lt
        assert '"isAdjustedToUTC": true' in lt
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            assert {rg.column(k).compression
                    for k in range(rg.num_columns)} == {"ZSTD"}
            stats = rg.column(i).statistics
            assert stats is not None and stats.has_min_max


def test_mixed_format_partitions_read_together(spark, tmp_path):
    """A table written before the format change (snappy + INT96) takes a
    dynamic overwrite in the new format; Spark, verify and DuckDB read
    both partitions as one table."""
    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    dest = str(tmp_path / "beacon_blocks")
    blocks = derive_block_date(
        gen_beacon_blocks(spark, 2 * 288, genesis=GENESIS, secs_per_slot=SPS),
        "block_timestamp")
    old_conf = {k: spark.conf.get(k) for k in (
        "spark.sql.parquet.compression.codec",
        "spark.sql.parquet.outputTimestampType")}
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        write_partitioned(blocks.where("block_date = DATE'2024-01-01'"), dest)
    finally:
        for k, v in old_conf.items():
            spark.conf.set(k, v)
    write_partitioned(blocks.where("block_date = DATE'2024-01-02'"), dest)

    physical = {}
    for f in _parquet_files(dest):
        pf = pq.ParquetFile(f)
        i = pf.schema_arrow.get_field_index("block_timestamp")
        date = f.split("block_date=")[1][:10]
        physical.setdefault(date, set()).add(
            (pf.schema.column(i).physical_type,
             pf.metadata.row_group(0).column(i).compression))
    assert physical == {"2024-01-01": {("INT96", "SNAPPY")},
                        "2024-01-02": {("INT64", "ZSTD")}}

    out = spark.read.parquet(dest)
    assert out.schema["block_timestamp"].dataType == TimestampType()
    assert out.count() == 2 * 288
    span = out.groupBy("block_date").agg(
        F.min("block_timestamp").alias("lo"),
        F.max("block_timestamp").alias("hi")).collect()
    assert {r["block_date"].isoformat(): (r["lo"].isoformat(),
                                          r["hi"].isoformat())
            for r in span} == {
        "2024-01-01": ("2024-01-01T00:00:00", "2024-01-01T23:55:00"),
        "2024-01-02": ("2024-01-02T00:00:00", "2024-01-02T23:55:00")}
    out.createOrReplaceTempView("beacon_blocks")
    run_check(spark, "blocks_count", "2024-01-02")

    con = duckdb.connect()
    try:
        n, = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{dest}/*/*.parquet', "
            "hive_partitioning = true)").fetchone()
    finally:
        con.close()
    assert n == 2 * 288
