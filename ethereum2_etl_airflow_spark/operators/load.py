"""Load stage: staged NDJSON → schema-enforced, date-partitioned Parquet.

Spark re-expression of the reference's BigQuery load jobs
(`build_load_dag.py:76-96`, `build_hourly_load_dag.py:92-108`):

- schema imposed from the externalized schema system (S1; :mod:`..sources.schemas`)
- ``WRITE_TRUNCATE`` → ``mode("overwrite")`` (S4, `build_load_dag.py:82`)
- ``TimePartitioning(field=ts_col)`` → derived ``block_date`` partition
  column + ``partitionBy`` (S5, `build_load_dag.py:84-85,126-128`)
- ``only_last_date`` snapshot loads (validators, `build_load_dag.py:127`)
- the ``blocks_meta`` min/max sidecar (S9, `build_export_dag.py:80-88`)
- CTAS / query-to-destination-table (S11, `bigquery_utils.py:68-76`)

**Scale-critical deviation** (SURVEY §7.4.4): the reference truncate-reloads
the *entire history wildcard every hour* (`build_hourly_load_dag.py:98,
103-104`) — O(history) per tick, untenable at 100 TB.  Default here is
**dynamic partition overwrite** (only the date partitions present in the
incoming batch are rewritten, an idempotent incremental load);
``replicate_truncate=True`` restores bug-for-bug truncate semantics.

Partitioning rationale at scale: one directory per UTC date keeps
partitions coarse (a day of beacon blocks is 7200 rows); all verify
predicates filter on ``block_date``, so Catalyst prunes every partition
outside the checked range (``block_date <= ds`` still reads all earlier
history).  Filtering ``DATE(block_timestamp)`` would prune nothing, hence
the materialized partition column (SURVEY §4 R1 caveat).

Physical format: every writer here inherits the session's zstd
compression and INT64 ``TIMESTAMP(MICROS)`` timestamps
(:mod:`..session`); no writer sets a format option of its own.  Readers
detect the format per file, so partitions written as snappy + INT96
stay readable next to new ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

__all__ = ["derive_block_date", "load_table", "write_partitioned",
           "compute_meta", "write_meta", "write_latest_snapshot",
           "read_latest_snapshot", "ctas", "latest_by_key",
           "compact_files", "write_partitioned_observed"]


def derive_block_date(df: DataFrame, ts_col: str) -> DataFrame:
    """Materialize the partition column from the table's TimePartitioning
    field (`build_load_dag.py:126-128`): ``block_date = DATE(ts_col)``."""
    return df.withColumn("block_date", F.to_date(F.col(ts_col)))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    replicate_truncate: bool = False,
) -> None:
    """S4+S5+S6: (dynamically) overwritten, Hive-partitioned columnar sink.

    With ``replicate_truncate=False`` and ``partitionOverwriteMode=dynamic``
    (session default) only partitions present in ``df`` are replaced —
    idempotent re-runs, incremental history.  ``replicate_truncate=True``
    drops everything first (reference `build_load_dag.py:82` semantics).
    """
    partition_cols = partition_cols if partition_cols is not None else ["block_date"]
    w = df.write.mode("overwrite").format("parquet")
    if replicate_truncate:
        w = w.option("partitionOverwriteMode", "static")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.save(path)


def load_table(
    spark: SparkSession,
    df: DataFrame,
    dest_path: str,
    ts_col: str | None,
    only_last_date: bool = False,
    replicate_truncate: bool = False,
) -> DataFrame:
    """Full load: derive partition column, optionally keep only the most
    recent date (validators snapshot, `build_load_dag.py:127` — exported
    with ``start_epoch=None,end_epoch=None`` i.e. current full state), and
    write.  Returns the written DataFrame (pre-write plan) for chaining.

    ``only_last_date`` keeps the rows of ``max(block_date)`` through a
    broadcast left-semi join.  The aggregate and its broadcast run as two
    jobs of their own before the write, so the load is three Spark jobs
    where a plain load is one.  Both read the input, not partition stats.
    """
    if ts_col is None:
        df.write.mode("overwrite").parquet(dest_path)
        return df
    out = derive_block_date(df, ts_col)
    if only_last_date:
        last = out.agg(F.max("block_date").alias("d"))
        out = out.join(F.broadcast(last), out["block_date"] == last["d"], "left_semi")
        write_partitioned(out, dest_path, replicate_truncate=True)
    else:
        write_partitioned(out, dest_path, replicate_truncate=replicate_truncate)
    return out


def compute_meta(df: DataFrame, range_col: str, date_col: str = "block_date") -> DataFrame:
    """S9/A4: per-date ``(start, end)`` range — the Spark analog of the
    ``blocks_meta.txt`` sidecar (`build_export_dag.py:80-88`), kept as a
    queryable table instead of a flat text file.  Map-side partial
    aggregation makes this one light shuffle at any scale.
    """
    return (
        df.groupBy(F.col(date_col).alias("block_date"))
        .agg(
            F.min(range_col).alias("start_block"),
            F.max(range_col).alias("end_block"),
        )
    )


def write_meta(meta: DataFrame, path: str) -> None:
    meta.write.mode("overwrite").parquet(path)


def write_meta_txt(meta: DataFrame, root: str, table: str = "beacon_blocks") -> list[str]:
    """Bug-for-bug sidecar fidelity: one ``{table}_meta.txt`` per date
    containing exactly ``"{start},{end}"`` under the staged partition dir
    (`build_export_dag.py:80-88,121-123`).  The queryable parquet meta
    table (:func:`write_meta`) is the scale path; this exists for
    consumers of the reference's file contract.  Driver-side write — the
    meta table is one tiny row per date by construction."""
    import os

    out = []
    for r in meta.collect():
        d = r["block_date"]
        ds = d if isinstance(d, str) else d.isoformat()
        pdir = os.path.join(root, "export", table, f"block_date={ds}")
        os.makedirs(pdir, exist_ok=True)
        p = os.path.join(pdir, f"{table}_meta.txt")
        with open(p, "w") as fh:
            fh.write(f"{r['start_block']},{r['end_block']}")
        out.append(p)
    return out


def write_latest_snapshot(df: DataFrame, base_path: str) -> str:
    """The ``beacon_validators_latest`` pattern, race-free.

    The reference overwrites the constant ``block_date=latest`` staging
    partition in place while the load DAG may concurrently read it
    (`build_hourly_export_dag.py:68-71,146-149` — SURVEY §7.4.4/§7.4.5).
    Here: write the snapshot to a fresh versioned directory, then
    atomically repoint a tiny ``_LATEST`` pointer file.  Readers resolve
    the pointer first, so they always see a complete snapshot; old
    versions remain until vacuumed.  (The same write-then-swap idea
    Delta/Iceberg formalize with a commit log.)

    Returns the versioned directory written.
    """
    import os
    import uuid

    version = uuid.uuid4().hex[:12]
    vdir = os.path.join(base_path, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    pointer_tmp = os.path.join(base_path, f"._LATEST.{version}.tmp")
    pointer = os.path.join(base_path, "_LATEST")
    os.makedirs(base_path, exist_ok=True)
    with open(pointer_tmp, "w") as fh:
        fh.write(vdir)
    os.replace(pointer_tmp, pointer)  # atomic on POSIX
    return vdir


def read_latest_snapshot(spark: SparkSession, base_path: str) -> DataFrame:
    """Resolve the ``_LATEST`` pointer and read that snapshot version."""
    with open(f"{base_path}/_LATEST") as fh:
        return spark.read.parquet(fh.read().strip())


def write_partitioned_observed(df: DataFrame, dest: str,
                               range_col: str,
                               date_col: str = "block_date") -> dict:
    """Partitioned write with data-quality metrics piggybacked on the
    write action itself (``df.observe``): row count, null keys, min/max
    of the range column — the stats the reference derives with a
    separate post-load query (`build_export_dag.py:80-88`) — for free,
    no second scan of the table.  Returns the metrics dict.

    At 100 TB a post-hoc ``SELECT COUNT(*), MIN, MAX`` re-reads the
    table; observed metrics ride the write's task results instead."""
    from pyspark.sql import Observation

    obs = Observation("load_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(range_col).isNull().cast("long")).alias("n_null_keys"),
        F.min(range_col).alias("min_key"),
        F.max(range_col).alias("max_key"))
    write_partitioned(observed, dest, partition_cols=[date_col])
    return dict(obs.get)


def compact_files(spark: SparkSession, src_dir: str, dest_dir: str,
                  target_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` files (the maintenance pass an
    hourly micro-batch sink needs — a day of hourly appends leaves
    dozens of KB-files whose per-task and NameNode/listing overhead
    dominates at scale; compacted ~128 MB files restore scan
    efficiency).

    File count is derived from *byte size on disk*, not row count —
    row width varies wildly across tables; bytes are what scan tasks
    are sized by.  Returns the output file count.  Uses ``repartition``
    (not ``coalesce``): a real shuffle re-balances skewed input files,
    and compaction is I/O-bound anyway."""
    import glob as _glob
    import math
    import os

    total = sum(os.path.getsize(p)
                for p in _glob.glob(os.path.join(src_dir, "**", "*.parquet"),
                                    recursive=True)
                if os.path.isfile(p))
    n_files = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(src_dir).repartition(n_files) \
        .write.mode("overwrite").parquet(dest_dir)
    return len([p for p in _glob.glob(os.path.join(dest_dir, "*.parquet"))])


def latest_by_key(df: DataFrame, key_cols: list[str],
                  order_cols: list[str]) -> DataFrame:
    """CDC-style upsert compaction: keep, per key, the single row that is
    maximal under ``order_cols`` lexicographically (e.g. latest timestamp,
    event id as the total-order tiebreaker) — the merge the reference's
    ``beacon_validators_latest`` table implies but delegates to full
    overwrites.

    Plan shape: ``max(struct(order_cols…, payload))`` per key — ONE
    aggregate (SortAggregate: struct buffers can't hash) with a map-side
    ``partial_max``, so each executor reduces its slice to one candidate
    row per key before the shuffle.
    A ``row_number() OVER (PARTITION BY key)`` window gives the same
    rows but shuffles and sorts *every* version of every key; at CDC
    volumes (billions of updates, hot keys) the partial-agg plan is the
    one that survives.  Struct comparison is lexicographic by field
    order, so ``order_cols`` must totally order rows within a key for a
    deterministic result."""
    payload = [c for c in df.columns if c not in key_cols]
    ordered = F.struct(*[F.col(c) for c in order_cols],
                       *[F.col(c) for c in payload if c not in order_cols])
    top = df.groupBy(*key_cols).agg(F.max(ordered).alias("__top"))
    return top.select(*key_cols,
                      *[F.col(f"__top.{c}").alias(c) for c in payload])


def scd2_intervals(df: DataFrame, key_cols: list[str],
                   order_cols: list[str], from_col: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) history build: each
    change row becomes a versioned interval — ``valid_from`` = its own
    ``from_col``, ``valid_to`` = the NEXT change's ``from_col`` within
    the key (NULL = still current), ``is_current`` flags the open row.
    The companion of :func:`latest_by_key`: that keeps only the newest
    version; this keeps them all, queryable as-of any time with
    ``valid_from <= t AND (valid_to IS NULL OR valid_to > t)``.

    Plan shape: one shuffle on the key, one ``lead()`` window sorted
    within the key — per-key work is bounded by that key's version
    count, the minimum any interval construction needs; nothing global.
    ``order_cols`` must totally order versions within a key (timestamp
    + change id) or intervals are nondeterministic."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c) for c in order_cols])
    return (df.withColumn("valid_from", F.col(from_col))
            .withColumn("valid_to", F.lead(from_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull()))


def ctas(spark: SparkSession, sql: str, dest_path: str) -> DataFrame:
    """S11: run SQL, materialize into a destination table
    (`bigquery_utils.py:68-76` query-to-destination-table)."""
    df = spark.sql(sql)
    df.write.mode("overwrite").parquet(dest_path)
    return spark.read.parquet(dest_path)
