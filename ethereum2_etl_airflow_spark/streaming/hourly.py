"""Structured Streaming analog of the reference's hourly micro-batch pair
(SURVEY §2.8 streaming row; `eth2_mainnet_hourly_export_dag.py:11` cron
``'30 * * * *'`` + `build_hourly_load_dag.py`).

The reference polls GCS with sensors and reloads hourly; the Spark-native
equivalent is a file-source stream: new staged files are discovered
incrementally (subsuming the sensor, SURVEY §2.7 O6), a 1-hour tumbling
window with a watermark aggregates per hour, and ``trigger(availableNow)``
gives the same run-to-completion semantics as one cron tick — so batch
backfill and continuous tailing share one query definition.

Scale: file-source listing is incremental (maxFilesPerTrigger throttles
bursts); state store holds one row per open hour window per key — bounded
by the watermark horizon, not history size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

__all__ = ["hourly_counts_stream"]


def hourly_counts_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    ts_is_nanos: bool = False,
) -> DataFrame:
    """Streaming per-hour aggregate over a file-source directory:
    (hour_start, n, start_block, end_block) — the hourly ``blocks_meta``
    computed continuously.  ``ts_is_nanos`` handles raw INT64-nanos
    timestamp columns (pandas-written parquet); it is ignored when the
    column is already a timestamp type in ``schema``."""
    src = spark.readStream.schema(schema).parquet(path)
    is_integral = isinstance(schema[ts_col].dataType, (T.LongType, T.IntegerType))
    # watermarks require TIMESTAMP (ltz): NTZ wall clock round-trips
    # losslessly through the session timezone and back at hour_start below
    ts = (F.timestamp_micros(F.expr(f"`{ts_col}` DIV 1000"))
          if (ts_is_nanos and is_integral) else F.col(ts_col).cast("timestamp"))
    events = src.withColumn("__ts", ts).withWatermark("__ts", watermark)
    return (
        events.groupBy(F.window("__ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"),
             F.min("event_id").alias("start_block"),
             F.max("event_id").alias("end_block"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
                "n", "start_block", "end_block")
    )

