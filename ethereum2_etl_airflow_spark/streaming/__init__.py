"""Structured Streaming: the always-on analog of the hourly cron DAGs."""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import SparkSession

__all__ = ["run_bounded"]

#: stateful-operator partition count for bounded check/demo streams.
#: Measured at sf0.1 (round 6): 4 beats 8 by ~0.5 s/check on the
#: stream-stream joins and ~0.15 s on watermark dedup (fewer
#: state-store open/commit/fsync lifecycles per micro-batch); 2 is no
#: better than 4.  A REAL deployment sizes this to live key
#: cardinality — this constant only governs bounded check/demo runs.
STATE_PARTITIONS = 4

#: serializes :func:`run_bounded`'s pinned ``start()`` calls, so each
#: stream captures its own conf even when several start at once
_start_lock = threading.Lock()


def run_bounded(df, spark: SparkSession, mode: str = "append",
                prefix: str = "st", flush: bool = True):
    """Run a streaming DataFrame to completion over available input
    (``availableNow`` + memory sink) and return the result as a batch
    DataFrame — the shared harness behind every bounded check/demo
    stream run.

    State width: a stream captures ``spark.sql.shuffle.partitions``
    into its checkpoint at ``start()`` as the stateful-operator
    partition count, and every stateful stage costs one state-store
    open/commit/fsync per partition per micro-batch, so the session
    default (2×cores) pays dozens of store lifecycles per batch for
    check streams of a few thousand rows.  Every run therefore starts
    at the constant :data:`STATE_PARTITIONS` (4).  A REAL deployment
    sizes this to live key cardinality (docs/SCALE.md's state-partition
    sweep: ~3 k live keys per partition at 96 k keys) and never
    restarts with a different value; these runs use a fresh
    checkpoint every time, so any count is valid.

    The checkpoint is placed on tmpfs (``/dev/shm``) when present and
    removed after the run: a bounded availableNow run pays offset-log,
    commit-log and state-store fsyncs per micro-batch per partition,
    and for a fresh-checkpoint throwaway run those fsyncs are pure
    fixed cost (measured ~0.2-0.5 s/check on this box's disk).  A REAL
    deployment must keep its checkpoint on durable shared storage —
    this shortcut is valid precisely because these runs start from a
    fresh checkpoint every time and never resume.

    ``flush=False`` skips the final no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled`` off for this
    run): ONLY valid for append-mode queries whose every output row is
    emitted in the data batch that produced it — inner stream-stream
    joins (matches emit on arrival; the no-data batch only evicts
    state) and ``dropDuplicatesWithinWatermark`` (first-seen rows emit
    on arrival) — where the flush batch pays a full planning +
    offset/commit-log + state-store lifecycle round to emit nothing.
    Queries whose results are RELEASED by the advancing watermark
    (outer-join null rows, append-mode window/session aggregations,
    event-time timeouts) MUST keep ``flush=True`` or withheld rows
    never surface.

    A stream keeps the conf it saw at ``start()``, so both pins are
    held through ``start()`` only, under a module lock: concurrent runs
    in one session each start with their own width and flush setting,
    and the session conf is restored before the run is awaited."""
    from ..functions.layout import pinned_conf

    conf = {"spark.sql.shuffle.partitions": STATE_PARTITIONS}
    if not flush:
        conf["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckroot = "/dev/shm" if os.path.isdir("/dev/shm") \
        else tempfile.gettempdir()
    ck = os.path.join(ckroot, f"e2etl_ck_{name}")
    try:
        with _start_lock, pinned_conf(spark, conf):
            q = (df.writeStream.format("memory").queryName(name)
                 .option("checkpointLocation", ck)
                 .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    # the analyzed plan keeps the memory-sink node, so the view can go:
    # otherwise every run leaves one uuid-named table in driver memory
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
