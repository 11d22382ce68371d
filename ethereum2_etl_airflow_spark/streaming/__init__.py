"""Structured Streaming: the always-on analog of the hourly cron DAGs."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

__all__ = ["bounded_state", "run_bounded", "state_partitions"]

#: stateful-operator partition count for bounded check/demo streams.
#: Measured at sf0.1 (round 6): 4 beats 8 by ~0.5 s/check on the
#: stream-stream joins and ~0.15 s on watermark dedup (fewer
#: state-store open/commit/fsync lifecycles per micro-batch); 2 is no
#: better than 4.  A REAL deployment sizes this to live key
#: cardinality — this constant only governs bounded check/demo runs.
STATE_PARTITIONS = 4

#: measured keys-per-partition sweet spot (round-9 state-partition
#: sweep, docs/SCALE.md): at 96 k active keys the wall fell ~linearly
#: with partitions up to 32 (188.9/113.3/63.1/46.8 s at 4/8/16/32),
#: i.e. ~3 k live keys per state partition balances Arrow-batched
#: per-event work against per-partition store open/commit/fsync
#: lifecycles; below that the lifecycles dominate (round 6: 4 beat 8
#: on sf0.1's few-thousand-key checks).
_KEYS_PER_STATE_PARTITION = 3_000


def state_partitions(n_keys: int | None,
                     spark: SparkSession | None = None) -> int:
    """Auto-size the stateful-operator partition count from the
    ESTIMATED live-key cardinality — the measured deployment rule of
    the round-9 state-partition sweep (docs/SCALE.md), in code instead
    of prose: ``ceil(n_keys / 3000)`` clamped to [``STATE_PARTITIONS``
    (=4), the session's executor parallelism].

    ``n_keys`` is the caller's estimate of concurrently-live state
    keys (active sessions, distinct fingerprints inside the watermark
    horizon, CMS/HLL group count); ``None``/0 → the small-stream floor.
    The count is captured into the checkpoint at stream START and must
    not change across restarts — size it from the PLANNED key volume,
    not the first micro-batch."""
    cap = 4
    if spark is not None:
        cap = max(4, spark.sparkContext.defaultParallelism)
    if not n_keys or n_keys <= 0:
        return STATE_PARTITIONS
    return max(STATE_PARTITIONS,
               min(cap, -(-int(n_keys) // _KEYS_PER_STATE_PARTITION)))


@contextlib.contextmanager
def bounded_state(spark: SparkSession, n: int = STATE_PARTITIONS):
    """Pin ``spark.sql.shuffle.partitions`` — which a streaming query
    captures into its checkpoint at START as the stateful-operator
    partition count — for the duration of a bounded stream run.

    Why: every stateful stage costs one state-store instance per
    partition per micro-batch (open/commit/fsync each), so a
    session-default 2×cores (64 on the test box) pays 64 store
    lifecycles per stage for demo/check streams whose whole input is a
    few thousand rows — measured at sf0.1 this was most of the
    stream-check wall.  A REAL deployment sizes this to the live key
    cardinality and never restarts with a different value (the
    checkpoint pins it); these availableNow check runs use a fresh
    checkpoint every time, so a small fixed count is always valid.

    The conf is session-global: a batch query planned concurrently in
    another thread of the same session would also see the temporary
    value.  That affects only partition counts, never results (every
    operator here is layout-invariant by design).

    Reentrancy: delegates to the reference-counted
    :func:`..functions.layout.pinned_shuffle` (shared with the bounded
    iterative batch loops), so overlapping holders — bench's
    concurrent pass runs several stream checks at once — can never
    race the save/restore and leave the session pinned permanently.
    """
    from ..functions.layout import pinned_shuffle

    with pinned_shuffle(spark, n):
        yield


def run_bounded(df, spark: SparkSession, mode: str = "append",
                n: int | None = None, prefix: str = "st",
                progress_out: list | None = None,
                est_keys: int | None = None,
                flush: bool = True):
    """Run a streaming DataFrame to completion over available input
    (``availableNow`` + memory sink) and return the result as a batch
    DataFrame — the shared harness behind every bounded check/demo
    stream run.

    Beyond :func:`bounded_state` (pinned state-partition count), the
    checkpoint is placed on tmpfs (``/dev/shm``) when present and
    removed after the run: a bounded availableNow run pays offset-log,
    commit-log and state-store fsyncs per micro-batch per partition,
    and for a fresh-checkpoint throwaway run those fsyncs are pure
    fixed cost (measured ~0.2-0.5 s/check on this box's disk).  A REAL
    deployment must keep its checkpoint on durable shared storage —
    this shortcut is valid precisely because these runs start from a
    fresh checkpoint every time and never resume.

    Width: pass ``n`` to pin an explicit state-partition count, or
    ``est_keys`` (estimated live-key cardinality) to auto-size via
    :func:`state_partitions`; neither → the small-stream floor.

    ``flush=False`` skips the final no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled`` pinned off for
    this run): ONLY valid for append-mode queries whose every output
    row is emitted in the data batch that produced it — inner
    stream-stream joins (matches emit on arrival; the no-data batch
    only evicts state) and ``dropDuplicatesWithinWatermark``
    (first-seen rows emit on arrival) — where the flush batch pays a
    full planning + offset/commit-log + state-store lifecycle round to
    emit nothing.  Queries whose results are RELEASED by the advancing
    watermark (outer-join null rows, append-mode window/session
    aggregations, event-time timeouts) MUST keep ``flush=True`` or
    withheld rows never surface.  The conf is restored after the run;
    like the ``bounded_state`` width pin it is session-scoped while
    held (bench's concurrent pass isolates via per-thread child
    sessions)."""
    if n is None:
        n = state_partitions(est_keys, spark)
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckroot = "/dev/shm" if os.path.isdir("/dev/shm") \
        else tempfile.gettempdir()
    ck = os.path.join(ckroot, f"e2etl_ck_{name}")
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = None
    try:
        if not flush:
            prev_nodata = spark.conf.get(nodata_key, None)
            spark.conf.set(nodata_key, "false")
        with bounded_state(spark, n):
            q = (df.writeStream.format("memory").queryName(name)
                 .option("checkpointLocation", ck)
                 .outputMode(mode).trigger(availableNow=True).start())
            q.awaitTermination()
            if progress_out is not None:
                # per-micro-batch progress dicts — the state-store rows/
                # bytes readings the scale probe records against the
                # watermark/active-key bounds claimed in docs/SCALE.md
                progress_out.extend(p for p in q.recentProgress if p)
    finally:
        if not flush:
            if prev_nodata is None:
                try:
                    spark.conf.unset(nodata_key)
                except Exception:
                    pass
            else:
                spark.conf.set(nodata_key, prev_nodata)
        shutil.rmtree(ck, ignore_errors=True)
    # the analyzed plan keeps the memory-sink node, so the view can go:
    # otherwise every run leaves one uuid-named table in driver memory
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
