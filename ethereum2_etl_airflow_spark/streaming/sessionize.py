"""Custom stateful streaming operator: gap-based sessionization
(``applyInPandasWithState``) — the pattern the reference's cron pipeline
cannot express at all, and the canonical example of a stateful op Spark's
built-in windows don't cover (session windows keyed per user with
arbitrary custom state).

Per user: events within ``gap`` seconds of each other belong to one
session; a session closes when the watermark passes its last event + gap.
Emits one row per closed session: (user_id, session_start, session_end,
n_events, value_millis).

Scale notes: state is one open session per user (bounded by user
cardinality, not history); the watermark bounds how long state lives;
``applyInPandasWithState`` shuffles by user_id once and streams Arrow
batches through Python per group — the supported custom-state escape
hatch (GroupState timeouts drive session closing).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

__all__ = ["sessionize_stream", "sessionize_batch", "SESSION_SCHEMA"]

SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("value_millis", T.LongType()),
])

_STATE_SCHEMA = "start timestamp, last timestamp, n long, millis long"


def _session_fn(gap_s: int):
    import numpy as np

    gap_us = gap_s * 1_000_000

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, millis = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [user_id],
                                "session_start": [start],
                                "session_end": [last],
                                "n_events": [n],
                                "value_millis": [millis]})
            return
        # Vectorized session split: integer µs timestamps, boundary where
        # the gap to the previous event exceeds gap_us, reduceat sums per
        # segment — no per-row Python (an Arrow batch of 10^6 events costs
        # milliseconds, not seconds).  Only the two needed columns leave
        # pandas, and the sort is a numpy argsort over them — the
        # previous pd.concat(...).sort_values("ts") copied and sorted the
        # WHOLE frame per group, which at ~300 groups/batch was half the
        # per-batch Python premium (measured ~1.0 -> ~0.4 ms/group).
        # Segment aggregates are order-invariant within a segment (ties
        # in ts always share a segment for gap > 0), so sort kind is
        # irrelevant to the emitted values.
        chunks = list(pdfs)
        if len(chunks) == 1:
            ts = chunks[0]["ts"].to_numpy().astype("datetime64[us]") \
                .astype(np.int64)
            mv = chunks[0]["millis"].to_numpy().astype(np.int64)
        else:
            ts = np.concatenate([
                c["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
                for c in chunks])
            mv = np.concatenate([
                c["millis"].to_numpy().astype(np.int64) for c in chunks])
        order = np.argsort(ts, kind="stable")
        ts = ts[order]
        mv = mv[order]
        new = np.empty(len(ts), dtype=bool)
        new[0] = True
        np.greater(ts[1:] - ts[:-1], gap_us, out=new[1:])
        bounds = np.flatnonzero(new)          # first index of each segment
        seg_start = ts[bounds]
        seg_end = ts[np.append(bounds[1:] - 1, len(ts) - 1)]
        seg_n = np.append(np.diff(bounds), len(ts) - bounds[-1])
        seg_millis = np.add.reduceat(mv, bounds)
        if state.exists:
            start, last, n, millis = state.get
            last_us = np.datetime64(last, "us").astype(np.int64)
            if ts[0] - last_us <= gap_us:     # first segment continues it
                seg_start[0] = np.datetime64(start, "us").astype(np.int64)
                seg_n[0] += n
                seg_millis[0] += millis
            else:                             # state session closed by gap
                seg_start = np.insert(seg_start, 0,
                                      np.datetime64(start, "us").astype(np.int64))
                seg_end = np.insert(seg_end, 0, last_us)
                seg_n = np.insert(seg_n, 0, n)
                seg_millis = np.insert(seg_millis, 0, millis)

        def dt(us: int):
            return pd.Timestamp(int(us), unit="us").to_pydatetime()

        k = len(seg_start)
        state.update((dt(seg_start[k - 1]), dt(seg_end[k - 1]),
                      int(seg_n[k - 1]), int(seg_millis[k - 1])))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gap_s * 1000)
        if k > 1:
            yield pd.DataFrame({
                "user_id": user_id,
                "session_start": seg_start[:k - 1].astype("datetime64[us]"),
                "session_end": seg_end[:k - 1].astype("datetime64[us]"),
                "n_events": seg_n[:k - 1],
                "value_millis": seg_millis[:k - 1]})

    return fn


def sessionize_stream(events: DataFrame, gap_s: int = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization over (user_id, ts, value) events."""
    prepared = (events
                .withColumn("millis", F.floor(F.col("value") * 1000).cast("long"))
                # watermarks require TIMESTAMP (ltz); NTZ inputs round-trip
                # losslessly through the session timezone
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", watermark)
                .groupBy("user_id"))
    return prepared.applyInPandasWithState(
        _session_fn(gap_s), outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA, outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


def sessionize_batch(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Batch reference semantics for the streaming operator: a session
    starts where the gap to the previous event exceeds ``gap_s``; pure
    window functions (lag → cumulative session id → groupBy).

    Gaps compare MICROSECOND deltas (``unix_micros``), the same
    granularity the streaming operator uses — ``unix_timestamp`` would
    truncate to seconds and split/merge sessions differently on
    sub-second data (e.g. a 1800.8 s gap with sub-second offsets)."""
    from pyspark.sql import Window

    gap_us = gap_s * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = (events
              .withColumn("millis", F.floor(F.col("value") * 1000).cast("long"))
              .withColumn("prev_ts", F.lag("ts").over(w))
              .withColumn(
                  "new_session",
                  (F.col("prev_ts").isNull()
                   # cast-to-ltz only inside the delta: NTZ inputs stay NTZ
                   # in the output; both casts shift identically so the
                   # microsecond difference is unchanged
                   | (F.unix_micros(F.col("ts").cast("timestamp"))
                      - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                      > gap_us)).cast("long")))
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.sum("millis").alias("value_millis"))
            .drop("session_id"))
