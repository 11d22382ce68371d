"""Stateful streaming operator: gap-based sessionization — the pattern
the reference's cron pipeline cannot express at all — on Catalyst's own
``session_window`` aggregation, with no Python worker.

Per user: events within ``gap`` seconds of each other belong to one
session.  Emits one row per closed session: (user_id, session_start,
session_end, n_events, value_millis).

Gap rule: ``session_window`` merges an event into a session when
``ts < last + window``, so the window is ``gap + 1 µs``: a new session
starts exactly when the microsecond delta to the previous event exceeds
``gap``, :func:`sessionize_batch`'s rule.

Close rule: a session is emitted (append mode) once the event-time
watermark reaches its window end, i.e. when ``session_end + gap`` is
before the watermark; sessions still open at the end of a bounded run
stay in state and are not emitted.

Scale notes: state is the open sessions per user (bounded by user
cardinality, not history); the watermark bounds how long state lives;
the aggregation shuffles by user_id once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["sessionize_stream", "sessionize_batch"]


def sessionize_stream(events: DataFrame, gap_s: int = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization over (user_id, ts, value) events."""
    ev = (events
          .withColumn("millis", F.floor(F.col("value") * 1000).cast("long"))
          # watermarks require TIMESTAMP (ltz); NTZ inputs round-trip
          # losslessly through the session timezone
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .withWatermark("ts", watermark))
    window = F.session_window("ts", f"{gap_s} seconds 1 microsecond")
    return (ev.groupBy("user_id", window.alias("w"))
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.sum("millis").alias("value_millis"))
            .drop("w"))


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
