"""Stream-stream join: click→purchase attribution within a time bound —
the canonical two-stream stateful join Structured Streaming supports and
the reference's cron-batch architecture cannot express.

Both sides carry watermarks; the time-bound condition lets the engine
expire join state (a click older than the bound can never match a future
purchase, so its state is dropped) — without it, stream-stream join
state grows without limit.  State size is bounded by events inside the
watermark horizon, not history.

The builder takes plain DataFrames, so the SAME definition runs in batch
(the oracle) and streaming (``readStream`` inputs + ``availableNow``):
one logical join, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["attribution_join"]


def attribution_join(clicks: DataFrame, purchases: DataFrame,
                     within: str = "1 hour",
                     watermark: str = "2 hours",
                     how: str = "inner") -> DataFrame:
    """Join each purchase to every click by the same user in the
    ``within`` window before it (inclusive bounds).  Output:
    (user_id, click_id, purchase_id, click_ts, purchase_ts).

    ``how="inner"`` emits matches as they arrive.  ``how="leftOuter"``
    additionally emits every unmatched click with NULL purchase columns
    — in streaming mode the null row is emitted only once the global
    watermark passes ``click_ts + within`` (the engine must prove no
    future purchase can still match before it finalizes the miss), so
    unmatched clicks inside the open watermark horizon are withheld, not
    dropped: they surface when the watermark closes over them.  State
    for both modes is bounded by the watermark horizon via the
    time-bound join condition.

    Watermarks are applied only to streaming inputs (a batch DataFrame
    rejects them); the join condition is identical in both modes.
    Timestamps are cast to TIMESTAMP (ltz) for the event-time machinery
    and back to NTZ on output, the lossless session-timezone round-trip
    used across the streaming modules."""
    def prep(df: DataFrame, side: str) -> DataFrame:
        out = df.select(
            F.col("user_id").alias(f"{side}_user"),
            F.col("event_id").alias(f"{side}_id"),
            F.col("ts").cast("timestamp").alias(f"{side}_ts"))
        if out.isStreaming:
            out = out.withWatermark(f"{side}_ts", watermark)
        return out

    c = prep(clicks, "click")
    p = prep(purchases, "purchase")
    cond = (
        (c["click_user"] == p["purchase_user"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {within}"))
    )
    # coalesce the key: with fullOuter, purchase-only rows carry it on
    # the purchase side (no-op for inner/leftOuter where click_user is
    # always present)
    return (c.join(p, cond, how)
            .select(F.coalesce("click_user", "purchase_user")
                    .alias("user_id"),
                    F.col("click_id"), F.col("purchase_id"),
                    F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
                    F.col("purchase_ts").cast("timestamp_ntz")
                    .alias("purchase_ts")))
