"""Streaming exact dedup — the continuous face of the X1 operator
(SURVEY §2.9): keep the first occurrence of each content fingerprint as
documents arrive, drop later copies.

Spark-native shape: ``dropDuplicatesWithinWatermark`` on the sha256
content fingerprint.  State holds one (fingerprint → seen) entry per
distinct document INSIDE the watermark horizon and is evicted as the
watermark advances — bounded by arrival-window cardinality, not corpus
history.  That horizon is the semantic contract: a copy arriving later
than the watermark delay after the original is NOT deduplicated (it is a
new state entry).  Cross-horizon global dedup is the batch operator
(:func:`..operators.dedup.dedup_exact`) over the accumulated table; the
two compose as the standard lambda pair (stream trims the firehose,
batch compacts history).

The fingerprint is computed JVM-side (sha2 over normalized text), so the
streaming stage adds one narrow projection + the state-store exchange on
the fingerprint — the same high-entropy key the batch operator groups
on, so no skew by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.text import fingerprint

__all__ = ["dedup_stream"]


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 text_col: str = "text",
                 watermark: str = "1 hour") -> DataFrame:
    """First-occurrence pass-through over a streaming documents source:
    rows whose content fingerprint was already seen within the watermark
    horizon are dropped.  Output schema = input schema + ``fp``."""
    with_fp = (docs.withColumn("fp", fingerprint(text_col))
               .withWatermark(ts_col, watermark))
    return with_fp.dropDuplicatesWithinWatermark(["fp"])
