"""Streaming dedup via ``dropDuplicatesWithinWatermark`` — the native
bounded-state form of the corpus-ingest fingerprint dedup.

corpus_ingest.py deduplicates against the FULL corpus (unbounded identity,
state lives in the corpus table's fingerprint column). This module covers
the other production regime: duplicates arrive close together in event time
(retries, at-least-once sources, double-fires of the reference's scheduler
— launcher.bat:2 re-running a scrape), where keeping dedup state forever
is wasted memory. ``dropDuplicatesWithinWatermark`` keeps a key's state
only until the watermark passes it: exact dedup for any duplicate pair
closer than the delay, bounded state regardless of stream length — the
100 TB/∞-stream answer.

Spark semantics pinned by the tests: the key is the fingerprint column;
late re-deliveries INSIDE the watermark window dedup exactly; state for a
key is dropped once event time moves ``delay`` past it, after which a
re-delivery would be re-emitted (the documented trade — callers needing
forever-identity compose this with the corpus anti-join downstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import content_fingerprint
from .joins import dedup_within_watermark


def dedup_stream_within_watermark(
    stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked streaming dedup: fingerprint the payload, then
    ``dropDuplicatesWithinWatermark`` on the fingerprint. State per key is
    bounded by ``delay``; duplicates that arrive within the delay of the
    first copy are dropped exactly once-per-key.

    The returned stream keeps the first-arriving row per fingerprint
    (plus the fingerprint column for downstream corpus anti-joins).
    Composes joins.dedup_within_watermark (the generic keyed form) with
    the corpus content identity — one dedup mechanism, one identity."""
    fp = stream.withColumn("fingerprint", content_fingerprint(F.col(text_col)))
    return dedup_within_watermark(
        fp, ["fingerprint"], ts_col=ts_col, watermark=delay
    )
