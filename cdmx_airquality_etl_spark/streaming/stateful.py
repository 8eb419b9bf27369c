"""ST-COUNT — watermarked stateful per-key counting (SURVEY.md §2B).

Generalizes the reference's ``nupdates`` counter (M-COUNT,
/root/reference/scrapper.py:197-199): instead of bumping a row counter at
merge time, the streaming form maintains a running observation count per
(event-time window × key) with a watermark bounding state for late re-scrapes.

Batch-equivalence contract (tested): running the stream with
Trigger.AvailableNow over a static directory produces exactly the rows of the
batch ``groupBy(window, key).count()`` — this is what makes the operator
verifiable without an oracle (SURVEY.md §2B note on ST-* rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .commit import available_now


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """window(ts) × key → count. Works on both streaming and batch frames
    (watermark is a no-op in batch, which is exactly the equivalence we
    test)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation (dynamic-length windows closed by a ``gap``
    of inactivity) — the streaming-native form of the batch sessionization in
    q_sessionize (operators/scale_ops.py). Works on streaming frames (state
    store merges adjacent sessions as events arrive; watermark closes them)
    and batch frames identically — the equivalence the test asserts."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def run_windowed_counts_stream(
    spark,
    source_dir: str,
    source_schema,
    output_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
    max_files_per_trigger: int = 64,
):
    """File-source stream → windowed counts → parquet sink (complete-by-
    append via foreachBatch overwrite, since plain append mode would hold
    back open windows until the watermark passes — with AvailableNow over a
    closed directory we want every window emitted)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(output_path)

    query = available_now(
        spark, source_dir, source_schema, checkpoint_dir, _write,
        files_per_trigger=max_files_per_trigger,
        aggregate=lambda stream: windowed_counts(
            stream, ts_col=ts_col, key_col=key_col,
            window_duration=window_duration, watermark_delay=watermark_delay,
        ),
        output_mode="complete",
    )
    query.awaitTermination()
    return query
