"""Streaming ANN-index maintenance: assign incoming embedding batches to a
FIXED trained IVF index and append them cell-bucketed.

The batch ANN queries (operators/similarity.py q_similarity_ann_ivf /
_ivfpq) train centroids and search in one shot. A production index is
maintained differently: centroids are trained once (or re-trained
offline), and INGEST continuously assigns new vectors to their cells,
appending to a cell-partitioned store so queries read only their probe
cells. This module is that ingest path — Structured Streaming
(AvailableNow per scheduled run, the C-SCHED pattern) with a foreachBatch
that runs the same scan-side literal-centroid argmax the batch queries
use (operators.similarity.ivf_cell_col — one shared assignment
expression, so streamed and batch-assigned cells can never diverge).

Scale notes: assignment is a zero-shuffle projection; the append is
partitioned by cell so each query's nprobe cells map to partition-pruned
reads; per-batch cell counts (the index-health metric: cell balance)
come from the batch's own hash aggregate. Centroid drift is handled by
offline re-train + re-assign, never in-stream — the standard IVF
operating model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.similarity import _nonzero, ivf_cell_col
from .commit import available_now

_INGEST_TIMEOUT_S = 300


def assign_cells(batch: DataFrame, centroids: list) -> DataFrame:
    """Assign each (vec_id, embedding) row to its IVF cell — the exact
    expression the batch ANN queries compile, applied to a micro-batch.
    Degenerate vectors (zero/NaN/Inf) are dropped by the shared guard
    before assignment, as in every cosine operator."""
    return _nonzero(batch).withColumn("cell", ivf_cell_col(centroids))


def ivf_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    index_path: str,
    centroids: list,
    checkpoint_dir: str,
) -> dict[int, int]:
    """One scheduled ingest run: stream new embedding files, assign cells,
    append cell-partitioned parquet. Returns the per-cell row counts of
    THIS run's appended vectors (the cell-balance health metric a real
    index monitors). Exactly-once per source file via the checkpoint. A
    run that does not finish within _INGEST_TIMEOUT_S is stopped and
    raises TimeoutError: its counts would cover only part of the input."""
    counts: dict[int, int] = {}

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        assigned = assign_cells(batch_df, centroids)
        assigned.write.mode("append").partitionBy("cell").parquet(index_path)
        for r in assigned.groupBy("cell").count().collect():
            counts[r["cell"]] = counts.get(r["cell"], 0) + r["count"]

    q = available_now(
        spark, source_dir, source_schema, checkpoint_dir, handle,
        files_per_trigger=None,
    )
    if not q.awaitTermination(_INGEST_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"IVF ingest from {source_dir} did not finish within "
            f"{_INGEST_TIMEOUT_S} s; the stream was stopped"
        )
    return counts
