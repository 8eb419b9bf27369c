"""Streaming sub-document block index — incremental boilerplate detection.

Composes the sub-document grain of operators/subdoc.py with the
corpus-ingest streaming pattern (streaming/corpus_ingest.py): as document
batches land, each batch's disjoint 10-token blocks merge into a
persistent block-frequency index, and the batch's documents are scored for
duplication against the index as it stood INCLUDING the batch itself —
the incremental form of q_doc_dup_ratio.

    document files land in a directory
      → commit.available_now (checkpointed file source, one file per batch)
      → foreachBatch:
           1. explode the batch into disjoint token blocks (subdoc._blocks
              contract: lowercase, whitespace tokens, stride = width = 10)
           2. aggregate per-batch (block_hash, n_docs, n_occurrences)
           3. merge into the index table by summing counts — correct
              because a document lives in exactly ONE batch, so distinct
              doc counts are additive across batches
           4. re-score the batch's docs against the merged index

Exactly-once: the source checkpoint processes each file once; unlike the
fingerprint anti-join, count merging is NOT idempotent under replay, so
the index is APPEND-ONLY — each batch writes its partial counts to its own
`batch=<id>/` subdirectory under the commit protocol of
streaming/commit.py (a committed batch replays as a no-op, a torn write
is invisible and overwritten). Per-batch I/O is O(batch), not O(index);
readers aggregate the committed partials (correct because a document
lives in exactly one batch, so distinct-doc counts are additive).

Scale notes: the collapsed index holds one row per distinct block (bounded
by corpus block vocabulary); periodic compaction of old batch partials is
the plans/maintenance.py compaction pattern; scoring broadcasts the
shared-block subset (size = corpus boilerplate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.portable import md5_int
from ..operators.subdoc import doc_blocks
from .commit import assert_success_markers_enabled, available_now, read_committed, write_once

_INDEX_SCHEMA = "block_hash long, n_docs long, n_occurrences long"


def _batch_blocks(batch_df: DataFrame) -> DataFrame:
    """(doc_id, block_hash) pairs for one batch — derived by the SAME
    subdoc.doc_blocks helper the batch operators use, so the streaming
    grain can never drift from the batch grain."""
    return doc_blocks(batch_df).select(
        "doc_id", md5_int(F.col("blk"), 15).alias("block_hash")
    )


def update_block_index(
    spark: SparkSession, batch_df: DataFrame, index_path: str, batch_id: int
) -> None:
    """Write one batch's partial block counts into its own append-only
    subdirectory of the index. A committed batch id is skipped (counting
    is not naturally idempotent, which is why the fingerprint anti-join's
    laissez-faire replay handling is not enough here)."""
    write_once(
        spark,
        index_path,
        "batch",
        batch_id,
        lambda: _batch_blocks(batch_df)
        .groupBy("block_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        ),
    )


def read_block_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Collapsed view: one row per block with counts summed across the
    COMMITTED per-batch partials (a torn partial would silently
    under-count). Before the first batch commits (or before the index
    exists at all) the index IS the empty relation — return it as one, so
    consumers can score against a fresh index without special-casing
    bootstrap. The partials are read with the declared schema
    (commit.read_committed)."""
    raw = read_committed(spark, index_path, "batch", _INDEX_SCHEMA)
    return raw.groupBy("block_hash").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_occurrences").alias("n_occurrences"),
    )


def score_batch_against_index(
    spark: SparkSession, batch_df: DataFrame, index_path: str
) -> DataFrame:
    """Per-doc duplication ratio against the current index (the
    incremental q_doc_dup_ratio): a block is 'shared' when the INDEX has
    seen it in ≥2 documents."""
    blocks = _batch_blocks(batch_df)
    shared = (
        read_block_index(spark, index_path)
        .filter(F.col("n_docs") >= 2)
        .select(F.col("block_hash").alias("sh"))
    )
    joined = blocks.join(F.broadcast(shared), blocks.block_hash == shared.sh, "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("sh").isNotNull(), 1).otherwise(0)).alias("n_dup_blocks"),
        (
            F.sum(F.when(F.col("sh").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_ratio"),
    )


def block_index_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    index_path: str,
    checkpoint_dir: str,
):
    """Wire the incremental index as a checkpointed AvailableNow stream."""
    assert_success_markers_enabled(spark)
    return available_now(
        spark,
        source_dir,
        source_schema,
        checkpoint_dir,
        lambda df, bid: update_block_index(df.sparkSession, df, index_path, bid),
    )
