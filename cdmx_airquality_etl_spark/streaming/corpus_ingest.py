"""Streaming corpus ingest with incremental dedup — the training-data
pipeline's front door, composed from pieces that are each oracle/test-proven:

    document files land in a directory
      → commit.available_now (checkpointed file source, one call per
        scheduled run)
      → foreachBatch:
           1. fingerprint the batch (md5 of whitespace-normalized text —
              the q_dedup_exact identity)
           2. drop batch rows whose fingerprint already exists in the corpus
              (the q_dedup_incremental anti-join, against the corpus table's
              OWN fingerprint column — no rescan of document text)
           3. collapse within-batch duplicates (keep lowest doc_id)
           4. append survivors, fingerprint included, to the corpus table

Exactly-once: the checkpoint makes each source file process once, and the
fingerprint anti-join makes re-delivery idempotent anyway (a replayed batch
finds its fingerprints already present and inserts nothing) — the same
belt-and-suspenders the keyed merge gives ST-INGEST.

Scale notes: the anti-join touches only the corpus's fingerprint column
(16-byte md5, column-pruned scan); storing the corpus bucketed by
fingerprint makes it a shuffle-free existence probe; the per-batch work is
otherwise one narrow projection + one aggregate over the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..functions.portable import content_fingerprint
from .commit import available_now


def dedup_batch_against_corpus(
    spark: SparkSession, batch_df: DataFrame, corpus_path: str
) -> DataFrame:
    """One micro-batch of the corpus-ingest loop (testable without a stream):
    fingerprint → anti-join corpus fingerprints → within-batch keep-first."""
    from ..hadoop_fs import path_exists

    fp = batch_df.withColumn("fingerprint", content_fingerprint(F.col("text")))
    # scheme-aware probe: os.path.exists answers the wrong question for
    # hdfs://—s3a:// corpora (round-6 block-index discipline)
    if path_exists(spark, corpus_path):
        known = spark.read.parquet(corpus_path).select("fingerprint").distinct()
        fp = fp.join(known, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def corpus_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    corpus_path: str,
    checkpoint_dir: str,
):
    """Run the dedup-ingest stream over every unseen file, 64 files per
    micro-batch (commit.available_now), and return the finished
    StreamingQuery."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        kept = dedup_batch_against_corpus(spark, batch_df, corpus_path)
        kept.write.mode("append").parquet(corpus_path)

    q = available_now(
        spark, source_dir, source_schema, checkpoint_dir, _ingest,
        files_per_trigger=64,
    )
    q.awaitTermination()
    return q
