"""ST-INGEST — incremental snapshot ingestion (SURVEY.md §2B).

The reference's incrementality is scheduler-level: an OS task fires
launcher.bat hourly and each run merges one snapshot into the accumulating DB
(/root/reference/launcher.bat:1-3 + scrapper.py:329-331). The Spark-native
equivalent is a file-source stream with ``Trigger.AvailableNow`` driving the
same keyed merge through ``foreachBatch``:

    new snapshot files land in a directory
      → commit.available_now takes one unseen file per micro-batch
        (checkpointed source offsets)
      → foreachBatch(merge_into_parquet)  — the M-UPSERT path, per batch
      → exactly-once per file via checkpoint + idempotent keyed merge

At scale the checkpoint lives on shared storage and the merge is
partition-scoped (plans/merge.py), so an hourly micro-batch rewrites only the
partitions it touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..hadoop_fs import path_exists
from ..plans.merge import merge_into_parquet
from .commit import available_now


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    target_path: str,
    keys: list[str],
    counter_col: str | None = "nupdates",
    partition_col: str | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    version_col: str | None = "_ingest_batch_id",
):
    """Merge every unseen snapshot file into ``target_path``, then return
    the finished StreamingQuery — the scheduled-batch shape of the
    reference (one launcher run ≙ one call; commit.available_now).

    One file per micro-batch by default, because one snapshot file is one
    reference run: a batch of several snapshots collapses to one row per
    key before the merge, so the counter would move once and an older
    snapshot could win. ``checkpoint_dir`` is required (ValueError when
    None): without it every run restarts at batch id 0 and the version
    guard below would take the next run's re-scrape for a replay.

    ``version_col`` (default on) stamps each batch's rows with the
    micro-batch id and routes it to the merge's version guard, making the
    whole upsert — counter included — idempotent when foreachBatch
    replays a batch after a crash between the sink write and the
    checkpoint commit (plans/merge.merge_upsert docstring; pinned by
    tests/test_streaming_recovery.py). Pass None for the raw
    reference-parity behavior where every re-merge bumps the counter.

    Every merge reads the target with one schema, inferred from its files
    once per call: by the first batch when the target exists, else by the
    batch after the one that creates it. It is widened by the batch's
    columns (the version column among them) and an INT counter, as the
    merge writes it, so a target column the source lacks is kept and a
    new source column is added, with no footer-reading job per
    micro-batch.
    """
    if checkpoint_dir is None:
        raise ValueError("ingest_stream needs a checkpoint_dir that outlives the run")
    schema: StructType | None = None

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal schema
        if batch_df.isEmpty():
            return
        src = batch_df
        if version_col is not None:
            src = src.withColumn(version_col, F.lit(int(batch_id)))
        if schema is None and path_exists(src.sparkSession, target_path):
            schema = src.sparkSession.read.parquet(target_path).schema
            counter = [StructField(counter_col, IntegerType())] if counter_col else []
            for f in [*src.schema.fields, *counter]:
                if f.name not in schema.fieldNames():
                    schema.add(f)
        merge_into_parquet(
            batch_df.sparkSession,
            src,
            target_path,
            keys,
            counter_col=counter_col,
            partition_col=partition_col,
            version_col=version_col,
            schema=schema,
        )

    query = available_now(
        spark, source_dir, source_schema, checkpoint_dir, _merge_batch,
        files_per_trigger=max_files_per_trigger,
    )
    query.awaitTermination()
    return query
