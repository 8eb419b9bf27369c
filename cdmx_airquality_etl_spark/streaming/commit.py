"""The batch-id commit protocol every versioned streaming sink shares.

foreachBatch is at-least-once: a crash after a batch's sink write but
before the streaming checkpoint commits replays that batch on restart.
The sinks that keep state across batches (block_index, view_maintenance,
cms/kmv_maintenance, ab_monitor, forecast_monitor, drift) make the
replay harmless with one protocol, owned by this module:

- **Own directory.** Batch ``<id>`` writes into ``<root>/<prefix>=<id>/``
  with ``mode("overwrite")`` and touches nothing else. ``prefix`` is
  ``state`` for sinks that store the full post-merge state per batch
  and ``batch`` for append-only sinks that store one batch's delta.
- **``_SUCCESS`` commits.** Spark's output committer writes the
  ``_SUCCESS`` marker only after every data file is in place, so a
  directory holding the marker is a committed batch.
- **Replay skips.** :func:`write_once` returns without building the
  batch's output when its directory is already committed. That is the
  exactly-once guarantee for sinks whose merge is not idempotent
  (addition, append).
- **Torn directories are invisible.** A write that died part-way leaves
  data files but no marker: :func:`committed` does not list it, and the
  batch's replay overwrites it in place. Committed directories are never
  rewritten, so a crash can never destroy prior state.
- **Readers take the newest or the union.** Full-state sinks read the
  last entry of :func:`committed`; append-only sinks read all of them.

:func:`available_now` is the stream skeleton the sinks share: one
source file per trigger, each micro-batch handed to ``foreachBatch``.
"""

from __future__ import annotations

import posixpath
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..hadoop_fs import fs_and_path

MARKER_CONF = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def assert_success_markers_enabled(spark: SparkSession) -> None:
    """The whole replay/crash story hangs on Spark's `_SUCCESS` marker: a
    completed batch carries one, a crashed write doesn't. If the job
    disabled marker emission, every batch would look crashed — the writer
    would silently re-merge replays and the reader would see no state —
    so fail loudly instead."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if str(hconf.get(MARKER_CONF, "true")).lower() == "false":
        raise RuntimeError(
            f"streaming state requires _SUCCESS markers, but {MARKER_CONF} "
            "is false — the replay guard and committed-batch reader "
            "cannot function without them"
        )


def committed(spark: SparkSession, root: str, prefix: str) -> list[tuple[int, str]]:
    """(id, path) of every committed ``<prefix>=<id>`` directory under
    `root`, in numeric id order; ``[]`` when `root` does not exist.
    Listing goes through the Hadoop FileSystem API, so the state may live
    on any cluster filesystem."""
    assert_success_markers_enabled(spark)
    fs, jroot, jvm = fs_and_path(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        p = st.getPath()
        name = p.getName()
        if (
            st.isDirectory()
            and name.startswith(prefix + "=")
            and fs.exists(jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS"))
        ):
            out.append((int(name.split("=", 1)[1]), p.toString()))
    return sorted(out)


def write_once(
    spark: SparkSession,
    root: str,
    prefix: str,
    batch_id: int,
    build: Callable[[], DataFrame],
) -> bool:
    """Write ``build()`` as batch `batch_id` unless that batch is already
    committed. `build` is called only when the write happens, so a
    replay reads no state. Returns True when the batch was (re)written,
    False when it was skipped as committed."""
    assert_success_markers_enabled(spark)
    bdir = posixpath.join(root, f"{prefix}={batch_id}")
    fs, jdir, jvm = fs_and_path(spark, bdir)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(jdir, "_SUCCESS")):
        return False
    build().write.mode("overwrite").parquet(bdir)
    return True


def available_now(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint: str,
    process: Callable[[DataFrame, int], None],
):
    """Start a checkpointed AvailableNow stream over the parquet files in
    `source_dir`, one file per trigger, calling ``process(batch_df,
    batch_id)`` on each micro-batch."""
    assert_success_markers_enabled(spark)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
