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

**One runner.** :func:`available_now` is the only place a stream over
a file source starts; every public stream in this package goes through
it. One call is one scheduled launcher run (C-SCHED): a checkpointed
parquet file source drains every file not yet taken, with
``Trigger.AvailableNow``, and hands each micro-batch to ``process``
through ``foreachBatch``. Callers differ only in files per trigger (1
for the seven sinks and ingest, 64 for corpus ingest and windowed
counts, None for IVF ingest and running totals, i.e. one batch), and
the two stateful streams pass an ``aggregate`` applied to the streaming
frame plus its ``output_mode``. The runner returns the started query:
the seven sinks hand it back as is (after checking the ``_SUCCESS``
conf), the other streams await it before they return.
"""

from __future__ import annotations

import posixpath
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
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
    files_per_trigger: int | None = 1,
    aggregate: Callable[[DataFrame], DataFrame] | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start a checkpointed AvailableNow stream over the parquet files in
    `source_dir`, `files_per_trigger` files per micro-batch (None: no
    cap), calling ``process(batch_df, batch_id)`` on each micro-batch of
    ``aggregate(stream)`` (of the stream itself when None)."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = reader.parquet(source_dir)
    if aggregate is not None:
        stream = aggregate(stream)
    return (
        stream.writeStream.foreachBatch(process)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
