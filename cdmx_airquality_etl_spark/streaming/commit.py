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
- **Readers take the newest or the union.** Full-state sinks read
  :func:`read_latest`, which walks ids downward and stops at the first
  committed one; append-only sinks read :func:`read_committed`, the union
  of every committed version with its id as a column. Both read with the
  sink's declared schema, so no state read infers one from the files (a
  footer-reading job each); only the join view, whose schema is whatever
  its caller seeded, passes none and infers. No sink lists versions or
  reads a version directory itself.

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
import re
from typing import Callable, Sequence

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


def _version_dir(root: str, prefix: str, batch_id: int) -> str:
    return posixpath.join(root, f"{prefix}={batch_id}")


def _version_ids(
    spark: SparkSession, root: str, prefix: str
) -> tuple[list[int], Callable[[int], bool]]:
    """The id of every ``<prefix>=<id>`` entry under `root`, committed or
    not, in numeric order (none when `root` does not exist), and the
    ``_SUCCESS`` probe of an id. The listing comes back from the JVM as
    one ``{path,path,...}`` string, so it costs a few py4j round trips
    however many versions there are; a name that only looks like a
    version (a fragment of a path holding a comma) fails its probe."""
    assert_success_markers_enabled(spark)
    fs, jroot, jvm = fs_and_path(spark, root)

    def is_committed(batch_id: int) -> bool:
        bdir = _version_dir(root, prefix, batch_id)
        return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(bdir, "_SUCCESS")))

    if not fs.exists(jroot):
        return [], is_committed
    paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(jroot))
    listing = str(jvm.org.apache.commons.lang3.ArrayUtils.toString(paths))
    version = re.compile(re.escape(prefix) + r"=(-?\d+)")
    names = (posixpath.basename(p) for p in listing[1:-1].split(","))
    ids = {int(m.group(1)) for n in names if (m := version.fullmatch(n))}
    return sorted(ids), is_committed


def committed(spark: SparkSession, root: str, prefix: str) -> list[tuple[int, str]]:
    """(id, path) of every committed ``<prefix>=<id>`` directory under
    `root`, in numeric id order; ``[]`` when `root` does not exist.
    Listing goes through the Hadoop FileSystem API, so the state may live
    on any cluster filesystem."""
    ids, is_committed = _version_ids(spark, root, prefix)
    return [(i, _version_dir(root, prefix, i)) for i in ids if is_committed(i)]


def read_latest(
    spark: SparkSession, root: str, prefix: str, schema: str, initial: Sequence = ()
) -> DataFrame:
    """The newest committed version under `root`, read with the declared
    `schema`; the `initial` rows (none by default) before the first
    commit. Ids are probed from the top down and the walk stops at the
    first committed one, so a read costs one listing plus one probe per
    torn version above it, not one per version ever written."""
    ids, is_committed = _version_ids(spark, root, prefix)
    newest = next((i for i in reversed(ids) if is_committed(i)), None)
    if newest is None:
        return spark.createDataFrame(list(initial), schema)
    return spark.read.schema(schema).parquet(_version_dir(root, prefix, newest))


def read_committed(
    spark: SparkSession, root: str, prefix: str, schema: str | None
) -> DataFrame:
    """The union of every committed version under `root`, read with the
    declared `schema` plus the version id as a BIGINT column named
    `prefix` (the ``<prefix>=<id>`` directory, read as a partition); the
    empty frame of that schema before the first commit. ``schema=None``
    infers the schema from the files and raises FileNotFoundError when
    nothing is committed, since there is then no schema to give."""
    paths = [p for _, p in committed(spark, root, prefix)]
    reader = spark.read.option("basePath", root)
    if schema is None:
        if not paths:
            raise FileNotFoundError(f"no committed {prefix}=<id> version under {root!r}")
        return reader.parquet(*paths)
    schema = f"{schema}, {prefix} long"
    return reader.schema(schema).parquet(*paths) if paths else spark.createDataFrame([], schema)


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
    bdir = _version_dir(root, prefix, batch_id)
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
