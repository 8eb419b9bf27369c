"""Streaming JOIN-view maintenance — the ivm_join fact path as a stream.

Fact files land in a directory; each micro-batch materializes ``ΔA ⋈ B``
into its own committed ``batch=<id>/`` subdirectory of the view
(the plans/ivm_join delta-join algebra under the commit protocol of
streaming/commit.py). Composes the shared AvailableNow skeleton with the
delta-join algebra, giving the continuously-maintained star-join view a
warehouse actually serves queries from.

Exactly-once (the real story, not the optimistic one): foreachBatch is
at-least-once — a crash after a batch's write commits but before the
streaming checkpoint commits REPLAYS the batch, and a plain parquet
append would double-append its ΔA⋈B rows. The commit protocol absorbs
the replay: a committed batch id is skipped, and a crashed half-written
batch is invisible to :func:`read_view` and overwritten on restart —
prior batches' durable state is never touched.

Scale notes: per batch the work is O(|ΔA|) — the dimension broadcasts,
the batch write touches only its own subdirectory, and nothing rescans
the accumulated view or fact history. read_view is one multi-dir parquet
scan (no shuffle); periodic compaction of old batch dirs is
plans/maintenance.compact's job, same as any append-heavy table.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..plans.ivm_join import build_view
from .commit import assert_success_markers_enabled, available_now, read_committed, write_once

SEED_BATCH_ID = -1  # the pre-stream view seed lives at batch=-1


def _assert_no_batch_column(df: DataFrame, where: str) -> None:
    """Fail loudly if the view schema carries a data column named
    ``batch``: read_view discovers the ``batch=<id>`` partition dirs via
    basePath and then drops that inferred column — a same-named data
    column would collide with the partition column and the drop would
    silently destroy user data. Validated at write time (seed + every
    delta), where the caller can still rename, rather than detected at
    read time when the data is already ambiguous on disk."""
    if "batch" in df.columns:
        raise ValueError(
            f"{where}: view schema must not contain a column named 'batch' "
            f"— it collides with the batch=<id> partition directory column "
            f"that read_view infers and drops. Rename the column before "
            f"writing (columns: {df.columns})."
        )


def apply_fact_delta_versioned(
    spark: SparkSession,
    view_path: str,
    a_delta: DataFrame,
    b: DataFrame,
    key: str,
    batch_id: int,
) -> bool:
    """Materialize one batch's ``ΔA ⋈ B`` into its committed subdirectory.

    Replay-safe: a committed id short-circuits (the append is not
    idempotent, so this is load-bearing). Crash-safe: a half-written dir
    is both skipped by read_view and overwritten here on retry. Returns
    True when the batch was (re)written, False when skipped as already
    committed."""

    def _build() -> DataFrame:
        view = build_view(a_delta, b, key)
        _assert_no_batch_column(view, "apply_fact_delta_versioned")
        return view

    return write_once(spark, view_path, "batch", batch_id, _build)


def seed_view(view_df: DataFrame, view_path: str) -> None:
    """Write the initial (pre-stream) view state as the committed seed
    batch, so the seed and every later delta live under one uniform
    commit protocol."""
    _assert_no_batch_column(view_df, "seed_view")
    view_df.write.mode("overwrite").parquet(
        posixpath.join(view_path, f"batch={SEED_BATCH_ID}")
    )


def read_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The queryable view: union of all committed batch subdirectories
    (commit.read_committed). Uncommitted (crashed, in-flight) batch dirs
    are excluded. The view has no declared schema, its schema is whatever
    the caller seeded, so this is the one sink reader that infers its
    schema from the files. Raises FileNotFoundError on a view with no
    committed state: an unseeded view is a caller bug (seed_view first),
    not an empty relation."""
    return read_committed(spark, view_path, "batch", None).drop("batch")


def view_maintenance_stream(
    spark: SparkSession,
    fact_dir: str,
    fact_schema: StructType,
    dim: DataFrame,
    key: str,
    view_path: str,
    checkpoint_dir: str,
):
    """Wire the incremental join view as a checkpointed AvailableNow
    stream over landing fact files, one committed batch dir per
    micro-batch (replay-safe, see module docstring)."""
    assert_success_markers_enabled(spark)
    return available_now(
        spark,
        fact_dir,
        fact_schema,
        checkpoint_dir,
        lambda df, bid: apply_fact_delta_versioned(
            df.sparkSession, view_path, df, dim, key, int(bid)
        ),
    )
