"""ST-CMS — streaming count-min frequency-sketch maintenance.

Maintains a count-min sketch over an event stream — the mergeable
frequency counter (operators/graph_ext.py q_countmin: same 4x256 geometry,
same portable md5 row-hash) kept INCREMENTALLY: each micro-batch reduces
to at most rows*width counter increments, which ADD into the persisted
sketch. Addition is associative and commutative, so ANY batch split
converges to the one-shot sketch; it is NOT idempotent, so replay safety
comes from the commit protocol of streaming/commit.py instead — a batch id
whose ``state=<id>/`` version is already committed is skipped, making the
update exactly-once per batch id (tests/test_streaming_cms.py pins both
properties). This is the frequency telemetry a 100 TB ingest keeps
instead of exact per-key counts: state is a fixed rows*width cell grid
forever, merge traffic is at most that many rows per batch, and point
queries read min-of-d cells.

Each batch writes the FULL post-merge sketch as its own version; the
reader uses the newest committed one, so a crash mid-write leaves the
previous version authoritative. Old versions are superseded, not mutated.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.portable import md5_int
from .commit import assert_success_markers_enabled, available_now, read_latest, write_once

CMS_ROWS = 4
CMS_WIDTH = 256  # q_countmin's geometry: est - exact ~ e/width * N

_STATE_SCHEMA = "r long, bucket long, cnt long"


def _bucket(r, key) -> F.Column:
    """Portable row-hash md5(r || '|' || key) % width — byte-identical to
    q_countmin's bucket derivation so stream state and the batch
    calibrator agree on every cell."""
    return (
        md5_int(F.concat(r.cast("string"), F.lit("|"), key.cast("string")), 15)
        % CMS_WIDTH
    )


def batch_increments(batch_df: DataFrame, key_col: str) -> DataFrame:
    """(r, bucket, cnt) counter increments for one batch: one hash
    aggregate on the key, a rows-cardinality explode of the survivors,
    and a second bounded aggregate — at most rows*width output cells no
    matter the batch size."""
    keyed = batch_df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = batch_df.sparkSession.range(CMS_ROWS).select(F.col("id").alias("r"))
    return (
        keyed.crossJoin(F.broadcast(rows))
        .groupBy("r", _bucket(F.col("r"), F.col("key")).alias("bucket"))
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def merge_sketch(state: DataFrame, increments: DataFrame) -> DataFrame:
    """Elementwise cell addition — associative and commutative (any batch
    split converges); replay safety is the commit protocol's job."""
    return (
        state.unionByName(increments)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def read_sketch(spark: SparkSession, state_path: str) -> DataFrame:
    """The newest committed sketch version (commit.read_latest, with the
    declared schema); the empty sketch before any batch commits."""
    return read_latest(spark, state_path, "state", _STATE_SCHEMA)


def read_cms_estimates(
    spark: SparkSession, state_path: str, keys_df: DataFrame, key_col: str
) -> DataFrame:
    """(key, cms_estimate) point queries against the current sketch: each
    probe key joins its rows*1 cells (the sketch side is a fixed
    rows*width grid — always broadcastable) and takes the min. Keys never
    inserted read 0 via the left join's coalesce, matching CMS semantics."""
    sketch = read_sketch(spark, state_path)
    rows = spark.range(CMS_ROWS).select(F.col("id").alias("r"))
    probes = (
        keys_df.select(F.col(key_col).cast("string").alias("key"))
        .distinct()
        .crossJoin(F.broadcast(rows))
        .select("key", "r", _bucket(F.col("r"), F.col("key")).alias("bucket"))
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("key")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("cms_estimate")
        )
    )


def update_sketch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    key_col: str,
) -> None:
    """Add one batch into the sketch and commit it as a new version.
    Replay-safe BY the version check: addition is not idempotent, so an
    already-committed batch id MUST short-circuit (this is load-bearing,
    unlike ST-KMV where skipping is merely an optimization)."""
    write_once(
        spark,
        state_path,
        "state",
        batch_id,
        lambda: merge_sketch(
            read_sketch(spark, state_path), batch_increments(batch_df, key_col)
        ),
    )


def cms_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
):
    """Wire the sketch maintenance as a checkpointed AvailableNow stream."""
    assert_success_markers_enabled(spark)
    return available_now(
        spark,
        source_dir,
        source_schema,
        posixpath.join(checkpoint_dir, "cms"),
        lambda df, bid: update_sketch(df.sparkSession, df, state_path, bid, key_col),
    )
