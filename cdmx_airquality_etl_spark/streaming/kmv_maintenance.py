"""ST-KMV — streaming distinct-count sketch maintenance.

Maintains a per-key K-minimum-values sketch over an event stream — the
mergeable, deterministic distinct counter (operators/diagnostics.py
q_kmv_distinct) kept INCREMENTALLY: each micro-batch's hashes merge into
the persisted sketch by "union, keep the k smallest per key", which is
associative, commutative and idempotent, so ANY batch split (and any
replay) converges to the same state as the one-shot computation —
batch-equivalence is provable, not aspirational (tests/test_streaming_kmv.py
pins it both ways). This is the sketch maintenance a 100 TB ingest runs
instead of exact COUNT(DISTINCT): state is k rows per key forever, merge
traffic is k values per key per batch, and estimates read in O(keys).

State is versioned under the commit protocol of streaming/commit.py: each
batch writes the FULL post-merge sketch (tiny: keys x k rows) as its own
``state=<batch_id>/`` version and the reader uses the newest committed
one, so a crash mid-write leaves the previous version authoritative and
a replay simply rewrites the same bytes (the merge is idempotent). Old
versions are superseded, not mutated; prune them with the
plans/maintenance.py compaction pattern.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..functions.portable import md5_int
from .commit import assert_success_markers_enabled, available_now, read_latest, write_once

KMV_K = 64
_NCHARS = 15  # 60-bit hash space
_SPACE = float(16**_NCHARS)

_STATE_SCHEMA = "key string, hv long"


def batch_hashes(batch_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """(key, hv) distinct hash draws for one batch — q_kmv_distinct's
    portable md5 hash, so stream state and batch estimator agree."""
    return batch_df.select(
        F.col(key_col).cast("string").alias("key"),
        md5_int(F.col(value_col).cast("string"), _NCHARS).alias("hv"),
    ).distinct()


def merge_sketch(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Union both sides and keep the K smallest distinct hashes per key —
    the KMV merge. Associative, commutative, idempotent: any arrival
    order or replay yields the same sketch."""
    merged = state.unionByName(batch).distinct()
    w = Window.partitionBy("key").orderBy("hv")
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .select("key", "hv")
    )


def read_sketch(spark: SparkSession, state_path: str) -> DataFrame:
    """The newest committed sketch version (commit.read_latest, with the
    declared schema); the empty sketch before any batch commits."""
    return read_latest(spark, state_path, "state", _STATE_SCHEMA)


def read_kmv_estimate(spark: SparkSession, state_path: str) -> DataFrame:
    """(key, n_hashes, kmv_estimate) from the current sketch: exact when
    fewer than K hashes were ever seen, else (K-1)*2^60 / h_k — the
    q_kmv_distinct estimator over incrementally-maintained state."""
    sk = read_sketch(spark, state_path)
    agg = sk.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.max("hv").alias("hk"),
    )
    return agg.select(
        "key",
        "n_hashes",
        F.when(F.col("n_hashes") < KMV_K, F.col("n_hashes").cast("double"))
        .otherwise(F.lit(float(KMV_K - 1) * _SPACE) / F.col("hk").cast("double"))
        .alias("kmv_estimate"),
    )


def update_sketch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    key_col: str,
    value_col: str,
) -> None:
    """Merge one batch into the sketch and commit it as a new version.
    Replay-safe: an already-committed version for this batch id is left
    untouched (the merge is idempotent anyway; skipping saves the write)."""
    write_once(
        spark,
        state_path,
        "state",
        batch_id,
        lambda: merge_sketch(
            read_sketch(spark, state_path),
            batch_hashes(batch_df, key_col, value_col),
        ),
    )


def kmv_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    value_col: str,
):
    """Wire the sketch maintenance as a checkpointed AvailableNow stream."""
    assert_success_markers_enabled(spark)
    return available_now(
        spark,
        source_dir,
        source_schema,
        posixpath.join(checkpoint_dir, "kmv"),
        lambda df, bid: update_sketch(
            df.sparkSession, df, state_path, bid, key_col, value_col
        ),
    )
