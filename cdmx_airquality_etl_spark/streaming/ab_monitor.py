"""ST-AB — streaming sequential A/B monitoring.

Maintains q_ab_sequential's cumulative cohort moments (n, Σx, Σx² per arm,
exact floor-dollar BIGINTs) INCREMENTALLY over an order stream, and reads
back the monitoring trajectory: per committed batch, the Welch z at the
information observed so far against the O'Brien-Fleming-style boundary
c/√(information fraction) — the peeking-safe experiment monitor run the
way production runs it, on arriving data instead of a nightly rebuild.

Moment addition is associative and commutative, so ANY batch split
converges to the same final state as the one-shot batch computation
(tests/test_streaming_ab.py pins final-z equality with q_ab_welch).
Addition is NOT idempotent, so replay safety comes entirely from the
commit protocol of streaming/commit.py: each batch writes the FULL
post-merge one-row state as its own ``state=<batch_id>/`` version, and an
already-committed batch id is skipped on replay — a crash mid-write
leaves the previous version authoritative and the foreachBatch retry
recomputes from it.

State is one row per version forever; merge traffic is one row per batch;
the trajectory reads in O(versions).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.analytics import _SEQ_C
from .commit import assert_success_markers_enabled, available_now, write_once
from .commit import read_committed, read_latest

_STATE_SCHEMA = (
    "na long, nb long, sa long, sb long, qa long, qb long"
)
_MOMENTS = ("na", "nb", "sa", "sb", "qa", "qb")


def batch_moments(
    batch_df: DataFrame,
    cohort_col: str = "o_custkey",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """One batch's six cohort moments (cohort = key % 2, value in exact
    floor dollars — q_ab_welch's determinism discipline), as one row."""
    x = batch_df.select(
        (F.col(cohort_col) % 2).alias("cohort"),
        F.floor(F.col(value_col)).cast("long").alias("usd"),
    )
    a, b = F.col("cohort") == 0, F.col("cohort") == 1
    usd = F.col("usd")

    def _s(cond, expr):
        return F.sum(F.when(cond, expr).otherwise(F.lit(0))).cast("long")

    return x.agg(
        _s(a, F.lit(1)).alias("na"),
        _s(b, F.lit(1)).alias("nb"),
        _s(a, usd).alias("sa"),
        _s(b, usd).alias("sb"),
        _s(a, usd * usd).alias("qa"),
        _s(b, usd * usd).alias("qb"),
    )


def merge_moments(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Pointwise BIGINT addition of the six moments — associative and
    commutative, so batch order and splits can't change the result."""
    return state.unionByName(batch).agg(
        *[F.sum(c).cast("long").alias(c) for c in _MOMENTS]
    )


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The newest committed cumulative moments (commit.read_latest, with
    the declared schema); the zero row before any batch commits."""
    return read_latest(
        spark, state_path, "state", _STATE_SCHEMA, [(0,) * len(_MOMENTS)]
    )


def update_state(
    spark: SparkSession,
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    cohort_col: str,
    value_col: str,
) -> None:
    """Merge one batch's moments into the state and commit it as a new
    version. Replay-safe: an already-committed version for this batch id
    is left untouched (re-adding would double-count — the versioned
    commit, not idempotence, is the replay guarantee here)."""
    write_once(
        spark,
        state_path,
        "state",
        batch_id,
        lambda: merge_moments(
            read_state(spark, state_path),
            batch_moments(batch_df, cohort_col, value_col),
        ),
    )


def read_ab_trajectory(
    spark: SparkSession, state_path: str, n_planned: int
) -> DataFrame:
    """The monitoring table a sequential experiment reads after every
    batch: per committed version, cumulative counts, the Welch z, the
    information fraction against the PLANNED sample size, the
    c/√info boundary and the stop flag — q_ab_sequential's row, produced
    from incrementally-maintained state (same fixed-shape expressions,
    so the final version's z equals the batch statistic bitwise). Reads
    every committed version (commit.read_committed); empty before the
    first commit."""
    allv = read_committed(spark, state_path, "state", _STATE_SCHEMA).select(
        F.col("state").alias("version"), *_MOMENTS
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    var_a = (qa - sa * sa / na) / (na - 1.0) / na
    var_b = (qb - sb * sb / nb) / (nb - 1.0) / nb
    z = (sa / na - sb / nb) / F.sqrt(var_a + var_b)
    info = F.least(
        (F.col("na") + F.col("nb")).cast("double") / float(n_planned),
        F.lit(1.0),
    )
    bound = F.lit(_SEQ_C) / F.sqrt(info)
    return (
        allv.filter((F.col("na") >= 2) & (F.col("nb") >= 2))
        .filter(var_a + var_b > 0.0)
        .select(
            "version",
            *_MOMENTS,
            z.alias("z_welch"),
            info.alias("info_frac"),
            bound.alias("z_boundary"),
            (F.abs(z) >= bound).cast("long").alias("crossed"),
        )
    )


def ab_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    state_path: str,
    checkpoint_dir: str,
    cohort_col: str = "o_custkey",
    value_col: str = "o_totalprice",
):
    """Wire the monitor as a checkpointed AvailableNow stream, one file
    per trigger so the trajectory has one point per arriving file."""
    assert_success_markers_enabled(spark)
    return available_now(
        spark,
        source_dir,
        source_schema,
        posixpath.join(checkpoint_dir, "ab"),
        lambda df, bid: update_state(
            df.sparkSession, df, state_path, bid, cohort_col, value_col
        ),
    )
