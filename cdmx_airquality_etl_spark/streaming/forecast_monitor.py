"""ST-HW — streaming forecast maintenance.

Maintains the daily event-count series INCREMENTALLY over an event stream
(exact BIGINT counts per day, merged additively under the versioned-commit
contract) and reads back q_holt_winters' full smoothing table from the
maintained state — the forecasting monitor run the way production runs it,
refit on arriving data instead of a nightly rebuild. Because the state IS
the day-grain series (bounded by the calendar, not the corpus) and the fit
is the SAME `hw_from_daily` fold the batch operator uses, the final
trajectory equals the batch q_holt_winters output bitwise
(tests/test_streaming_forecast.py pins it).

Replay safety is the commit protocol of streaming/commit.py: day-count
addition is associative/commutative but NOT idempotent, so each batch
writes the full post-merge day-grain state as its own ``state=<batch_id>/``
version, and an already-committed batch id is skipped.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.timeseries import hw_from_daily
from .commit import assert_success_markers_enabled, available_now, read_latest, write_once

_STATE_SCHEMA = "d long, y long"


def batch_daily(batch_df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """One batch's (day, count) increments — the q_holt_winters day grain."""
    d = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    return batch_df.groupBy(d.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )


def merge_daily(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Per-day BIGINT addition — associative and commutative, so batch
    splits and arrival order cannot change the maintained series."""
    return (
        state.unionByName(batch)
        .groupBy("d")
        .agg(F.sum("y").cast("long").alias("y"))
    )


def read_daily_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The newest committed day-count series (commit.read_latest, with the
    declared schema); empty before any commit."""
    return read_latest(spark, state_path, "state", _STATE_SCHEMA)


def update_daily_state(
    spark: SparkSession,
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    ts_col: str = "ts",
) -> None:
    """Merge one batch's day counts into the state and commit it as a new
    version; an already-committed batch id is skipped (re-adding would
    double-count — the versioned commit is the replay guarantee)."""
    write_once(
        spark,
        state_path,
        "state",
        batch_id,
        lambda: merge_daily(
            read_daily_state(spark, state_path), batch_daily(batch_df, ts_col)
        ),
    )


def read_forecast(spark: SparkSession, state_path: str) -> DataFrame:
    """q_holt_winters' smoothing table (day, y, level, trend, seasonal,
    fitted, resid) refit on the maintained series — the SAME fold the
    batch operator runs, so once the stream has drained the full source
    the rows match the batch query bitwise. Series shorter than two
    seasons return empty, exactly like the batch form."""
    return hw_from_daily(read_daily_state(spark, state_path))


def forecast_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    state_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
):
    """Wire the day-count maintenance as a checkpointed AvailableNow
    stream, one file per trigger."""
    assert_success_markers_enabled(spark)
    return available_now(
        spark,
        source_dir,
        source_schema,
        posixpath.join(checkpoint_dir, "hw"),
        lambda df, bid: update_daily_state(
            df.sparkSession, df, state_path, bid, ts_col
        ),
    )
