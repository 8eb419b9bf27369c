"""Custom arbitrary-state streaming operator via ``applyInPandasWithState``.

The reference's ``nupdates`` counter (M-COUNT, /root/reference/scrapper.py:
197-199) is per-key running state maintained across scheduled runs. The
built-in windowed count (stateful.py) covers the time-bucketed form; this
module is the *arbitrary* form: user-defined per-key state (count + running
total) that survives microbatch boundaries through the state store and
restarts through the checkpoint — the Spark primitive for any custom
stateful operator the built-ins can't express.

Scale: state is partitioned by the grouping key across executors (HDFS/
RocksDB-backed state store); each microbatch touches only the groups present
in that batch. Update-mode output emits only changed groups.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .commit import available_now

RUNNING_SCHEMA = "key string, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total double"


def _update_running(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"key": [key[0]], "n_events": [n], "total_value": [total]})


def running_totals(
    events: DataFrame, key_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-key running (count, sum) over a stream — the nupdates counter
    generalized to arbitrary state. Input needs ``key_col`` and ``value``;
    output emits one updated row per key per microbatch."""
    keyed = events.selectExpr(f"{key_col} AS key", f"{value_col} AS value")
    return keyed.groupBy("key").applyInPandasWithState(
        _update_running,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_running_totals_stream(
    spark: Any,
    source_dir: str,
    source_schema: Any,
    output_path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    value_col: str = "value",
):
    """Drain ``source_dir`` (file source, AvailableNow) through the stateful
    operator; each microbatch's updated rows append to ``output_path`` tagged
    with batch_id — the latest row per key is the current state."""
    from pyspark.sql import functions as F

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_path)

    q = available_now(
        spark, source_dir, source_schema, checkpoint_dir, _write,
        files_per_trigger=None,
        aggregate=lambda stream: running_totals(
            stream, key_col=key_col, value_col=value_col
        ),
        output_mode="update",
    )
    q.awaitTermination()
    return q
