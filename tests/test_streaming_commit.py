"""Contract tests for the streaming commit protocol (streaming/commit.py),
plus torn-version recovery for every full-state ``state=<id>/`` sink: a
directory without ``_SUCCESS`` is invisible to readers and is rewritten,
exactly once, when its batch id replays."""

import os
from datetime import datetime, timedelta
from functools import reduce

import pytest
from pyspark.sql import DataFrame

from cdmx_airquality_etl_spark.streaming import (
    ab_monitor,
    cms_maintenance,
    forecast_monitor,
    kmv_maintenance,
)
from cdmx_airquality_etl_spark.streaming.commit import committed, write_once


def test_missing_root_reads_empty(spark, tmp_path):
    assert committed(spark, str(tmp_path / "nothing"), "state") == []


def test_torn_dir_is_invisible_and_rewritten(spark, tmp_path):
    root = str(tmp_path / "st")
    torn = tmp_path / "st" / "state=0"
    torn.mkdir(parents=True)
    (torn / "part-0.parquet").write_bytes(b"torn")
    assert committed(spark, root, "state") == []
    assert write_once(spark, root, "state", 0, lambda: spark.range(3)) is True
    assert [i for i, _ in committed(spark, root, "state")] == [0]
    assert (torn / "_SUCCESS").exists()
    assert not (torn / "part-0.parquet").exists()
    assert spark.read.parquet(str(torn)).count() == 3


def test_committed_id_is_skipped_without_building(spark, tmp_path):
    root = str(tmp_path / "st")
    calls = []

    def build():
        calls.append(1)
        return spark.range(1)

    assert write_once(spark, root, "batch", 0, build) is True
    assert write_once(spark, root, "batch", 0, build) is False
    assert calls == [1]


def test_committed_order_is_numeric_and_prefix_scoped(spark, tmp_path):
    root = str(tmp_path / "st")
    for bid in (10, 2, 9):
        write_once(spark, root, "state", bid, lambda: spark.range(1))
    write_once(spark, root, "batch", 1, lambda: spark.range(1))
    got = committed(spark, root, "state")
    assert [i for i, _ in got] == [2, 9, 10]
    assert all(p.endswith(f"state={i}") for i, p in got)


def _batch(spark, i: int) -> DataFrame:
    """Twelve rows with the columns the four sinks read; batch ``i`` has
    its own customer keys, prices and days, so adding it twice shows."""
    base = datetime(2024, 1, 1)
    rows = [
        (
            i * 12 + j,
            (i * 12 + j) % 3,
            float(100 + 7 * j + 31 * i),
            base + timedelta(days=(i * 5 + j) % 20),
        )
        for j in range(12)
    ]
    return spark.createDataFrame(
        rows, "o_custkey long, g long, o_totalprice double, ts timestamp"
    )


# sink -> (update(spark, df, root, batch_id), read(spark, root))
SINKS = {
    "cms": (
        lambda s, df, p, b: cms_maintenance.update_sketch(s, df, p, b, "o_custkey"),
        cms_maintenance.read_sketch,
    ),
    "kmv": (
        lambda s, df, p, b: kmv_maintenance.update_sketch(
            s, df, p, b, "g", "o_custkey"
        ),
        kmv_maintenance.read_sketch,
    ),
    "ab": (
        lambda s, df, p, b: ab_monitor.update_state(
            s, df, p, b, "o_custkey", "o_totalprice"
        ),
        ab_monitor.read_state,
    ),
    "forecast": (
        lambda s, df, p, b: forecast_monitor.update_daily_state(s, df, p, b, "ts"),
        forecast_monitor.read_daily_state,
    ),
}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_torn_version_is_invisible_and_replayed_once(spark, tmp_path, sink):
    update, read = SINKS[sink]
    batches = [_batch(spark, i) for i in range(3)]

    def state(root):
        return sorted(map(tuple, read(spark, root).collect()))

    def one_shot(dfs, name):
        root = str(tmp_path / name)
        update(spark, reduce(DataFrame.unionByName, dfs), root, 0)
        return state(root)

    root = str(tmp_path / "st")
    for bid, df in enumerate(batches):
        update(spark, df, root, bid)
    # torn version 2: its data files are on disk, its commit marker is not
    marker = os.path.join(root, "state=2", "_SUCCESS")
    os.remove(marker)
    assert state(root) == one_shot(batches[:2], "two")
    # the replay rebuilds version 2 from version 1: batch 2 is added once
    update(spark, batches[2], root, 2)
    assert os.path.exists(marker)
    assert state(root) == one_shot(batches, "three")
