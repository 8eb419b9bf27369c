"""Crash-recovery evidence for the _SUCCESS-protocol streaming sinks
(VERDICT r7 #4): an actual kill-mid-batch → restart → output-exactness
run, not just a same-batch-id replay of the apply function.

The failure window under test is foreachBatch's at-least-once contract:
the sink write for batch N commits, then the process dies BEFORE the
streaming checkpoint records N as done. On restart the source offsets
replay batch N, and a naive append sink would double its rows. The
batch-id ``_SUCCESS`` commit protocol (streaming/view_maintenance,
generalizing the reference's idempotent re-run contract,
scrapper.py:197-206 + launcher.bat:2) must absorb the replay: the
committed ``batch=N`` dir short-circuits, prior batches are untouched,
and the final view equals the one-shot batch join exactly — no
duplicates, no gaps.

The crash is injected at exactly that point: foreachBatch completes the
versioned sink write, then raises before returning, so Spark never
commits the batch to the checkpoint — the precise half-state a SIGKILL
between the two commits leaves behind.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cdmx_airquality_etl_spark.plans.ivm_join import build_view
from cdmx_airquality_etl_spark.streaming.commit import available_now
from cdmx_airquality_etl_spark.streaming.view_maintenance import (
    apply_fact_delta_versioned,
    read_view,
    seed_view,
)

FACT_SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
    ]
)


def _write_fact_file(spark, fact_dir: str, rows: list[Row], name: str) -> None:
    (
        spark.createDataFrame(rows, FACT_SCHEMA)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(fact_dir, name))
    )


def test_kill_mid_batch_then_restart_is_exactly_once(spark, tmp_path):
    fact_dir = str(tmp_path / "facts")
    view_path = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(fact_dir)

    dim = spark.createDataFrame(
        [Row(k=i, name=f"dim-{i}") for i in range(4)],
        "k long, name string",
    )

    # three landing files → three micro-batches (maxFilesPerTrigger=1)
    all_rows: list[Row] = []
    for b in range(3):
        rows = [Row(k=i % 4, v=f"b{b}-r{i}") for i in range(8)]
        all_rows.extend(rows)
        _write_fact_file(spark, fact_dir, rows, f"snap{b}.parquet")

    seed_view(build_view(spark.createDataFrame([], FACT_SCHEMA), dim, "k"), view_path)

    crash = {"armed": True, "crashed_batch": None}

    def _process(batch_df, batch_id):
        apply_fact_delta_versioned(
            batch_df.sparkSession, view_path, batch_df, dim, "k", int(batch_id)
        )
        # the injected kill: sink committed, checkpoint NOT committed
        if crash["armed"] and batch_id == 1:
            crash["armed"] = False
            crash["crashed_batch"] = batch_id
            raise RuntimeError("injected crash between sink and checkpoint commit")

    def _run():
        q = available_now(
            spark, os.path.join(fact_dir, "*.parquet"), FACT_SCHEMA, ckpt, _process
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="injected crash"):
        _run()
    assert crash["crashed_batch"] == 1  # the kill really happened mid-stream

    # restart from the same checkpoint: batch 1 replays against its
    # committed dir (skip), batch 2 runs fresh
    _run()

    got = read_view(spark, view_path)
    expected = build_view(spark.createDataFrame(all_rows, FACT_SCHEMA), dim, "k")
    assert got.count() == expected.count()  # no duplicate rows from the replay
    assert (
        got.exceptAll(expected).count() == 0
        and expected.exceptAll(got).count() == 0
    )


def test_half_written_batch_dir_is_invisible_and_rewritten(spark, tmp_path):
    """The OTHER crash half: death DURING the sink write leaves a batch dir
    without _SUCCESS — it must be invisible to readers and rewritten (not
    appended) when its id replays."""
    view_path = str(tmp_path / "view")
    dim = spark.createDataFrame([Row(k=0, name="d")], "k long, name string")
    facts = spark.createDataFrame([Row(k=0, v="x")], FACT_SCHEMA)

    seed_view(build_view(facts, dim, "k"), view_path)

    # simulate a torn write for batch 0: data file present, no _SUCCESS
    bdir = os.path.join(view_path, "batch=0")
    os.makedirs(bdir)
    build_view(facts, dim, "k").toPandas().to_parquet(
        os.path.join(bdir, "part-torn.parquet")
    )
    assert not os.path.exists(os.path.join(bdir, "_SUCCESS"))
    assert read_view(spark, view_path).count() == 1  # only the seed

    # replay of batch 0 overwrites the torn dir in place
    wrote = apply_fact_delta_versioned(spark, view_path, facts, dim, "k", 0)
    assert wrote is True
    assert read_view(spark, view_path).count() == 2  # seed + exactly one batch 0

    # and a SECOND replay of the now-committed id is a no-op
    assert apply_fact_delta_versioned(spark, view_path, facts, dim, "k", 0) is False
    assert read_view(spark, view_path).count() == 2


def test_ingest_merge_version_guard_makes_counter_replay_safe(spark, tmp_path):
    """The ingest half of crash recovery: merge_into_parquet's data columns
    were always idempotent under replay, but the nupdates counter bumped
    once per merge call — a replayed foreachBatch batch double-bumped it.
    The version guard (ingest_stream stamps each batch with its batch id)
    must make the WHOLE merge, counter included, reproduce the exact
    target state when the same batch id replays, while a genuinely new
    batch still bumps."""
    from pyspark.sql import functions as F

    from cdmx_airquality_etl_spark.plans.merge import merge_into_parquet

    tgt = str(tmp_path / "tbl")
    rows = [Row(k=1, v="a"), Row(k=2, v="b")]
    batch0 = spark.createDataFrame(rows, "k long, v string").withColumn(
        "_b", F.lit(0)
    )

    merge_into_parquet(spark, batch0, tgt, ["k"], counter_col="nupdates",
                       version_col="_b")
    state1 = {r["k"]: (r["v"], r["nupdates"]) for r in spark.read.parquet(tgt).collect()}
    assert state1 == {1: ("a", 1), 2: ("b", 1)}

    # crash-replay of batch 0: EXACT same state, counter included
    merge_into_parquet(spark, batch0, tgt, ["k"], counter_col="nupdates",
                       version_col="_b")
    state2 = {r["k"]: (r["v"], r["nupdates"]) for r in spark.read.parquet(tgt).collect()}
    assert state2 == state1

    # a real new batch (new id, re-scraped key) bumps exactly once
    batch1 = spark.createDataFrame([Row(k=1, v="a2")], "k long, v string").withColumn(
        "_b", F.lit(1)
    )
    merge_into_parquet(spark, batch1, tgt, ["k"], counter_col="nupdates",
                       version_col="_b")
    state3 = {r["k"]: (r["v"], r["nupdates"]) for r in spark.read.parquet(tgt).collect()}
    assert state3 == {1: ("a2", 2), 2: ("b", 1)}
