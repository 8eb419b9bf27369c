"""ST-CMS tests: incrementally-maintained count-min state must equal the
one-shot sketch under ANY batch split (addition is associative and
commutative), replay of a committed batch id must be a no-op (the commit
protocol supplies the idempotence addition lacks), point estimates must
respect the CMS one-sided guarantee (est >= exact, bounded overestimate),
and the stream wiring must converge to the same state."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdmx_airquality_etl_spark.sources.parquet import load_table
from cdmx_airquality_etl_spark.streaming.cms_maintenance import (
    CMS_ROWS,
    CMS_WIDTH,
    batch_increments,
    cms_stream,
    merge_sketch,
    read_cms_estimates,
    read_sketch,
    update_sketch,
)
from cdmx_airquality_etl_spark.streaming.commit import available_now

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _oneshot_cells(spark, sf_dir):
    ev = _events(spark, sf_dir)
    empty = spark.createDataFrame([], "r long, bucket long, cnt long")
    return {
        (r["r"], r["bucket"]): r["cnt"]
        for r in merge_sketch(empty, batch_increments(ev, "user_id")).collect()
    }


def test_any_split_converges_to_oneshot(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    want = _oneshot_cells(spark, sf_dir)
    state = str(tmp_path / "st")
    for i, part in enumerate(
        [ev.filter(F.col("event_id") % 3 == k) for k in range(3)]
    ):
        update_sketch(spark, part, state, i, "user_id")
    got = {
        (r["r"], r["bucket"]): r["cnt"]
        for r in read_sketch(spark, state).collect()
    }
    assert got == want
    # total mass conservation: every event counted exactly once per row
    n_events = ev.count()
    for r in range(CMS_ROWS):
        assert sum(v for (rr, _), v in got.items() if rr == r) == n_events


def test_replay_of_committed_batch_is_noop(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    state = str(tmp_path / "st")
    update_sketch(spark, ev, state, 0, "user_id")
    before = sorted(map(tuple, read_sketch(spark, state).collect()))
    update_sketch(spark, ev, state, 0, "user_id")  # replay: MUST not add
    after = sorted(map(tuple, read_sketch(spark, state).collect()))
    assert before == after
    # a NEW batch id with the same data does add (addition, not union)
    update_sketch(spark, ev, state, 1, "user_id")
    doubled = {
        (r["r"], r["bucket"]): r["cnt"]
        for r in read_sketch(spark, state).collect()
    }
    for (r, b), v in dict(
        ((rr, bb), vv) for rr, bb, vv in before
    ).items():
        assert doubled[(r, b)] == 2 * v


def test_estimates_respect_cms_guarantee(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    state = str(tmp_path / "st")
    update_sketch(spark, ev, state, 0, "user_id")
    exact = {
        str(r["user_id"]): r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    keys = ev.select("user_id").distinct()
    est = {
        r["key"]: r["cms_estimate"]
        for r in read_cms_estimates(spark, state, keys, "user_id").collect()
    }
    n_total = ev.count()
    # one-sided guarantee: never undercounts; overestimate bounded by the
    # expected collision mass (e/width * N, with generous slack — the
    # hashes are fixed, so this is a deterministic regression pin)
    bound = max(8, int(8 * n_total / CMS_WIDTH))
    for key, n in exact.items():
        assert est[key] >= n, (key, est[key], n)
        assert est[key] <= n + bound, (key, est[key], n, bound)
    # a never-inserted key reads 0 unless every one of its cells collides
    ghost = spark.createDataFrame([("__ghost_key__",)], "user_id string")
    g = read_cms_estimates(spark, state, ghost, "user_id").collect()[0]
    assert g["cms_estimate"] <= bound


def test_empty_state_reads_zero(spark, tmp_path):
    keys = spark.createDataFrame([("42",)], "user_id string")
    rows = read_cms_estimates(
        spark, str(tmp_path / "nope"), keys, "user_id"
    ).collect()
    assert rows[0]["cms_estimate"] == 0


def test_stream_converges_to_oneshot(spark, sf_dir, tmp_path):
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    src = tmp_path / "src"
    src.mkdir()
    third = max(1, ev.num_rows // 3)
    pq.write_table(ev.slice(0, third), f"{src}/part-0.parquet")
    pq.write_table(ev.slice(third, third), f"{src}/part-1.parquet")
    pq.write_table(ev.slice(2 * third), f"{src}/part-2.parquet")
    state = str(tmp_path / "st")
    q = cms_stream(
        spark, str(src), EVENT_SCHEMA, state, str(tmp_path / "ckpt"), "user_id"
    )
    q.awaitTermination(120)
    got = {
        (r["r"], r["bucket"]): r["cnt"]
        for r in read_sketch(spark, state).collect()
    }
    assert got == _oneshot_cells(spark, sf_dir)


def test_kill_mid_batch_then_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Round-9 VERDICT #5: a real kill-mid-batch for the CMS sink, not a
    same-id replay of the apply function. The crash is injected at the
    worst point — the versioned sketch write COMMITS, then the process
    dies before the streaming checkpoint records the batch — so on
    restart the source replays the batch and the _SUCCESS short-circuit
    must absorb it (addition is NOT idempotent; double-adding would be
    silent corruption). Final sketch must equal the one-shot."""
    import os

    land = str(tmp_path / "land")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    for i in range(3):
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(land, f"snap{i}"))

    crashed = {"done": False}

    def _crashing(batch_df, batch_id):
        update_sketch(
            batch_df.sparkSession, batch_df, state, batch_id, "user_id"
        )
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between sink write and ckpt")

    def _start(fn):
        return available_now(spark, os.path.join(land, "snap*"), EVENT_SCHEMA, ckpt, fn)

    q = _start(_crashing)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert crashed["done"]

    # restart on the same checkpoint: batch 1 replays (its sketch version
    # is committed -> no-op), batch 2 runs fresh
    q2 = _start(
        lambda df, bid: update_sketch(df.sparkSession, df, state, bid, "user_id")
    )
    q2.awaitTermination()

    got = {
        (r["r"], r["bucket"]): r["cnt"]
        for r in read_sketch(spark, state).collect()
    }
    assert got == _oneshot_cells(spark, sf_dir)
