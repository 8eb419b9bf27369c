"""ST-INGEST / ST-COUNT tests: Trigger.AvailableNow file streams with
batch-equivalence checks (SURVEY.md §2B — streaming rows are verified against
their batch twins, no oracle)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.schemas import TESTDATA_SCHEMAS
from cdmx_airquality_etl_spark.sources.parquet import load_table
from cdmx_airquality_etl_spark.streaming import (
    ingest_stream,
    run_windowed_counts_stream,
    windowed_counts,
)

SNAP_SCHEMA = "report_ts long, clave_str string, calidad string"


def _write_snapshot(spark, dir_, name, rows):
    spark.createDataFrame([Row(**r) for r in rows], SNAP_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(dir_, name))


def test_ingest_stream_incremental_merge(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = str(tmp_path / "incoming")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    schema = StructType(
        [
            StructField("report_ts", LongType(), True),
            StructField("clave_str", StringType(), True),
            StructField("calidad", StringType(), True),
        ]
    )

    # snapshot 1 lands → stream run 1
    spark.createDataFrame(
        [Row(report_ts=2025052314, clave_str="UIZ", calidad="buena")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    ingest_stream(spark, src, schema, tgt, keys=["report_ts", "clave_str"],
                  checkpoint_dir=ckpt)
    out1 = {r["clave_str"]: r for r in spark.read.parquet(tgt).collect()}
    assert out1["UIZ"]["nupdates"] == 1

    # snapshot 2: re-scrape (same key, new value) + new key → stream run 2
    spark.createDataFrame(
        [
            Row(report_ts=2025052314, clave_str="UIZ", calidad="mala"),
            Row(report_ts=2025052314, clave_str="MER", calidad="buena"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    ingest_stream(spark, src, schema, tgt, keys=["report_ts", "clave_str"],
                  checkpoint_dir=ckpt)
    out2 = {r["clave_str"]: r for r in spark.read.parquet(tgt).collect()}
    assert out2["UIZ"]["calidad"] == "mala"
    assert out2["UIZ"]["nupdates"] == 2  # counter bumped once per batch
    assert out2["MER"]["nupdates"] == 1

    # run again with NO new files: checkpoint makes it a no-op (exactly-once)
    ingest_stream(spark, src, schema, tgt, keys=["report_ts", "clave_str"],
                  checkpoint_dir=ckpt)
    out3 = {r["clave_str"]: r for r in spark.read.parquet(tgt).collect()}
    assert out3["UIZ"]["nupdates"] == 2


def _land_snapshot(spark, src, rows, mtime, schema=SNAP_SCHEMA):
    """Append one single-file snapshot to `src` and stamp its arrival time
    (the file source takes files in modification-time order)."""
    before = set(os.listdir(src)) if os.path.exists(src) else set()
    spark.createDataFrame([Row(**r) for r in rows], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    for name in set(os.listdir(src)) - before:
        if name.endswith(".parquet"):
            os.utime(os.path.join(src, name), (mtime, mtime))


def test_ingest_stream_backlog_merges_each_snapshot(spark, tmp_path):
    """Two snapshots of one key land before a single run: each file is one
    reference run, so the later value wins and the counter moves twice."""
    src = str(tmp_path / "incoming")
    tgt = str(tmp_path / "table")
    key = {"report_ts": 2025052314, "clave_str": "UIZ"}
    _land_snapshot(spark, src, [{**key, "calidad": "mala"}], 1_700_000_000)
    _land_snapshot(spark, src, [{**key, "calidad": "buena"}], 1_700_000_100)
    ingest_stream(spark, src, SNAP_SCHEMA, tgt,
                  keys=["report_ts", "clave_str"],
                  checkpoint_dir=str(tmp_path / "ckpt"))
    got = [(r["calidad"], r["nupdates"]) for r in spark.read.parquet(tgt).collect()]
    assert got == [("buena", 2)]


def test_ingest_stream_requires_checkpoint(spark, tmp_path):
    """Without a checkpoint each run would restart at batch id 0 and the
    version guard would drop the next run's re-scrape as a replay."""
    src = str(tmp_path / "incoming")
    tgt = str(tmp_path / "table")
    _land_snapshot(spark, src, [{"report_ts": 1, "clave_str": "UIZ",
                                 "calidad": "buena"}], 1_700_000_000)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        ingest_stream(spark, src, SNAP_SCHEMA, tgt,
                      ["report_ts", "clave_str"], "nupdates", None, None)
    assert not os.path.exists(tgt)


WIDE_SCHEMA = SNAP_SCHEMA + ", station string"
KEYS = ["report_ts", "clave_str"]


def _run(spark, tmp_path, name, schema, rows):
    """One ingest_stream call over its own one-snapshot source, without the
    version guard (each call has its own checkpoint, so batch ids restart)."""
    src = str(tmp_path / name)
    _land_snapshot(spark, src, rows, 1_700_000_000, schema)
    ingest_stream(spark, src, schema, str(tmp_path / "table"), KEYS,
                  checkpoint_dir=str(tmp_path / f"ckpt_{name}"), version_col=None)
    rows = [r.asDict() for r in spark.read.parquet(str(tmp_path / "table")).collect()]
    return {r["clave_str"]: (r["calidad"], r.get("station"), r["nupdates"]) for r in rows}


def test_ingest_stream_keeps_a_target_column_the_source_lacks(spark, tmp_path):
    """The target's schema comes from its files, not from the source: a
    column an earlier, wider run wrote survives a narrower run."""
    uiz = {"report_ts": 2025052314, "clave_str": "UIZ"}
    _run(spark, tmp_path, "wide", WIDE_SCHEMA,
         [{**uiz, "calidad": "mala", "station": "Iztapalapa"}])
    got = _run(spark, tmp_path, "narrow", SNAP_SCHEMA,
               [{**uiz, "calidad": "buena"},
                {"report_ts": 2025052314, "clave_str": "MER", "calidad": "buena"}])
    assert got == {"UIZ": ("buena", "Iztapalapa", 2), "MER": ("buena", None, 1)}


def test_ingest_stream_adds_a_new_source_column(spark, tmp_path):
    """The schema the merges read with is widened by the source's columns,
    so a later, wider run still adds its column."""
    uiz = {"report_ts": 2025052314, "clave_str": "UIZ"}
    mer = {"report_ts": 2025052314, "clave_str": "MER"}
    _run(spark, tmp_path, "narrow", SNAP_SCHEMA,
         [{**uiz, "calidad": "mala"}, {**mer, "calidad": "buena"}])
    got = _run(spark, tmp_path, "wide", WIDE_SCHEMA,
               [{**uiz, "calidad": "buena", "station": "Iztapalapa"}])
    assert got == {"UIZ": ("buena", "Iztapalapa", 2), "MER": ("buena", None, 1)}


def _footer_jobs(spark, group: str) -> list[int]:
    """Jobs of `group` that scan no file and start from a parallelized
    list: parquet schema inference reading file footers."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    tracker = sc.statusTracker()
    found = []
    for job in tracker.getJobIdsForGroup(group):
        graphs = " ".join(
            str(dot(store.operationGraphForStage(stage)))
            for stage in tracker.getJobInfo(job).stageIds
        )
        if "ParallelCollectionRDD" in graphs and "Scan parquet" not in graphs:
            found.append(job)
    return found


def test_ingest_stream_infers_the_target_schema_once_per_run(spark, tmp_path):
    """Three snapshots into an existing target: the merges share one
    inferred schema, so the run submits at most one footer-reading job
    (one per micro-batch, 3, when each merge inferred its own)."""
    src = str(tmp_path / "incoming")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    key = {"report_ts": 2025052314, "clave_str": "UIZ"}
    _land_snapshot(spark, src, [{**key, "calidad": "mala"}], 1_700_000_000)
    ingest_stream(spark, src, SNAP_SCHEMA, tgt, KEYS, checkpoint_dir=ckpt)
    for i in range(1, 4):
        _land_snapshot(spark, src, [{**key, "calidad": f"c{i}"}], 1_700_000_000 + i)
    q = ingest_stream(spark, src, SNAP_SCHEMA, tgt, KEYS, checkpoint_dir=ckpt)
    assert len(_footer_jobs(spark, str(q.runId))) <= 1
    got = [(r["calidad"], r["nupdates"]) for r in spark.read.parquet(tgt).collect()]
    assert got == [("c3", 4)]


def test_windowed_counts_stream_matches_batch(spark, tmp_path, sf_dir):
    src = str(tmp_path / "events_src")
    out = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt2")

    events = load_table(spark, sf_dir, "events")
    # restage with a real timestamp column (load_table converts ns → ts)
    events.limit(2000).write.parquet(src)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    staged_schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", TimestampType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )

    run_windowed_counts_stream(spark, src, staged_schema, out, ckpt)

    stream_rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in windowed_counts(spark.read.schema(staged_schema).parquet(src)).collect()
    }
    assert stream_rows == batch_rows
    staged_n = spark.read.schema(staged_schema).parquet(src).count()
    assert sum(stream_rows.values()) == staged_n > 0


def test_session_counts_stream_matches_batch(spark, tmp_path, sf_dir):
    from cdmx_airquality_etl_spark.streaming.stateful import session_counts

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    events = load_table(spark, sf_dir, "events")
    events.filter("user_id < 30").write.parquet(src)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    batch = {
        (r["session_start"], r["session_end"], r["user_id"]): r["n_events"]
        for r in session_counts(spark.read.schema(schema).parquet(src)).collect()
    }
    assert batch  # sessions exist

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            session_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # Append mode only emits a session once the watermark passes its end, and
    # the watermark used by a micro-batch is the one computed from PRIOR
    # batches — so a single AvailableNow pass over a closed directory emits
    # nothing. Drive the watermark forward deterministically with two sentinel
    # events (distinct out-of-range users) far past every real session end,
    # each landing in its own checkpointed run: run 2's batch advances the
    # commit watermark past all real data, run 3's batch emits every closed
    # real session. This also exercises checkpoint continuity across restarts.
    max_ts = spark.read.schema(schema).parquet(src).agg(F.max("ts")).collect()[0][0]

    def append_sentinel(user_id, hours_ahead):
        spark.createDataFrame(
            [Row(event_id=10_000_000 + user_id,
                 ts=max_ts + __import__("datetime").timedelta(hours=hours_ahead),
                 user_id=user_id, event_type="sentinel", value=0.0, props=None)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

    run_once()  # run 1: all real data in one batch, watermark still at epoch
    append_sentinel(999_998, 10)
    run_once()  # run 2: watermark advances past all real session ends
    append_sentinel(999_999, 20)
    run_once()  # run 3: every real session (and sentinel 1's) is now closed

    got = {
        (r["session_start"], r["session_end"], r["user_id"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
        if r["user_id"] < 30  # drop sentinel sessions
    }
    assert got == batch
