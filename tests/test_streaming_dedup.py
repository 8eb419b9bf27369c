"""dropDuplicatesWithinWatermark streaming dedup (streaming/dedup.py):
exactness inside the watermark window, bounded state, and batch-twin
equivalence — streaming rows are test-verified per the SURVEY §2B
contract (no DuckDB oracle for streams)."""

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from cdmx_airquality_etl_spark.streaming.dedup import (
    content_fingerprint,
    dedup_stream_within_watermark,
)

SCHEMA = StructType(
    [
        StructField("ts", TimestampType(), True),
        StructField("doc_id", StringType(), True),
        StructField("text", StringType(), True),
    ]
)


def _run_files_through(spark, tmp_path, batches, delay="10 minutes"):
    """Write each batch as one parquet file, run the dedup stream with
    AvailableNow, return the collected sink rows."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame([Row(**r) for r in rows], SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    deduped = dedup_stream_within_watermark(stream, delay=delay)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out).collect()


def _ts(minute):
    import datetime

    return datetime.datetime(2024, 1, 1, 12, minute, 0)


def test_duplicates_within_watermark_collapse(spark, tmp_path):
    rows = _run_files_through(
        spark,
        tmp_path,
        [
            [
                {"ts": _ts(0), "doc_id": "a", "text": "hello world"},
                {"ts": _ts(1), "doc_id": "b", "text": "  HELLO   world "},
                {"ts": _ts(2), "doc_id": "c", "text": "distinct doc"},
            ]
        ],
    )
    texts = sorted(
        set(r["text"].strip().lower().split()[0] for r in rows)
    )
    assert len(rows) == 2, "normalized duplicates must collapse to one row"
    assert texts == ["distinct", "hello"]
    assert all(r["fingerprint"] is not None for r in rows)


def test_state_is_keyed_on_fingerprint_not_doc_id(spark, tmp_path):
    rows = _run_files_through(
        spark,
        tmp_path,
        [
            [
                {"ts": _ts(0), "doc_id": "a", "text": "same content"},
                {"ts": _ts(0), "doc_id": "z", "text": "same content"},
            ]
        ],
    )
    assert len(rows) == 1


def test_batch_twin_equivalence(spark, tmp_path):
    """The streaming result equals the batch dropDuplicates on the same
    fingerprint for a duplicate set inside the watermark window."""
    data = [
        {"ts": _ts(i % 5), "doc_id": f"d{i}", "text": f"doc {i % 4}"}
        for i in range(20)
    ]
    rows = _run_files_through(spark, tmp_path, [data])
    batch = (
        spark.createDataFrame([Row(**r) for r in data], SCHEMA)
        .withColumn("fingerprint", content_fingerprint(F.col("text")))
        .dropDuplicates(["fingerprint"])
    )
    assert len(rows) == batch.count() == 4


def test_fingerprint_matches_corpus_ingest_identity(spark):
    """streaming/dedup.py, streaming/corpus_ingest.py and the batch
    exact-dedup queries must share one content identity, or a document
    deduped in-stream could still be dropped/kept inconsistently by the
    corpus anti-join: all three use functions/portable.content_fingerprint."""
    from cdmx_airquality_etl_spark.functions import portable
    from cdmx_airquality_etl_spark.operators import dedup as batch_dedup
    from cdmx_airquality_etl_spark.streaming import corpus_ingest

    assert portable.content_fingerprint is content_fingerprint
    assert corpus_ingest.content_fingerprint is content_fingerprint
    assert batch_dedup.content_fingerprint is content_fingerprint
    df = spark.createDataFrame(
        [("  Foo   BAR ",), ("foo bar",), ("unrelated",)], "text string"
    )
    a = [r[0] for r in df.select(content_fingerprint(F.col("text"))).collect()]
    assert a[0] == a[1] != a[2]


def test_stop_mid_stream_then_restart_is_exactly_once(spark, tmp_path):
    """Round-9 VERDICT #5: restart exactness for the ST-DEDUP sink. The
    stream is killed after its FIRST micro-batch commits (AvailableNow +
    maxFilesPerTrigger=1 over 4 files); a fresh query on the same
    checkpoint finishes the rest. The parquet sink's transaction log +
    the dedup state in the checkpoint must give the single-run output
    exactly: one row per fingerprint, no replay duplicates, no gaps."""
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(src, exist_ok=True)
    batches = [
        [dict(ts=_ts(1), doc_id="a", text="alpha beta gamma delta"),
         dict(ts=_ts(2), doc_id="b", text="epsilon zeta eta theta")],
        [dict(ts=_ts(3), doc_id="c", text="alpha  beta gamma delta")],  # dup of a
        [dict(ts=_ts(4), doc_id="d", text="iota kappa lambda mu")],
        [dict(ts=_ts(5), doc_id="e", text="epsilon zeta  eta theta")],  # dup of b
    ]
    for rows in batches:
        spark.createDataFrame([Row(**r) for r in rows], SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    def _start():
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        return (
            dedup_stream_within_watermark(stream, delay="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = _start()
    # kill after the first committed micro-batch
    import time

    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(120)
    n_before = len(spark.read.parquet(out).collect())
    if n_before >= 3:  # full output is 3 rows (a, b, d)
        import pytest

        pytest.skip("stream finished before stop(); interruption not exercised")

    q2 = _start()
    q2.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in got) == ["a", "b", "d"]
    assert len({r["fingerprint"] for r in got}) == 3
