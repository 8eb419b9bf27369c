"""Streaming IVF index maintenance (streaming/index_maintenance.py):
streamed cell assignments must equal the batch assignment expression,
appends must accumulate cell-partitioned, and re-runs must be exactly-once
(checkpointed)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from cdmx_airquality_etl_spark.operators.similarity import (
    _nonzero,
    ivf_cell_col,
    train_ivf_centroids,
)
from cdmx_airquality_etl_spark.sources.parquet import load_table
from cdmx_airquality_etl_spark.streaming.index_maintenance import (
    assign_cells,
    ivf_ingest_stream,
)

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


def _centroids(spark, sf_dir):
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    return train_ivf_centroids(emb)


def test_streamed_assignment_equals_batch(spark, sf_dir, tmp_path):
    C = _centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # two "days" of arrivals
    emb.filter(F.col("vec_id") < 50).write.mode("append").parquet(src)
    counts1 = ivf_ingest_stream(spark, src, EMB_SCHEMA, idx, C, ckpt)
    emb.filter(F.col("vec_id") >= 50).write.mode("append").parquet(src)
    counts2 = ivf_ingest_stream(spark, src, EMB_SCHEMA, idx, C, ckpt)
    assert sum(counts1.values()) + sum(counts2.values()) == emb.count()

    stored = spark.read.parquet(idx)
    want = assign_cells(emb, C)
    got = {r["vec_id"]: r["cell"] for r in stored.collect()}
    expect = {r["vec_id"]: r["cell"] for r in want.collect()}
    assert got == expect, "streamed cells must equal the batch expression"


def test_ingest_is_exactly_once_on_rerun(spark, sf_dir, tmp_path):
    C = _centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    emb.limit(30).write.mode("append").parquet(src)
    ivf_ingest_stream(spark, src, EMB_SCHEMA, idx, C, ckpt)
    n1 = spark.read.parquet(idx).count()
    # re-run with NO new files: checkpoint must make this a no-op
    counts = ivf_ingest_stream(spark, src, EMB_SCHEMA, idx, C, ckpt)
    assert counts == {}
    assert spark.read.parquet(idx).count() == n1


def test_index_is_cell_partitioned(spark, sf_dir, tmp_path):
    C = _centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    os.makedirs(src)
    emb.write.mode("append").parquet(src)
    ivf_ingest_stream(
        spark, src, EMB_SCHEMA, idx, C, str(tmp_path / "ckpt")
    )
    cell_dirs = [d for d in os.listdir(idx) if d.startswith("cell=")]
    assert len(cell_dirs) >= 2, "appends must be physically cell-partitioned"
    # a probe-cell read touches only its partition directories
    one_cell = int(cell_dirs[0].split("=")[1])
    pruned = spark.read.parquet(idx).filter(F.col("cell") == one_cell)
    assert pruned.count() > 0


def test_timed_out_ingest_stops_and_raises(spark, sf_dir, tmp_path, monkeypatch):
    """A run that outlives its awaitTermination timeout must not return
    partial counts while the stream keeps running: it stops and raises."""
    from pyspark.sql.streaming import StreamingQuery

    C = _centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "src")
    emb.limit(20).write.parquet(src)
    stopped = []
    real_stop = StreamingQuery.stop

    def stop(self):
        stopped.append(self.id)
        real_stop(self)

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    monkeypatch.setattr(StreamingQuery, "stop", stop)
    with pytest.raises(TimeoutError, match="did not finish"):
        ivf_ingest_stream(
            spark, src, EMB_SCHEMA, str(tmp_path / "index"), C, str(tmp_path / "ckpt")
        )
    assert len(stopped) == 1
    assert all(q.id != stopped[0] for q in spark.streams.active)
