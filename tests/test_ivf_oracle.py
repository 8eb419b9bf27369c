"""q_similarity_ann_ivf is oracle-checked end to end because training is a
pure deterministic function of the corpus. That promotion rests on two
parity claims this file pins:

1. the pure-Python ``xxhash64_long`` twin is bit-for-bit Spark's
   ``xxhash64(BIGINT)`` (so the oracle generator reproduces the hash-stride
   training sample exactly once the corpus exceeds _IVF_SAMPLE_CAP), and
2. the rendered DuckDB SQL reproduces the Spark query's full result —
   centroids, probe cells, cosine, ordering — on the test corpus.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.similarity import (
    _ivf_plan,
    ivf_oracle_sql,
    ivfpq_oracle_sql,
    pq_oracle_sql,
    xxhash64_long,
)
from cdmx_airquality_etl_spark.registry import QUERIES


def test_xxhash64_long_parity(spark):
    vals = [0, 1, -1, 42, -42, 2**31, -(2**31), 2**63 - 1, -(2**63)] + list(
        range(-50, 500, 7)
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["h"]
        for r in df.select("v", F.xxhash64("v").alias("h")).collect()
    }
    for v in vals:
        assert got[v] == xxhash64_long(v), f"xxhash64 mismatch for {v}"


def test_stride_sample_parity(spark):
    """The Spark-side pmod(xxhash64(id), stride)==0 sample and the oracle
    generator's pure-Python mask select the SAME ids for every stride."""
    ids = list(range(200))
    df = spark.createDataFrame([(v,) for v in ids], "vec_id long")
    for stride in (2, 3, 7, 13):
        spark_ids = {
            r[0]
            for r in df.filter(
                F.pmod(F.xxhash64(F.col("vec_id")), F.lit(stride)) == 0
            ).collect()
        }
        py_ids = {v for v in ids if xxhash64_long(v) % stride == 0}
        assert spark_ids == py_ids, f"stride {stride} sample diverges"


def test_ivf_plan_shared_sizing():
    k, stride = _ivf_plan(500)
    assert k == 23 and stride == 1
    k, stride = _ivf_plan(200_000)
    assert stride == 4  # cap kicks in only beyond _IVF_SAMPLE_CAP


def test_ivf_oracle_matches_spark(spark, sf_dir):
    sdf = QUERIES["q_similarity_ann_ivf"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    ddf = con.sql(ivf_oracle_sql(sf_dir)).df()
    assert list(sdf.columns) == list(ddf.columns)
    assert len(sdf) == len(ddf)
    for (_, a), (_, b) in zip(sdf.iterrows(), ddf.iterrows()):
        assert int(a["vec_id"]) == int(b["vec_id"])
        assert float(a["cosine_sim"]) == float(b["cosine_sim"])  # bitwise


def test_ivf_query_vector_guard(spark, sf_dir, tmp_path):
    """vec_id 0 absent → clear error, not IndexError."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    out = str(tmp_path / "noq")
    emb.write.parquet(f"{out}/embeddings.parquet")
    with pytest.raises(ValueError, match="vec_id=0"):
        QUERIES["q_similarity_ann_ivf"](spark, out)


def test_ann_family_fails_loudly_without_query_or_corpus(spark, sf_dir, tmp_path):
    """Every trained ANN path — the four queries and the three oracle
    factories — raises the same clear ValueError, not an IndexError or
    numpy AxisError, when vec_id 0 is absent and when every vector is
    degenerate (nothing survives the guard to train on)."""
    noq, zero = tmp_path / "noq", tmp_path / "zero"
    noq.mkdir()
    zero.mkdir()
    # single parquet files (both engines read them), same schema as sf_dir's
    duckdb.sql(
        f"COPY (SELECT * FROM '{sf_dir}/embeddings.parquet' WHERE vec_id <> 0) "
        f"TO '{noq}/embeddings.parquet' (FORMAT PARQUET)"
    )
    duckdb.sql(
        "COPY (SELECT range AS vec_id, "
        "CAST(list_transform(range(64), x -> 0.0) AS FLOAT[]) AS embedding, "
        "CAST(range % 3 AS INTEGER) AS label FROM range(20)) "
        f"TO '{zero}/embeddings.parquet' (FORMAT PARQUET)"
    )

    paths = {
        name: (lambda d, q=QUERIES[name]: q(spark, d))
        for name in (
            "q_similarity_ann_ivf",
            "q_similarity_ann_pq",
            "q_similarity_ann_ivfpq",
            "q_similarity_ann_ivfpq_probe",
        )
    }
    paths.update(
        ivf_oracle_sql=ivf_oracle_sql,
        pq_oracle_sql=pq_oracle_sql,
        ivfpq_oracle_sql=ivfpq_oracle_sql,
    )
    for corpus, msg in ((str(noq), "vec_id=0"), (str(zero), "no usable embeddings")):
        for name, run in paths.items():
            try:
                run(corpus)
            except ValueError as e:
                assert msg in str(e), f"{name}: {e}"
            else:
                pytest.fail(f"{name} did not raise on {corpus}")


def test_oracle_factories_read_spark_written_corpus(spark, sf_dir, tmp_path):
    """Spark writes a table as a directory of part files. Every oracle
    factory reads the corpus through DuckDB and must accept that layout,
    rendering the same oracle as for the single-file testdata."""
    from cdmx_airquality_etl_spark.registry import ORACLE_FACTORIES
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    for t in ("embeddings", "documents"):
        load_table(spark, sf_dir, t).repartition(3).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
    assert len(ORACLE_FACTORIES) >= 5
    for name, factory in sorted(ORACLE_FACTORIES.items()):
        assert factory(str(tmp_path)) == factory(sf_dir), name
