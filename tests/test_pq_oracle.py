"""q_similarity_ann_pq parity + quality pins.

PQ joins IVF in the oracle-checked-ANN club because its training is a pure
deterministic function of the corpus (stride sample → strided init → fixed
L2 k-means iterations, no RNG). This file pins:

1. the rendered DuckDB SQL reproduces the Spark query's full result
   (codes, ADC scores, shortlist, exact re-rank) bitwise on the corpus;
2. DuckDB double literals round-trip exactly (the e0-suffix rule in
   _duck_double_lit — a bare 17-digit decimal literal double-rounds
   through DECIMAL and lands an ulp off);
3. the ADC shortlist actually finds most of the exact top-k (quality, not
   just determinism).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.similarity import (
    _duck_double_lit,
    _pq_train,
    pq_oracle_sql,
)
from cdmx_airquality_etl_spark.registry import QUERIES


def test_duck_double_lit_roundtrips_exactly():
    vals = [
        0.049179140588442595,  # the ulp-off repro from the PQ ADC sums
        0.14787519213854602,
        1.2345678901234567e-05,
        -1e300,
        1e-300,
        0.0,
        1.0,
        -2.5,
    ]
    con = duckdb.connect()
    row = con.sql(
        "SELECT "
        + ",".join(f"{_duck_double_lit(v)} AS c{i}" for i, v in enumerate(vals))
    ).fetchone()
    for got, want in zip(row, vals):
        assert got == want, f"{want!r} parsed as {got!r}"
    # and the failure mode being defended against actually exists
    off = con.sql("SELECT CAST(0.049179140588442595 AS DOUBLE)").fetchone()[0]
    assert off != 0.049179140588442595, (
        "DuckDB decimal-literal double-rounding is gone — the e0 rule "
        "can be simplified"
    )


def test_pq_train_deterministic():
    rows = [[float((i * 7 + j) % 13) - 6.0 for j in range(64)] for i in range(80)]
    b1 = _pq_train(rows)
    b2 = _pq_train(rows)
    assert len(b1) == 4
    for m in range(4):
        assert b1[m].shape[1] == 16
        assert (b1[m] == b2[m]).all()


def test_pq_oracle_matches_spark(spark, sf_dir):
    sdf = QUERIES["q_similarity_ann_pq"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    ddf = con.sql(pq_oracle_sql(sf_dir)).df()
    assert list(sdf.columns) == list(ddf.columns)
    assert len(sdf) == len(ddf)
    for (_, a), (_, b) in zip(sdf.iterrows(), ddf.iterrows()):
        assert int(a["vec_id"]) == int(b["vec_id"])
        assert float(a["adc_dot"]) == float(b["adc_dot"])  # bitwise
        assert float(a["cosine_sim"]) == float(b["cosine_sim"])  # bitwise


def test_pq_shortlist_recall_vs_exact(spark, sf_dir):
    """ADC + re-rank must recover most of the exact top-10 (recall ≥ 0.5 on
    the test corpus) — determinism alone doesn't make an index useful."""
    approx = {
        r["vec_id"]
        for r in QUERIES["q_similarity_ann_pq"](spark, sf_dir).collect()
    }
    exact = {
        r["vec_id"]
        for r in QUERIES["q_similarity_topk"](spark, sf_dir).collect()
    }
    assert len(approx & exact) >= len(exact) // 2


def test_pq_query_vector_guard(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    out = str(tmp_path / "noq")
    emb.write.parquet(f"{out}/embeddings.parquet")
    with pytest.raises(ValueError, match="vec_id=0"):
        QUERIES["q_similarity_ann_pq"](spark, out)


def test_ivfpq_shortlist_recall_vs_exact(spark, sf_dir):
    """The composed index must still recover a useful fraction of the
    exact top-10 — both pruning stages (cells, codes) lose recall, so the
    floor is lower than PQ-alone but must stay material."""
    approx = {
        r["vec_id"]
        for r in QUERIES["q_similarity_ann_ivfpq"](spark, sf_dir).collect()
    }
    exact = {
        r["vec_id"]
        for r in QUERIES["q_similarity_topk"](spark, sf_dir).collect()
    }
    assert len(approx) == 10
    assert len(approx & exact) >= 3


def test_ivfpq_oracle_matches_spark(spark, sf_dir):
    import duckdb

    from cdmx_airquality_etl_spark.operators.similarity import ivfpq_oracle_sql

    sdf = QUERIES["q_similarity_ann_ivfpq"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    ddf = con.sql(ivfpq_oracle_sql(sf_dir)).df()
    assert list(sdf.columns) == list(ddf.columns)
    assert len(sdf) == len(ddf)
    for (_, a), (_, b) in zip(sdf.iterrows(), ddf.iterrows()):
        assert int(a["vec_id"]) == int(b["vec_id"])
        assert float(a["adc_dot"]) == float(b["adc_dot"])
        assert float(a["cosine_sim"]) == float(b["cosine_sim"])


def test_ivfpq_probe_matches_one_shot_and_oracle(spark, sf_dir, tmp_path, monkeypatch):
    """The probe answers from the persisted index: its rows must equal the
    one-shot q_similarity_ann_ivfpq rows and the shared DuckDB oracle's,
    a second call must reuse the index untouched, and a newer source
    parquet must force a rebuild."""
    import os
    import shutil

    from cdmx_airquality_etl_spark.operators.similarity import (
        ensure_ivfpq_index,
        ivfpq_oracle_sql,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = str(corpus / "embeddings.parquet")
    shutil.copy(f"{sf_dir}/embeddings.parquet", src)
    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path / "index"))

    def rows(df):
        return [tuple(r) for r in df.collect()]

    probe = rows(QUERIES["q_similarity_ann_ivfpq_probe"](spark, str(corpus)))
    one_shot = rows(QUERIES["q_similarity_ann_ivfpq"](spark, str(corpus)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{src}'")
    oracle = [tuple(r) for r in con.sql(ivfpq_oracle_sql(str(corpus))).fetchall()]
    assert len(probe) == 10
    assert probe == one_shot == oracle

    meta = os.path.join(ensure_ivfpq_index(spark, str(corpus)), "meta.json")
    before = os.stat(meta).st_mtime_ns
    assert rows(QUERIES["q_similarity_ann_ivfpq_probe"](spark, str(corpus))) == probe
    assert os.stat(meta).st_mtime_ns == before, "fresh index must be reused"

    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert rows(QUERIES["q_similarity_ann_ivfpq_probe"](spark, str(corpus))) == probe
    assert os.stat(meta).st_mtime_ns != before, "newer source must rebuild"
