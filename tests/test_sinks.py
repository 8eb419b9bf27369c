"""Sink tests: SQLite upsert parity with the reference's load semantics
(insert, conflict-update, counter bump, transaction), CSV/JSON round-trips
with declared schemas, and a stream enriched by a static broadcast dim."""

import sqlite3

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cdmx_airquality_etl_spark.sinks import (
    read_csv,
    read_jsonl,
    upsert_to_sqlite,
    write_csv,
    write_jsonl,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, nupdates long")


def test_sqlite_upsert_semantics(spark, tmp_path):
    db = str(tmp_path / "aq.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE t (k INTEGER, v TEXT, nupdates INTEGER DEFAULT 1, PRIMARY KEY (k))"
    )
    con.commit()
    con.close()

    upsert_to_sqlite(_df(spark, [Row(k=1, v="a", nupdates=1), Row(k=2, v="b", nupdates=1)]),
                     db, "t", ["k"])
    # re-run: same keys → values overwritten, counter bumped (scrapper.py:197-199)
    upsert_to_sqlite(_df(spark, [Row(k=1, v="a2", nupdates=1), Row(k=3, v="c", nupdates=1)]),
                     db, "t", ["k"])

    got = dict(
        (k, (v, n))
        for k, v, n in sqlite3.connect(db).execute("SELECT k, v, nupdates FROM t")
    )
    assert got == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}


def test_sqlite_upsert_quotes_identifiers_holding_a_double_quote(spark, tmp_path):
    # a `"` inside a table, key or column name must be doubled in the SQL
    schema = StructType(
        [
            StructField('k"ey', LongType()),
            StructField('we"ird', StringType()),
            StructField("nupdates", LongType()),
        ]
    )
    db = str(tmp_path / "aq.db")
    con = sqlite3.connect(db)
    con.execute(
        'CREATE TABLE "t""q" ("k""ey" INTEGER PRIMARY KEY, "we""ird" TEXT, '
        "nupdates INTEGER DEFAULT 1)"
    )
    con.commit()
    con.close()

    for v in ("a", "b"):
        df = spark.createDataFrame([(1, v, 1)], schema)
        assert upsert_to_sqlite(df, db, 't"q', ['k"ey']) == 1

    got = sqlite3.connect(db).execute('SELECT * FROM "t""q"').fetchall()
    assert got == [(1, "b", 2)]


def test_sqlite_sink_refuses_large_frames(spark, sf_dir, tmp_path):
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError, match="driver-side sink cap"):
        upsert_to_sqlite(li, str(tmp_path / "x.db"), "t", ["l_orderkey"], max_rows=10)


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b=None)], "a long, b string"
    )
    write_csv(df, str(tmp_path / "c"))
    write_jsonl(df, str(tmp_path / "j"))
    back_c = read_csv(spark, str(tmp_path / "c"), "a long, b string")
    back_j = read_jsonl(spark, str(tmp_path / "j"), "a long, b string")
    want = sorted((r["a"], r["b"]) for r in df.collect())
    assert sorted((r["a"], r["b"]) for r in back_c.collect()) == want
    assert sorted((r["a"], r["b"]) for r in back_j.collect()) == want


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    # a micro-batch stream joined to a static dim: the join is planned per
    # batch with the dim broadcast — the standard streaming enrichment shape
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=2, v=20.0), Row(k=9, v=90.0)], "k long, v double"
    ).coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(
        [Row(k=1, name="one"), Row(k=2, name="two")], "k long, name string"
    )
    stream = spark.readStream.schema("k long, v double").parquet(src)
    enriched = stream.join(F.broadcast(dim), "k", "left")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r["k"]: r["name"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "one", 2: "two", 9: None}


def test_orc_roundtrip_tables(spark, sf_dir, tmp_path):
    from cdmx_airquality_etl_spark.sinks import read_orc, write_orc
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    # orders exercises dates + doubles; documents exercises nullable text
    for name, key in (("orders", "o_orderkey"), ("documents", "doc_id")):
        df = load_table(spark, sf_dir, name)
        path = str(tmp_path / f"orc_{name}")
        write_orc(df, path)
        back = read_orc(spark, path, df.schema)
        assert back.schema == df.schema
        assert back.count() == df.count()
        # exact content equality both directions
        assert df.exceptAll(back).count() == 0
        assert back.exceptAll(df).count() == 0


def test_orc_read_pushes_down_filters(spark, sf_dir, tmp_path):
    from cdmx_airquality_etl_spark.sinks import read_orc, write_orc
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    df = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orc_push")
    write_orc(df, path)
    plan = (
        read_orc(spark, path, df.schema)
        .filter(F.col("o_orderkey") == 1)
        .select("o_orderkey", "o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)" in plan
    assert "o_custkey" not in plan.split("ReadSchema")[1][:200]  # pruned
