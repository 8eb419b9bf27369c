"""Unit tests for the scalar function library — golden pairs taken from the
reference's domain (SURVEY.md §5.2; normalize_text at
/root/reference/scrapper.py:20-26, report key at :51)."""

import datetime
import decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.functions import (
    map_decode,
    normalize_text_col,
    normalize_text_nfkd,
    normalize_text_py,
    pack_report_ts,
    svg_basename,
    unpack_report_ts,
    word_shingles,
)
from cdmx_airquality_etl_spark.functions.sql import quote_str, sql_literal
from cdmx_airquality_etl_spark.schemas import MONTH_MAP

GOLDEN = [
    ("Álvaro Obregón", "alvaro_obregon"),
    ("Calidad del aire", "calidad_del_aire"),
    ("Gustavo A. Madero", "gustavo_a._madero"),
    ("MIÉRCOLES", "miercoles"),
    ("Cuajimalpa", "cuajimalpa"),
    ("  padded  ", "padded"),
    (None, None),
]


def test_normalize_text_py_golden():
    for raw, expected in GOLDEN:
        if raw is None:
            assert normalize_text_py(raw) is None
        else:
            # scalar version replaces single spaces (reference semantics);
            # trim handled by callers
            assert normalize_text_py(raw.strip()) == expected


def test_normalize_col_and_nfkd_udf_agree(spark):
    df = spark.createDataFrame([Row(s=r) for r, _ in GOLDEN if r is not None])
    out = df.select(
        F.expr(normalize_text_col("s")).alias("native"),
        normalize_text_nfkd(F.trim(F.col("s"))).alias("nfkd"),
    ).collect()
    for row in out:
        assert row["native"] == row["nfkd"]


def test_report_ts_pack_unpack(spark):
    df = spark.createDataFrame(
        [Row(ts="2025-05-23 14:07:00")]
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    packed = df.select(pack_report_ts(F.col("ts")).alias("rts"))
    assert packed.collect()[0]["rts"] == 2025052314  # scrapper.py:51 semantics
    parts = packed.select(
        *[v.alias(k) for k, v in unpack_report_ts(F.col("rts")).items()]
    ).collect()[0]
    assert (parts["year_num"], parts["month_num"], parts["month_day_num"],
            parts["hour_num"]) == (2025, 5, 23, 14)


def test_svg_basename(spark):
    df = spark.createDataFrame(
        [Row(src="https://x/y/buena.svg"), Row(src="no-match"), Row(src="a/muy_mala.svg")]
    )
    vals = [r[0] for r in df.select(F.expr(svg_basename("src"))).collect()]
    assert vals == ["buena", "", "muy_mala"]  # scrapper.py:101-102


def test_month_map_decode(spark):
    df = spark.createDataFrame([Row(m="mayo"), Row(m="enero"), Row(m="nope")])
    vals = [r[0] for r in df.select(F.expr(map_decode("m", MONTH_MAP))).collect()]
    assert vals == [5, 1, None]  # config.yaml:5-17


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(t="a b c d"), Row(t="x y"), Row(t="solo")])
    vals = [r[0] for r in df.select(word_shingles(F.col("t"), 3)).collect()]
    assert vals[0] == ["a b c", "b c d"]
    assert vals[1] == ["x y"]  # shorter than k → single bounded shingle
    assert vals[2] == ["solo"]


def test_quote_str_round_trips(spark):
    # Spark unescapes backslash sequences inside SQL string literals
    tricky = ["plain", "it's", "back\\slash", "\\d+ and \\'", "%_\\%\\_", "ñ é", "\\u0041"]
    got = spark.sql(
        "SELECT " + ", ".join(f"{quote_str(v)} AS c{i}" for i, v in enumerate(tricky))
    ).first()
    assert list(got) == tricky


@pytest.mark.parametrize(
    "value",
    [None, True, 7, -(2**31), 2**40, 1.5, -0.25, decimal.Decimal("-12.50"), "a'b",
     datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 13, 5, 7, 123456),
     datetime.datetime(1969, 12, 31, 23, 59, 59, 5),
     datetime.datetime(2024, 2, 29, 13, 5, 7,
                       tzinfo=datetime.timezone(datetime.timedelta(hours=-6)))],
)
def test_sql_literal_types_like_lit(spark, value):
    # same value and type as F.lit, so text and Column plans agree
    row = spark.range(1).select(
        F.expr(sql_literal(value)).alias("sql"), F.lit(value).alias("lit"))
    assert row.schema["sql"].dataType == row.schema["lit"].dataType
    got = row.first()
    assert got["sql"] == got["lit"]


def test_sql_literal_follows_a_preferred_timestamp_ntz(spark):
    # a naive datetime is a wall-clock TIMESTAMP_NTZ when the session asks
    value = datetime.datetime(2024, 2, 29, 13, 5, 7, 123456)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        row = spark.range(1).select(
            F.expr(sql_literal(value)).alias("sql"), F.lit(value).alias("lit"))
        assert row.schema["sql"].dataType == row.schema["lit"].dataType
        got = row.first()
    finally:
        spark.conf.unset("spark.sql.timestampType")
    assert got["sql"] == got["lit"] == value
