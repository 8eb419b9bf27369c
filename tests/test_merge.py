"""Merge-semantics tests per SURVEY.md §5.3 / FIXTURES.md §1.6: re-ingesting
the same snapshot leaves values equal but nupdates+1; new keys insert with
nupdates=1; changed values overwrite; NULLs store as NULL
(/root/reference/scrapper.py:197-212 semantics)."""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdmx_airquality_etl_spark.plans.merge import (
    build_merge_into_sql,
    collapse_to_key_grain,
    merge_into_parquet,
    merge_upsert,
)


def _snapshot(spark, rows):
    return spark.createDataFrame(
        [Row(report_ts=r[0], clave_str=r[1], calidad=r[2]) for r in rows],
        "report_ts long, clave_str string, calidad string",
    )


KEYS = ["report_ts", "clave_str"]


def test_merge_insert_then_rescrape_bumps_counter(spark):
    base = _snapshot(spark, [(2025052314, "UIZ", "buena"), (2025052314, "MER", "mala")])
    t1 = merge_upsert(base.limit(0), base, KEYS, counter_col="nupdates")
    assert {r["nupdates"] for r in t1.collect()} == {1}

    # same snapshot again → values equal, counter bumped exactly once
    t2 = merge_upsert(t1, base, KEYS, counter_col="nupdates")
    rows = {(r["report_ts"], r["clave_str"]): r for r in t2.collect()}
    assert len(rows) == 2
    assert all(r["nupdates"] == 2 for r in rows.values())
    assert rows[(2025052314, "UIZ")]["calidad"] == "buena"


def test_merge_overwrite_insert_and_null(spark):
    target = merge_upsert(
        _snapshot(spark, []).limit(0),
        _snapshot(spark, [(1, "UIZ", "buena"), (1, "MER", "mala")]),
        KEYS,
        counter_col="nupdates",
    )
    source = _snapshot(
        spark,
        [(1, "UIZ", "aceptable"),  # changed value → overwrite
         (1, "PED", "buena"),      # new key → insert
         (1, "MER", None)],        # NULL → stored as NULL (scrapper.py:212)
    )
    merged = merge_upsert(target, source, KEYS, counter_col="nupdates")
    rows = {(r["report_ts"], r["clave_str"]): r for r in merged.collect()}
    assert rows[(1, "UIZ")]["calidad"] == "aceptable"
    assert rows[(1, "UIZ")]["nupdates"] == 2
    assert rows[(1, "PED")]["calidad"] == "buena"
    assert rows[(1, "PED")]["nupdates"] == 1
    assert rows[(1, "MER")]["calidad"] is None
    assert rows[(1, "MER")]["nupdates"] == 2


def test_merge_idempotent_under_duplicated_batch(spark):
    """A duplicated row in the batch (task retry shape) must not double-bump —
    SURVEY.md §7 counter-idempotency."""
    target = merge_upsert(
        _snapshot(spark, []).limit(0),
        _snapshot(spark, [(1, "UIZ", "buena")]),
        KEYS,
        counter_col="nupdates",
    )
    dup_batch = _snapshot(spark, [(1, "UIZ", "mala"), (1, "UIZ", "mala")])
    merged = merge_upsert(
        target, collapse_to_key_grain(dup_batch, KEYS), KEYS, counter_col="nupdates"
    )
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0]["nupdates"] == 2


def test_collapse_to_key_grain(spark):
    df = _snapshot(spark, [(1, "UIZ", "a"), (1, "UIZ", "b"), (2, "UIZ", "c")])
    out = collapse_to_key_grain(df, KEYS)
    assert out.count() == 2


def test_merge_into_parquet_roundtrip(spark, tmp_path):
    path = os.path.join(str(tmp_path), "cdmx")
    b1 = _snapshot(spark, [(2025052314, "UIZ", "buena")])
    merge_into_parquet(spark, b1, path, KEYS, counter_col="nupdates")
    b2 = _snapshot(spark, [(2025052314, "UIZ", "mala"), (2025052315, "UIZ", "buena")])
    merge_into_parquet(spark, b2, path, KEYS, counter_col="nupdates")

    out = {(r["report_ts"], r["clave_str"]): r
           for r in spark.read.parquet(path).collect()}
    assert out[(2025052314, "UIZ")]["calidad"] == "mala"
    assert out[(2025052314, "UIZ")]["nupdates"] == 2
    assert out[(2025052315, "UIZ")]["nupdates"] == 1


def test_merge_into_parquet_partition_scoped(spark, tmp_path):
    """Partitioned merge rewrites only touched partitions."""
    path = os.path.join(str(tmp_path), "part_tbl")
    b1 = _snapshot(spark, [(2024010100, "UIZ", "buena"), (2025010100, "MER", "mala")])
    b1 = b1.withColumn("year_num", (F.col("report_ts") / 1000000).cast("int"))
    merge_into_parquet(spark, b1, path, KEYS, counter_col="nupdates",
                       partition_col="year_num")
    # batch touching only 2025
    b2 = _snapshot(spark, [(2025010100, "MER", "regular")])
    b2 = b2.withColumn("year_num", (F.col("report_ts") / 1000000).cast("int"))
    merge_into_parquet(spark, b2, path, KEYS, counter_col="nupdates",
                       partition_col="year_num")
    out = {(r["report_ts"], r["clave_str"]): r
           for r in spark.read.parquet(path).collect()}
    assert out[(2024010100, "UIZ")]["nupdates"] == 1  # untouched partition intact
    assert out[(2025010100, "MER")]["calidad"] == "regular"
    assert out[(2025010100, "MER")]["nupdates"] == 2


def test_merge_partition_alignment_probe(spark, tmp_path):
    """A key reappearing under a different partition value violates the
    functional-dependency contract: the opt-in probe must fail loudly
    (silently it would duplicate the key with a reset counter)."""
    import pytest

    path = os.path.join(str(tmp_path), "mis_tbl")
    b1 = _snapshot(spark, [(2024010100, "UIZ", "buena")])
    b1 = b1.withColumn("year_num", F.lit(2024))
    merge_into_parquet(spark, b1, path, KEYS, counter_col="nupdates",
                       partition_col="year_num")
    # same merge key, different partition value
    b2 = _snapshot(spark, [(2024010100, "UIZ", "mala")])
    b2 = b2.withColumn("year_num", F.lit(2025))
    with pytest.raises(ValueError, match="functionally dependent"):
        merge_into_parquet(spark, b2, path, KEYS, counter_col="nupdates",
                           partition_col="year_num",
                           check_partition_alignment=True)
    # aligned batch passes the probe
    b3 = _snapshot(spark, [(2024010100, "UIZ", "regular")])
    b3 = b3.withColumn("year_num", F.lit(2024))
    merge_into_parquet(spark, b3, path, KEYS, counter_col="nupdates",
                       partition_col="year_num",
                       check_partition_alignment=True)
    out = {r["clave_str"]: r for r in spark.read.parquet(path).collect()}
    assert out["UIZ"]["calidad"] == "regular" and out["UIZ"]["nupdates"] == 2


def _keyed(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, year_num int")


def _files(path):
    """Every data file of a table: path → (bytes, rows)."""
    import glob

    import pyarrow.parquet as pq

    return {
        p: (os.path.getsize(p), pq.ParquetFile(p).metadata.num_rows)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


@pytest.mark.parametrize("partitions", [None, [None]])
def test_merge_into_null_partition_keeps_its_rows(spark, tmp_path, partitions):
    """A NULL partition value touches the NULL partition: its target rows
    are merged, not dropped by the dynamic overwrite that replaces it."""
    path = os.path.join(str(tmp_path), "null_part")
    merge_into_parquet(
        spark, _keyed(spark, [(1, "a", None), (2, "b", None), (3, "c", 2024)]),
        path, ["k"], counter_col="nupdates", partition_col="year_num")
    given = {} if partitions is None else {"partitions": partitions}
    merge_into_parquet(
        spark, _keyed(spark, [(1, "z", None)]), path, ["k"],
        counter_col="nupdates", partition_col="year_num", **given)
    out = {r["k"]: (r["v"], r["nupdates"], r["year_num"])
           for r in spark.read.parquet(path).collect()}
    assert out == {1: ("z", 2, None), 2: ("b", 1, None), 3: ("c", 1, 2024)}


def test_partitions_that_miss_a_batch_value_fail_before_commit(spark, tmp_path):
    path = os.path.join(str(tmp_path), "guarded")
    merge_into_parquet(
        spark, _keyed(spark, [(1, "a", 2024), (2, "b", 2025)]), path, ["k"],
        counter_col="nupdates", partition_col="year_num")
    files = _files(path)
    rows = sorted(spark.read.parquet(path).collect())
    batch = _keyed(spark, [(1, "x", 2024), (2, "y", 2025), (3, "z", 2026)])
    with pytest.raises(Exception, match="year_num=2025 is outside the given partitions"):
        merge_into_parquet(spark, batch, path, ["k"], counter_col="nupdates",
                           partition_col="year_num", partitions=[2024, 2026])
    assert _files(path) == files
    assert sorted(spark.read.parquet(path).collect()) == rows
    # a superset only rewrites the extra partition unchanged
    merge_into_parquet(spark, batch, path, ["k"], counter_col="nupdates",
                       partition_col="year_num", partitions=[2023, 2024, 2025, 2026])
    out = {r["k"]: (r["v"], r["nupdates"]) for r in spark.read.parquet(path).collect()}
    assert out == {1: ("x", 2), 2: ("y", 2), 3: ("z", 1)}


def test_backtick_in_a_column_name_is_quoted(spark):
    # identifiers in the merge SQL text double an embedded backtick
    weird = "we`ird"
    schema = f"`k``ey` int, `{weird.replace('`', '``')}` string, nupdates int"
    target = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema)
    source = spark.createDataFrame([(2, "B", 5), (3, "c", 5)], schema).drop("nupdates")
    out = merge_upsert(target, collapse_to_key_grain(source, ["k`ey"]), ["k`ey"],
                       counter_col="nupdates")
    assert out.columns == ["k`ey", weird, "nupdates"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a", 1), (2, "B", 2), (3, "c", 1)]

    sql = build_merge_into_sql("tgt", "src", ["k`ey"], [weird], "nupdates")
    assert "ON t.`k``ey` = s.`k``ey`" in sql
    assert "t.`we``ird` = s.`we``ird`" in sql
    # the statement parses; before, `we`ird` closed the quote early
    spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)


@pytest.mark.parametrize("given", [False, True])
def test_merge_into_a_timestamp_partition_column(spark, tmp_path, given):
    # the touched partitions render as TIMESTAMP literals, found or given
    path = os.path.join(str(tmp_path), "ts_part")
    t1, t2 = datetime.datetime(2024, 2, 29, 13), datetime.datetime(2025, 1, 1, 0, 30)

    def batch(rows):
        return spark.createDataFrame(rows, "k long, v string, ts timestamp")

    merge_into_parquet(spark, batch([(1, "a", t1), (2, "b", t2)]), path, ["k"],
                       counter_col="nupdates", partition_col="ts")
    extra = {"partitions": [t1]} if given else {}
    merge_into_parquet(spark, batch([(1, "z", t1), (3, "c", t1)]), path, ["k"],
                       counter_col="nupdates", partition_col="ts", **extra)
    out = {r["k"]: (r["v"], r["nupdates"], r["ts"])
           for r in spark.read.parquet(path).collect()}
    assert out == {1: ("z", 2, t1), 2: ("b", 1, t2), 3: ("c", 1, t1)}


@pytest.mark.parametrize("partition_col", [None, "year_num"])
def test_both_branches_read_the_target_with_the_given_schema(
        spark, tmp_path, partition_col):
    path = os.path.join(str(tmp_path), "declared")
    # `note` is declared but in no file: only a read with the schema sees it
    schema = StructType.fromDDL(
        "k long, v string, year_num int, nupdates int, note string")
    for v in ("a", "b"):
        merge_into_parquet(spark, _keyed(spark, [(1, v, 2024)]), path, ["k"],
                           counter_col="nupdates", partition_col=partition_col,
                           schema=schema)
    rows = spark.read.parquet(path).collect()
    assert [(r["k"], r["v"], r["nupdates"], r["note"]) for r in rows] == [
        (1, "b", 2, None)]


def test_a_schema_without_a_merged_column_is_refused(spark, tmp_path):
    # read through such a schema, the stored counter would restart at 1
    path = os.path.join(str(tmp_path), "undeclared")
    batch = _keyed(spark, [(1, "a", 2024)])
    merge_into_parquet(spark, batch, path, ["k"], counter_col="n_runs",
                       partition_col="year_num")
    schema = StructType.fromDDL("k long, v string, year_num int, nupdates int")
    with pytest.raises(ValueError, match=r"lacks column\(s\) \['n_runs'\]"):
        merge_into_parquet(spark, batch, path, ["k"], counter_col="n_runs",
                           partition_col="year_num", schema=schema)
    assert [r["n_runs"] for r in spark.read.parquet(path).collect()] == [1]
