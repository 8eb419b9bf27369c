"""Maintenance-pass tests: compaction must shrink file counts without
changing data; clustered rewrite must give files disjoint key ranges (the
file-skipping property); incremental rollup must equal a from-scratch
recompute after any number of batches."""

import glob

from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.plans.maintenance import (
    cluster_rewrite,
    compact,
    table_stats,
)
from cdmx_airquality_etl_spark.plans.rollup import refresh_rollup
from cdmx_airquality_etl_spark.sources.parquet import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_compact_merges_small_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(40).write.parquet(path)  # simulate 40 tiny merge outputs
    assert table_stats(spark, path)["n_files"] == 40
    before = _rows(spark.read.parquet(path))

    res = compact(spark, path, target_file_bytes=1 << 30)
    assert res["rewritten"] is True
    assert res["after"]["n_files"] == 1
    assert _rows(spark.read.parquet(path)) == before
    # second pass is a no-op (idempotent maintenance)
    res2 = compact(spark, path, target_file_bytes=1 << 30)
    assert res2["rewritten"] is False


def test_cluster_rewrite_gives_disjoint_file_ranges(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(8).write.parquet(path)  # key ranges interleaved
    before = _rows(spark.read.parquet(path))

    cluster_rewrite(spark, path, ["o_orderkey"], n_files=4)
    assert _rows(spark.read.parquet(path)) == before

    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        mm = (
            spark.read.parquet(f)
            .agg(F.min("o_orderkey"), F.max("o_orderkey"))
            .first()
        )
        if mm[0] is not None:
            ranges.append((mm[0], mm[1]))
    ranges.sort()
    assert len(ranges) == 4
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint → min/max stats can skip whole files


def test_incremental_rollup_matches_recompute(spark, sf_dir, tmp_path):
    rollup_path = str(tmp_path / "rollup")
    li = load_table(spark, sf_dir, "lineitem")
    spec = {"l_extendedprice": ["sum", "min", "max"], "l_quantity": ["count", "sum"]}
    keys = ["l_returnflag", "l_linestatus"]

    b1 = li.filter(F.col("l_orderkey") % 3 == 0)
    b2 = li.filter(F.col("l_orderkey") % 3 == 1)
    b3 = li.filter(F.col("l_orderkey") % 3 == 2)
    for b in (b1, b2, b3):
        rolled = refresh_rollup(spark, b, rollup_path, keys, spec)

    from cdmx_airquality_etl_spark.plans.rollup import batch_partials

    scratch = batch_partials(li, keys, spec)
    assert _rows(rolled.select(*sorted(rolled.columns))) == _rows(
        scratch.select(*sorted(scratch.columns))
    )
    # derived AVG stays exact: sum/count at read time
    avg = rolled.select(
        (F.col("sum_l_quantity") / F.col("count_l_quantity")).alias("a")
    )
    assert avg.count() == rolled.count()


def test_zorder_rewrite_tightens_both_dimensions(spark, sf_dir, tmp_path):
    from cdmx_airquality_etl_spark.plans.maintenance import zorder_rewrite

    path = str(tmp_path / "tz")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", (F.col("o_orderkey") % 1000).alias("k2")
    )
    orders.repartition(8).write.parquet(path)
    before = _rows(spark.read.parquet(path))

    def bbox_area_sum(p):
        total = 0.0
        for f in glob.glob(f"{p}/*.parquet"):
            mm = (
                spark.read.parquet(f)
                .agg(F.min("o_custkey"), F.max("o_custkey"), F.min("k2"), F.max("k2"))
                .first()
            )
            if mm[0] is not None:
                total += (mm[1] - mm[0] + 1) * (mm[3] - mm[2] + 1)
        return total

    random_area = bbox_area_sum(path)
    zorder_rewrite(spark, path, "o_custkey", "k2", n_files=8)
    assert _rows(spark.read.parquet(path)) == before  # data unchanged
    z_area = bbox_area_sum(path)
    # z-clustered files must cover dramatically less of the 2-D key space
    # than the random layout (each random file spans ~the whole space)
    assert z_area < random_area * 0.5


def test_compact_preserves_partition_layout(spark, sf_dir, tmp_path):
    # a maintenance rewrite must never flatten the Hive layout the merge
    # writer created — partition pruning depends on it
    path = str(tmp_path / "tp")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "om", F.month("o_orderdate")
    )
    orders.repartition(4).write.partitionBy("om").parquet(path)
    import os

    before_dirs = {d for d in os.listdir(path) if d.startswith("om=")}
    assert len(before_dirs) == 12
    before = _rows(spark.read.parquet(path))

    res = compact(spark, path, target_file_bytes=1 << 30)
    assert res["rewritten"] is True
    after_dirs = {d for d in os.listdir(path) if d.startswith("om=")}
    assert after_dirs == before_dirs  # layout intact
    assert _rows(spark.read.parquet(path)) == before
    # pruning still works post-compaction
    one = spark.read.parquet(path).filter(F.col("om") == 3)
    assert one.count() == spark.read.parquet(f"{path}/om=3").count() > 0


def test_recover_and_vacuum_after_crashed_swap(spark, sf_dir, tmp_path):
    from cdmx_airquality_etl_spark.plans.maintenance import recover_table, vacuum

    path = str(tmp_path / "tcrash")
    load_table(spark, sf_dir, "nation").write.parquet(path)
    rows = _rows(spark.read.parquet(path))

    # simulate death between the two renames: table gone, __old_ survivor left
    import os

    os.rename(path, f"{path}__old_deadbeef")
    os.makedirs(f"{path}__tmp_feedface")  # and a leaked tmp dir

    # vacuum must NOT eat the survivor while the table is missing
    assert vacuum(path, max_age_seconds=0) == 1  # only the tmp dir goes
    assert os.path.exists(f"{path}__old_deadbeef")

    assert recover_table(path) is True
    assert _rows(spark.read.parquet(path)) == rows
    assert recover_table(path) is False  # idempotent no-op once healthy

    # healthy table → aged __old_ dirs are garbage
    os.makedirs(f"{path}__old_cafe")
    assert vacuum(path, max_age_seconds=0) == 1


def test_remote_schemes_are_rejected(spark, tmp_path):
    """The local-only pin (round 6): every maintenance entry point must
    fail loudly on object-store schemes — the atomic-rename M-TXN
    guarantee does not exist there — and still accept local paths."""
    import pytest as _pytest

    from cdmx_airquality_etl_spark.plans.maintenance import (
        partition_columns,
        recover_table,
        table_stats,
        vacuum,
    )

    from cdmx_airquality_etl_spark.plans.merge import merge_into_parquet

    batch = spark.createDataFrame([(1, 2)], "k long, v long")
    sc = spark.sparkContext
    sc.setJobGroup("remote-scheme-refusal", "must run no Spark job")
    try:
        for fn in (
            lambda p: table_stats(spark, p),
            partition_columns,
            recover_table,
            vacuum,
            lambda p: merge_into_parquet(spark, batch, p, ["k"]),
            lambda p: refresh_rollup(spark, batch, p, ["k"], {"v": ["sum"]}),
        ):
            with _pytest.raises(NotImplementedError, match="local-filesystem-only"):
                fn("s3a://bucket/table")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("remote-scheme-refusal") == []
    # file:// and plain paths remain accepted (guard only, no behavior change)
    d = tmp_path / "t"
    d.mkdir()
    assert table_stats(spark, str(d))["n_files"] == 0


def test_file_uri_paths_resolve_like_plain_paths(spark, sf_dir, tmp_path):
    """The round-7 ADVICE fix: a file:// URI must behave exactly like the
    bare path everywhere the module touches the os layer — previously
    table_stats('file:///x') silently reported 0 files and the rename
    swap raised mid-window."""
    from cdmx_airquality_etl_spark.plans.maintenance import _local_path, compact

    path = str(tmp_path / "t")
    load_table(spark, sf_dir, "nation").repartition(4).write.parquet(path)

    for uri in (f"file://{path}", f"file:{path}"):
        assert table_stats(spark, uri) == table_stats(spark, path)
    assert table_stats(spark, path)["n_files"] == 4

    before = _rows(spark.read.parquet(path))
    # the full rewrite path (stats → swap → stats) under a file:// URI
    res = compact(spark, f"file://{path}", target_file_bytes=1 << 30)
    assert res["rewritten"] is True and res["after"]["n_files"] == 1
    assert _rows(spark.read.parquet(path)) == before

    # scheme algebra: local forms strip, remote authority/other schemes fail
    assert _local_path("file:///a/b") == "/a/b"
    assert _local_path("file:/a/b") == "/a/b"
    assert _local_path("/a/b") == "/a/b"
    import pytest as _pytest

    # round-8 ADVICE: ANY scheme:/ shorthand is remote (not an allowlist) —
    # an unlisted scheme must fail loudly, never resolve as a relative path
    for bad in (
        "file://host/a", "hdfs:///a", "s3a://b/t",
        "hdfs:/a", "dbfs:/tbl", "alluxio:/tbl", "o3fs:/x", "madeupfs:/y",
    ):
        with _pytest.raises(NotImplementedError):
            _local_path(bad)
    # colon followed by a NON-slash is not a scheme (round-7 false positive)
    assert _local_path("run:2026/table") == "run:2026/table"
