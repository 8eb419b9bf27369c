"""Scan fan-out (operators/fanout.py): the under-split rule, the
un-fanned shape, and result identity.

The plan-shape consequences (round-robin exchange ahead of the dedup
emissions) are pinned in test_plans.py alongside the r12 signature
fan-out pin this generalizes."""

from __future__ import annotations

from cdmx_airquality_etl_spark.operators import fanout as FO
from cdmx_airquality_etl_spark.sources.parquet import load_table


def _no_fanout(monkeypatch):
    """The un-fanned reference shape: ``fan_out_scan`` looks the target
    width up at call time, and 0 leaves scans alone."""
    monkeypatch.setattr(FO, "scan_fanout_parallelism", lambda spark: 0)


def test_zero_parallelism_is_identity(spark, sf_dir, monkeypatch):
    _no_fanout(monkeypatch)
    docs = load_table(spark, sf_dir, "documents")
    assert FO.fan_out_scan(docs) is docs


def test_under_split_scan_fans_out_to_cluster_width(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    dp = spark.sparkContext.defaultParallelism
    fanned = FO.fan_out_scan(docs)
    assert fanned is not docs
    assert fanned.rdd.getNumPartitions() == dp
    # an input already at/above cluster width is left alone — the 100 TB
    # no-op property (real scans split past defaultParallelism)
    wide = docs.repartition(dp)
    assert FO.fan_out_scan(wide) is wide


def test_results_identical_with_and_without_fanout(spark, sf_dir, monkeypatch):
    # the correctness contract: a fan-out only moves rows; every consumer
    # aggregates exact integers / row-local scores, so results match
    # bit-for-bit whichever shape runs
    from cdmx_airquality_etl_spark import QUERIES

    def run():
        return sorted(map(tuple, QUERIES["q_dedup_fuzzy"](spark, sf_dir).collect()))

    with monkeypatch.context() as m:
        _no_fanout(m)
        off = run()
    assert run() == off
    assert off  # non-vacuous: sf0.001 has fuzzy pairs
