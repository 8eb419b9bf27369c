"""E2E pipeline tests (C-MAIN shape): two scheduled runs over synthetic
pages, V-GATE abort without partial load, config round-trip."""

import pytest
from pyspark.sql import Row

from cdmx_airquality_etl_spark.pipeline import (
    PipelineAbort,
    PipelineConfig,
    bootstrap,
    run,
)
from tests.test_html_ingest import BAD_PAGE, PAGE


def _cfg(tmp_path):
    return PipelineConfig(warehouse_dir=str(tmp_path / "wh"))


def test_two_runs_accumulate_and_bump(spark, tmp_path):
    cfg = _cfg(tmp_path)
    bootstrap(spark, cfg)
    html_df = spark.createDataFrame([Row(page_id=1, html=PAGE)])

    c1 = run(spark, html_df, cfg)
    assert c1 == {"cdmx": 2, "edomex": 1, "gral_stats": 1}

    c2 = run(spark, html_df, cfg)  # hourly re-scrape of the same report
    assert c2 == c1  # same keys → no growth
    cdmx = {r["clave_str"]: r for r in
            spark.read.parquet(cfg.table_path("cdmx")).collect()}
    assert cdmx["UIZ"]["nupdates"] == 2


def test_vgate_aborts_without_partial_load(spark, tmp_path):
    cfg = _cfg(tmp_path)
    html_df = spark.createDataFrame(
        [Row(page_id=1, html=PAGE), Row(page_id=2, html=BAD_PAGE)]
    )
    with pytest.raises(PipelineAbort):
        run(spark, html_df, cfg)
    import os

    assert not os.path.exists(cfg.table_path("cdmx"))  # nothing written


def test_config_from_yaml(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(
        "warehouse_dir: /tmp/wh\ndatabase: aq\npartition_col: year_num\n"
        "tables:\n  cdmx: /tmp/custom/cdmx\n"
    )
    cfg = PipelineConfig.from_yaml(str(p))
    assert cfg.database == "aq"
    assert cfg.table_path("cdmx") == "/tmp/custom/cdmx"
    assert cfg.table_path("edomex") == "/tmp/wh/aq/edomex"


def test_quality_gate_blocks_bad_station_codes(spark, tmp_path):
    # a page that parses (date OK) but carries a malformed station code must
    # be stopped by the quality gate, not merged
    bad_station = PAGE.replace("<td>UIZ</td>", "<td>u!</td>")
    cfg = _cfg(tmp_path)
    html_df = spark.createDataFrame([Row(page_id=1, html=bad_station)])
    with pytest.raises(PipelineAbort, match="quality gate|matches"):
        run(spark, html_df, cfg)
    import os

    assert not os.path.exists(cfg.table_path("cdmx"))

    # lenient mode (the operator override, CLI --lenient) logs and proceeds
    counts = run(spark, html_df, cfg, strict=False)
    assert counts["cdmx"] == 2


def test_strict_gate_failure_in_one_table_writes_no_table(spark, tmp_path):
    # the only bad station code is in the EdoMex table: the cdmx and
    # gral_stats gates pass, yet no merge may start
    bad_edomex = PAGE.replace("<td>ACO</td>", "<td>a!</td>")
    cfg = _cfg(tmp_path)
    html_df = spark.createDataFrame([Row(page_id=1, html=bad_edomex)])
    with pytest.raises(PipelineAbort, match="edomex") as e:
        run(spark, html_df, cfg)
    assert "cdmx" not in str(e.value)
    import os

    assert not any(os.path.exists(cfg.table_path(n))
                   for n in ("cdmx", "edomex", "gral_stats"))


def test_lenient_logs_every_failing_table(spark, tmp_path, caplog):
    bad_both = PAGE.replace("<td>UIZ</td>", "<td>u!</td>").replace(
        "<td>ACO</td>", "<td>a!</td>")
    cfg = _cfg(tmp_path)
    html_df = spark.createDataFrame([Row(page_id=1, html=bad_both)])
    with caplog.at_level("ERROR", logger="cdmx_airquality_etl_spark.pipeline"):
        counts = run(spark, html_df, cfg, strict=False)
    assert counts == {"cdmx": 2, "edomex": 1, "gral_stats": 1}
    failed = [m for m in caplog.messages if "quality gate" in m]
    assert any(m.startswith("table cdmx:") for m in failed), failed
    assert any(m.startswith("table edomex:") for m in failed), failed
    assert not any(m.startswith("table gral_stats:") for m in failed), failed


def test_run_parses_each_page_once_under_callers_job_group(spark, tmp_path):
    pages = spark.createDataFrame([
        Row(page_id=i, html=PAGE.replace("14 h,", f"{i} h,")) for i in range(3)
    ])
    evals = spark.sparkContext.accumulator(0)

    def count_evals(batches, acc=evals):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    html_df = pages.mapInPandas(count_evals, pages.schema)
    cfg = _cfg(tmp_path)
    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    grouped = set(st.getJobIdsForGroup("g"))
    sc.setJobGroup("g", "one scheduled run")
    try:
        counts = run(spark, html_df, cfg)
    finally:
        sc._jsc.clearJobGroup()
    assert counts == {"cdmx": 6, "edomex": 3, "gral_stats": 3}
    assert evals.value == 3  # one parse per page: no gate or merge re-parses
    # every job of the run, the pool threads' merges included, is in "g"
    assert set(st.getJobIdsForGroup(None)) - ungrouped == set()
    store = sc._jsc.sc().statusStore()
    names = [store.job(j).name() for j in set(st.getJobIdsForGroup("g")) - grouped]
    # the first run of a table writes it with one parquet job per table
    assert sum(n.startswith("parquet at") for n in names) >= 3, names
