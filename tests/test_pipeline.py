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
