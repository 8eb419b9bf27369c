"""E2E pipeline tests (C-MAIN shape): two scheduled runs over synthetic
pages, V-GATE abort without partial load, config round-trip."""

import os
import threading
import uuid

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import Row

from cdmx_airquality_etl_spark import pipeline, quality
from cdmx_airquality_etl_spark.pipeline import (
    PipelineAbort,
    PipelineConfig,
    bootstrap,
    run,
)
from cdmx_airquality_etl_spark.schemas import TABLE_SCHEMAS
from tests.test_html_ingest import BAD_PAGE, PAGE


def _page(hour, year=2025):
    """PAGE as the report of another hour (``hour`` 0-23)."""
    return PAGE.replace("14 h, mi&eacute;rcoles 23 de mayo de 2025",
                        f"{hour} h, mi&eacute;rcoles 23 de mayo de {year}")


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


def test_a_configured_counter_column_accumulates(spark, tmp_path):
    # the merges read the targets through a declared schema that holds the
    # configured counter, so the stored counts carry over
    cfg = PipelineConfig(warehouse_dir=str(tmp_path / "wh"), counter_col="n_runs")
    html_df = spark.createDataFrame([Row(page_id=1, html=PAGE)])
    for _ in range(3):
        run(spark, html_df, cfg)
    for name in TABLE_SCHEMAS:
        rows = spark.read.parquet(cfg.table_path(name)).collect()
        assert {r["n_runs"] for r in rows} == {3}, name


def test_declared_schemas_describe_the_written_tables(spark, tmp_path):
    # run counts rows with the declared schemas instead of inferring them
    cfg = _cfg(tmp_path)
    run(spark, spark.createDataFrame([Row(page_id=1, html=PAGE)]), cfg)
    for name, declared in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(cfg.table_path(name)).schema
        assert sorted((f.name, f.dataType) for f in inferred.fields) == sorted(
            (f.name, f.dataType) for f in declared.fields), name


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
    # the first run of a table writes it with one write command per table,
    # every job of which is in "g"
    run_jobs = set(st.getJobIdsForGroup("g")) - grouped
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    writes = [
        jobs
        for e in conv.asJava(executions)
        if "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
        and (jobs := set(conv.asJava(e.jobs()).keySet())) & run_jobs
    ]
    assert len(writes) == 3 and all(jobs <= run_jobs for jobs in writes), writes


def test_run_without_pinned_threads(spark, tmp_path, monkeypatch):
    # with PYSPARK_PIN_THREAD=false, inheritable_thread_target(session)
    # returns the session itself; run must then submit the bare tasks
    monkeypatch.setattr(pipeline, "inheritable_thread_target", lambda f: f)
    html_df = spark.createDataFrame([Row(page_id=1, html=PAGE)])
    assert run(spark, html_df, _cfg(tmp_path)) == {
        "cdmx": 2, "edomex": 1, "gral_stats": 1}


def test_run_hands_every_merge_the_parsed_partitions(spark, tmp_path, monkeypatch):
    calls = {}
    real = pipeline.merge_into_parquet

    def spy(spark_, source, path, *args, **kwargs):
        calls[os.path.basename(path)] = sorted(kwargs["partitions"])
        return real(spark_, source, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "merge_into_parquet", spy)
    cfg = _cfg(tmp_path)
    html_df = spark.createDataFrame([
        Row(page_id=1, html=_page(14, year=2024)),
        Row(page_id=2, html=_page(15)),
    ])
    run(spark, html_df, cfg)
    assert calls == {n: [2024, 2025] for n in ("cdmx", "edomex", "gral_stats")}
    years = {r[0] for r in spark.read.parquet(cfg.table_path("cdmx"))
             .select("year_num").collect()}
    assert years == {2024, 2025}


def test_hourly_run_stays_within_job_budget(spark, tmp_path):
    """Job-count regression gate for one hourly ``run``: after a backfill,
    a 2-page batch (the next hour plus a re-delivery of the last) must not
    launch more jobs than measured.

    Measured 29 jobs on local[4] with AQE on (the parse persist, one
    page-check aggregate, the three gates, and per table a keyed merge
    and a row count). Discovering the touched partitions in each merge and
    inferring each table's schema for its count took 41. Budget = 29 + 2:
    AQE and codegen versions move the count by a job or two, while a
    per-table re-derivation adds at least three.
    """
    cfg = _cfg(tmp_path)
    run(spark, spark.createDataFrame(
        [Row(page_id=h, html=_page(h)) for h in range(6)]), cfg)
    hourly = spark.createDataFrame(
        [Row(page_id=6, html=_page(6)), Row(page_id=5, html=_page(5))])
    sc = spark.sparkContext
    group = f"hourly-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one hourly run")
    try:
        counts = run(spark, hourly, cfg)
    finally:
        sc._jsc.clearJobGroup()
    assert counts == {"cdmx": 14, "edomex": 7, "gral_stats": 7}
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= 31, f"{n} jobs for one hourly run (budget 31); see the docstring"


def test_check_phase_runs_its_four_checks_at_once(spark, tmp_path, monkeypatch):
    # the page summary and the three gates each get a thread: none of them
    # waits for another to finish
    barrier = threading.Barrier(4, timeout=60)
    real_summary, real_gate = pipeline.summarize_pages, quality.gate

    def together(real):
        def task(*args, **kwargs):
            barrier.wait()
            return real(*args, **kwargs)
        return task

    monkeypatch.setattr(pipeline, "summarize_pages", together(real_summary))
    monkeypatch.setattr(quality, "gate", together(real_gate))
    html_df = spark.createDataFrame([Row(page_id=1, html=PAGE)])
    assert run(spark, html_df, _cfg(tmp_path)) == {
        "cdmx": 2, "edomex": 1, "gral_stats": 1}


def test_hourly_run_driver_command_budget(spark, tmp_path, monkeypatch):
    """Driver→JVM command gate for one hourly ``run``: the py4j commands the
    calling thread sends (counted by wrapping
    ``py4j.clientserver.ClientServerConnection.send_command``), after the
    same 6-page backfill and 2-page hourly batch as the job budget test.

    Measured 194 on local[4]: the run's DataFrames are built from SQL
    expression text, one JVM call per DataFrame step. Building them from
    ``F.col`` / ``.cast`` / ``.alias`` / ``when`` Columns, one JVM round
    trip per call, sent 2,147. Budget = 400: a step or expectation added
    costs a few commands, a return to per-call Column building costs
    hundreds.
    """
    cfg = _cfg(tmp_path)
    run(spark, spark.createDataFrame(
        [Row(page_id=h, html=_page(h)) for h in range(6)]), cfg)
    hourly = spark.createDataFrame(
        [Row(page_id=6, html=_page(6)), Row(page_id=5, html=_page(5))])
    caller = threading.current_thread()
    sent = []
    real_send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.current_thread() is caller:
            sent.append(command)
        return real_send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    counts = run(spark, hourly, cfg)
    monkeypatch.undo()
    assert counts == {"cdmx": 14, "edomex": 7, "gral_stats": 7}
    n = len(sent)
    assert 0 < n <= 400, f"{n} commands on the calling thread (budget 400)"
