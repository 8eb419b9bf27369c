"""E2E fixture test for the HTML ingest path (FIXTURES.md §1.4): synthetic
report page → full pipeline → typed fact/summary frames, including the
malformed-row filter and the V-GATE reject path."""

from pyspark.sql import Row

from cdmx_airquality_etl_spark.sources.html_ingest import (
    ingest_parsed,
    ingest_reports,
    parse_pages,
    summarize_pages,
)

PAGE = """
<html><body>
  <div id="textohora">14 h, mi&eacute;rcoles 23 de mayo de 2025</div>
  <div id="recomendacioniuv">Usa protector solar</div>
  <div id="pronosticoaire">
    <table><tr><td>Regular</td><td>Buena</td></tr></table>
  </div>
  <div id="textotemperatura">24 &deg;C</div>
  <div id="tabladf">
    <table>
      <tr><td>encabezado decorativo</td></tr>
      <tr><td>Clave</td><td>Alcald&iacute;a</td><td>Calidad del aire</td><td>Par&aacute;metro</td></tr>
      <tr><td>UIZ</td><td>Iztapalapa</td><td><img src="https://cdn/x/buena.svg"/></td><td>Ozono</td></tr>
      <tr><td>PED</td><td>&Aacute;lvaro Obreg&oacute;n</td><td><img src="https://cdn/x/muy_mala.svg"/></td><td>PM10</td></tr>
      <tr><td>MAL</td><td>solo dos celdas</td></tr>
    </table>
  </div>
  <div id="tablaedomex">
    <table>
      <tr><td>encabezado decorativo</td></tr>
      <tr><td>Clave</td><td>Municipio</td><td>Calidad del aire</td><td>Par&aacute;metro</td></tr>
      <tr><td>ACO</td><td>Ecatepec</td><td><img src="https://cdn/x/aceptable.svg"/></td><td>PM2.5</td></tr>
    </table>
  </div>
</body></html>
"""

BAD_PAGE = "<html><body><div id='other'>no date here</div></body></html>"


def test_ingest_full_page(spark):
    html_df = spark.createDataFrame([Row(page_id=1, html=PAGE)])
    res = ingest_reports(html_df)

    gral = res.gral_stats.collect()
    assert len(gral) == 1
    g = gral[0]
    assert g["report_ts"] == 2025052314  # scrapper.py:51 pack rule
    assert g["temp_celsius_int"] == 24
    assert g["week_day_str"] == "miercoles"
    assert g["month_name_str"] == "mayo"
    assert (g["year_num"], g["month_num"], g["month_day_num"], g["hour_num"]) == (
        2025, 5, 23, 14,
    )
    assert g["reco_uiv_str"] == "usa_protector_solar"
    assert g["score_air_str"] == "regular"
    assert g["score_air_next_day_str"] == "buena"
    assert g["nupdates"] == 1

    cdmx = {r["clave_str"]: r for r in res.cdmx.collect()}
    assert set(cdmx) == {"UIZ", "PED"}  # malformed MAL row filtered (F-ROWFILT)
    assert cdmx["UIZ"]["alcaldia_str"] == "iztapalapa"
    assert cdmx["UIZ"]["calidad_del_aire_str"] == "buena"  # F-IMG svg basename
    assert cdmx["UIZ"]["parametro_str"] == "ozono"
    assert cdmx["PED"]["alcaldia_str"] == "alvaro_obregon"  # accent fold
    assert cdmx["PED"]["calidad_del_aire_str"] == "muy_mala"
    assert cdmx["UIZ"]["report_ts"] == 2025052314  # T-LIT enrichment

    edomex = res.edomex.collect()
    assert len(edomex) == 1
    assert edomex[0]["municipio_str"] == "ecatepec"
    assert edomex[0]["parametro_str"] == "pm2.5"

    assert res.rejects.count() == 0


def test_ingest_vgate_rejects_unparseable_date(spark):
    html_df = spark.createDataFrame(
        [Row(page_id=1, html=PAGE), Row(page_id=2, html=BAD_PAGE)]
    )
    res = ingest_reports(html_df)
    rejects = res.rejects.collect()
    assert [r["page_id"] for r in rejects] == [2]
    # good page still flows through
    assert res.gral_stats.count() == 1


def test_summarize_pages_counts_rejects_and_partitions(spark):
    html_df = spark.createDataFrame([
        Row(page_id=1, html=PAGE),
        Row(page_id=2, html=PAGE.replace("de mayo de 2025", "de mayo de 2024")),
        Row(page_id=3, html=BAD_PAGE),
    ])
    parsed = parse_pages(html_df)
    summary = summarize_pages(parsed, "year_num")
    assert summary.rejects == 1 == ingest_parsed(parsed).rejects.count()
    assert sorted(summary.partitions) == [2024, 2025]  # parseable pages only
    assert summarize_pages(parsed, None) == (1, None)


def test_ingest_merge_roundtrip(spark, tmp_path):
    """Scheduled-run shape: same page ingested twice merges idempotently with
    the counter bump (C-SCHED + M-UPSERT composition)."""
    import os

    from cdmx_airquality_etl_spark.plans.merge import merge_into_parquet

    html_df = spark.createDataFrame([Row(page_id=1, html=PAGE)])
    path = os.path.join(str(tmp_path), "cdmx")
    for _ in range(2):
        res = ingest_reports(html_df)
        merge_into_parquet(spark, res.cdmx, path, ["report_ts", "clave_str"],
                           counter_col="nupdates")
    rows = {r["clave_str"]: r for r in spark.read.parquet(path).collect()}
    assert rows["UIZ"]["nupdates"] == 2
    assert rows["UIZ"]["alcaldia_str"] == "iztapalapa"
