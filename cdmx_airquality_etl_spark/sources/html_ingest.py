"""HTML report ingest — the reference's extract+transform path, Spark-first.

Reproduces the whole of /root/reference/scrapper.py:130-185 on a DataFrame of
raw pages instead of one page at a time:

- S-DOM/S-DIV/S-TBL (scrapper.py:30-33, 77-110): one Arrow-batched
  ``mapInPandas`` pass runs the stdlib parser (html_parse.py) per page and
  emits raw div texts + table rows. This is the ONLY Python-in-the-loop step;
  the reference's lxml stays a per-page CPU cost exactly the same way, but
  here pages are partitioned across executors.
- Everything downstream is native column expressions: the Spanish date-line
  parse (F-REPL/F-SPLIT/F-SUBSTR, scrapper.py:38-52), month decode (F-DICT,
  :49), report_ts pack (F-CONCAT, :51), malformed-row filter (F-ROWFILT,
  :94-95), svg quality extraction (F-IMG, :101-102), text normalization
  (F-NORM, :20-26), constant-column enrichment (T-LIT, :154-165 — carried
  through the explode of table rows, i.e. the broadcast-cross-join shape),
  renames and casts (T-RENAME/F-CAST, :167-178).

V-GATE (scrapper.py:53-55,139-144): pages whose date line fails to parse get
``report_ts IS NULL`` and are split into a rejects DataFrame rather than
silently dropped; callers abort the batch if rejects are non-empty, which
reproduces the reference's no-partial-load behavior.

At scale: pages arrive as a parquet/text table of (page_id, html); the parse
is embarrassingly parallel; downstream tables are merged with
plans/merge.merge_into_parquet keyed on (report_ts, clave_str).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import map_decode, normalize_text_col, svg_basename
from ..schemas import MONTH_MAP

# div ids from the reference's extract config (config.yaml:1-3,18-24)
DIV_HORA = "textohora"
DIV_RECO_UV = "recomendacioniuv"
DIV_PRONOSTICO = "pronosticoaire"
DIV_TEMP = "textotemperatura"
TABLE_CDMX = "tabladf"
TABLE_EDOMEX = "tablaedomex"

_ROW_STRUCT = StructType(
    [
        StructField("cells", ArrayType(StringType()), True),
        StructField("img_src", StringType(), True),
    ]
)

_PARSED_SCHEMA = StructType(
    [
        StructField("page_id", LongType(), True),
        StructField("hora_text", StringType(), True),
        StructField("reco_text", StringType(), True),
        StructField("pronostico_today", StringType(), True),
        StructField("pronostico_tomorrow", StringType(), True),
        StructField("temp_text", StringType(), True),
        StructField("cdmx_rows", ArrayType(_ROW_STRUCT), True),
        StructField("edomex_rows", ArrayType(_ROW_STRUCT), True),
    ]
)


def _parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .html_parse import parse_page

    div_ids = [DIV_HORA, DIV_RECO_UV, DIV_TEMP]
    table_ids = [TABLE_CDMX, TABLE_EDOMEX, DIV_PRONOSTICO]

    for pdf in batches:
        out = []
        for page_id, html in zip(pdf["page_id"], pdf["html"]):
            if html is None or (isinstance(html, float) and pd.isna(html)):
                # failed fetch (sources/fetch.py status=-1) → all-NULL parse
                # row; the missing date line routes it to rejects (V-GATE)
                out.append(
                    {
                        "page_id": page_id,
                        "hora_text": None,
                        "reco_text": None,
                        "pronostico_today": None,
                        "pronostico_tomorrow": None,
                        "temp_text": None,
                        "cdmx_rows": None,
                        "edomex_rows": None,
                    }
                )
                continue
            page = parse_page(html, div_ids, table_ids)
            # pronosticoaire: the reference reads nested divs 2 and 3 of the
            # forecast block (today / tomorrow scores, scrapper.py:66-75);
            # our fixture encodes them as a 2-col table row for simplicity —
            # accept either shape.
            prono = page.tables.get(DIV_PRONOSTICO) or []
            prono_cells = prono[0].cells if prono else [None, None]
            prono_cells = (list(prono_cells) + [None, None])[:2]

            def rows_of(div_id):
                return [
                    {"cells": list(r.cells), "img_src": r.img_src}
                    for r in page.tables.get(div_id) or []
                ]

            out.append(
                {
                    "page_id": page_id,
                    "hora_text": page.div_texts.get(DIV_HORA),
                    "reco_text": page.div_texts.get(DIV_RECO_UV),
                    "pronostico_today": prono_cells[0],
                    "pronostico_tomorrow": prono_cells[1],
                    "temp_text": page.div_texts.get(DIV_TEMP),
                    "cdmx_rows": rows_of(TABLE_CDMX),
                    "edomex_rows": rows_of(TABLE_EDOMEX),
                }
            )
        yield pd.DataFrame(out, columns=[f.name for f in _PARSED_SCHEMA.fields])


def parse_pages(html_df: DataFrame) -> DataFrame:
    """(page_id long, html string) → raw parsed page fields (one UDF pass)."""
    return html_df.select("page_id", "html").mapInPandas(_parse_batch, _PARSED_SCHEMA)


class IngestResult(NamedTuple):
    cdmx: DataFrame
    edomex: DataFrame
    gral_stats: DataFrame
    rejects: DataFrame


def _header_fields(parsed: DataFrame) -> DataFrame:
    """Native Spanish date-line parse + temp cast (scrapper.py:35-65).

    '14 h, miércoles 23 de mayo de 2025' → hour/weekday/day/month/year parts,
    packed report_ts; '24 °C' → int celsius.
    """
    cleaned = F.regexp_replace(F.col("hora_text"), r"\bh,?", " ")
    parts = F.filter(F.split(F.trim(cleaned), r"\s+"), lambda x: x != "")
    month_name = normalize_text_col(F.element_at(parts, 5))
    month_num = map_decode(month_name, MONTH_MAP)
    year = F.element_at(parts, 7).cast("int")
    day = F.element_at(parts, 3).cast("int")
    hour = F.substring(F.element_at(parts, 1), 1, 2).cast("int")

    report_ts = (
        year.cast("long") * 1000000
        + month_num.cast("long") * 10000
        + day.cast("long") * 100
        + hour.cast("long")
    )
    temp = F.regexp_extract(F.col("temp_text"), r"(-?\d+)", 1).cast("int")

    return parsed.withColumns(
        {
            "report_ts": report_ts,
            "week_day_str": normalize_text_col(F.element_at(parts, 2)),
            "month_day_num": day,
            "month_name_str": month_name,
            "month_num": month_num,
            "year_num": year,
            "hour_num": hour,
            "temp_celsius_int": temp,
            "reco_uiv_str": normalize_text_col(F.col("reco_text")),
            "score_air_str": normalize_text_col(F.col("pronostico_today")),
            "score_air_next_day_str": normalize_text_col(F.col("pronostico_tomorrow")),
        }
    )


_DATE_PART_COLS = [
    "week_day_str",
    "month_day_num",
    "month_name_str",
    "month_num",
    "year_num",
    "hour_num",
]


def _station_fact(headered: DataFrame, rows_col: str, geo_col: str) -> DataFrame:
    """Explode one table's rows into the station fact schema.

    Header row = rows[1], data rows = rows[2:] (scrapper.py:87-95); the
    explode carries the report-header columns onto every station row — the
    T-LIT constant-enrichment (scrapper.py:154-165) without a join.
    """
    data_rows = F.slice(
        F.col(rows_col), 3, F.greatest(F.size(rows_col) - 2, F.lit(1))
    )
    row = F.explode(data_rows).alias("row")
    base = headered.select("report_ts", *_DATE_PART_COLS, row).filter(
        F.size("row.cells") >= 4  # F-ROWFILT (scrapper.py:94-95)
    )
    cells = F.col("row.cells")
    return base.select(
        "report_ts",
        F.element_at(cells, 1).alias("clave_str"),
        normalize_text_col(F.element_at(cells, 2)).alias(geo_col),
        svg_basename(F.col("row.img_src")).alias("calidad_del_aire_str"),
        normalize_text_col(F.element_at(cells, 4)).alias("parametro_str"),
        F.lit(1).alias("nupdates"),
        *_DATE_PART_COLS,
    )


def ingest_reports(html_df: DataFrame) -> IngestResult:
    """Full extract+transform for a batch of report pages
    (page_id long, html string) → (cdmx, edomex, gral_stats, rejects)."""
    return ingest_parsed(parse_pages(html_df))


def ingest_parsed(parsed: DataFrame) -> IngestResult:
    """The transform half of :func:`ingest_reports`: ``parse_pages`` output →
    (cdmx, edomex, gral_stats, rejects), native expressions only. Callers
    that persist ``parsed`` get all four frames from one parse."""
    headered = _header_fields(parsed)

    ok = headered.filter(F.col("report_ts").isNotNull())
    rejects = headered.filter(F.col("report_ts").isNull()).select(
        "page_id", "hora_text"
    )

    gral_stats = ok.select(
        "report_ts",
        "temp_celsius_int",
        "reco_uiv_str",
        "score_air_str",
        "score_air_next_day_str",
        F.lit(1).alias("nupdates"),
        *_DATE_PART_COLS,
    )
    cdmx = _station_fact(ok, "cdmx_rows", "alcaldia_str")
    edomex = _station_fact(ok, "edomex_rows", "municipio_str")
    return IngestResult(cdmx=cdmx, edomex=edomex, gral_stats=gral_stats, rejects=rejects)
