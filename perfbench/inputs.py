"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from one integer
seed, so the same seed always gives byte-identical inputs:

- hourly HTML report pages in the shape the ingest path scrapes
  (accented Spanish weekday/month names, ``<img>`` quality icons, one
  malformed row per station table);
- a small TPC-H-like star schema plus ``events``/``documents``/
  ``embeddings`` tables for the registered queries;
- orders and events snapshot files for the streaming workload, where each
  delivery also re-delivers earlier order keys with changed prices.

Generators return plain Python/pandas/pyarrow objects; writing them to
disk is a separate step so the determinism tests need no Spark.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# HTML report pages
# ---------------------------------------------------------------------------

WEEKDAYS = ["lunes", "martes", "miércoles", "jueves", "viernes", "sábado", "domingo"]
MONTHS = [
    "enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
    "agosto", "septiembre", "octubre", "noviembre", "diciembre",
]
CDMX_STATIONS = [
    ("UIZ", "Iztapalapa"), ("MER", "Venustiano Carranza"),
    ("PED", "Álvaro Obregón"), ("SFE", "Cuajimalpa de Morelos"),
    ("TLA", "Tlalpan"), ("CCA", "Coyoacán"), ("BJU", "Benito Juárez"),
    ("CAM", "Azcapotzalco"), ("GAM", "Gustavo A. Madero"),
    ("HGM", "Cuauhtémoc"), ("IZT", "Iztacalco"), ("MGH", "Miguel Hidalgo"),
    ("MPA", "Milpa Alta"), ("TAH", "Tláhuac"), ("XCH", "Xochimilco"),
    ("AJM", "Magdalena Contreras"),
]
EDOMEX_STATIONS = [
    ("ACO", "Ecatepec"), ("XAL", "Ecatepec"), ("VIF", "Cuautitlán"),
    ("NEZ", "Nezahualcóyotl"), ("TLI", "Tultitlán"), ("FAC", "Naucalpan"),
    ("ATI", "Atizapán"), ("CHO", "Chalco"),
]
QUALITY = ["buena", "aceptable", "mala", "muy_mala", "extremadamente_mala"]
PARAMS = ["Ozono", "PM10", "PM2.5", "Dióxido de nitrógeno"]
SCORES = ["Buena", "Regular", "Mala"]
UV_ADVICE = ["Usa protector solar", "Evita exponerte al sol", "Usa sombrero"]

BASE_HOUR = dt.datetime(2024, 1, 1, 0)


def report_ts(hour_index: int) -> int:
    """Packed yyyyMMddHH of the ``hour_index``-th hour after 2024-01-01 00h."""
    t = BASE_HOUR + dt.timedelta(hours=hour_index)
    return t.year * 1000000 + t.month * 10000 + t.day * 100 + t.hour


def _station_table(div_id, geo_header, stations, rng) -> str:
    rows = [
        "<tr><td>Índice de calidad del aire</td></tr>",
        f"<tr><td>Clave</td><td>{geo_header}</td>"
        "<td>Calidad del aire</td><td>Parámetro</td></tr>",
    ]
    for code, geo in stations:
        q = QUALITY[rng.integers(len(QUALITY))]
        p = PARAMS[rng.integers(len(PARAMS))]
        rows.append(
            f"<tr><td>{code}</td><td>{geo}</td>"
            f'<td><img src="https://aire.cdmx.gob.mx/iconos/{q}.svg"></td>'
            f"<td>{p}</td></tr>"
        )
    # one malformed (<4-cell) row per table: the ingest row filter drops it
    rows.append("<tr><td>N/D</td><td>sin datos</td></tr>")
    return f'<div id="{div_id}"><table>{"".join(rows)}</table></div>'


def report_page(seed: int, hour_index: int, delivery: int = 0) -> str:
    """One hourly report page. ``delivery`` > 0 is a re-scrape of the same
    hour: same stations, freshly drawn readings."""
    rng = np.random.default_rng([seed, hour_index, delivery])
    t = BASE_HOUR + dt.timedelta(hours=hour_index)
    hora = (
        f"{t.hour} h, {WEEKDAYS[t.weekday()]} {t.day} de "
        f"{MONTHS[t.month - 1]} de {t.year}"
    )
    today, tomorrow = rng.integers(len(SCORES), size=2)
    return (
        "<html><head><meta charset='utf-8'></head><body>"
        f'<div id="textohora">{hora}</div>'
        f'<div id="recomendacioniuv">{UV_ADVICE[rng.integers(len(UV_ADVICE))]}</div>'
        '<div id="pronosticoaire"><table><tr>'
        f"<td>{SCORES[today]}</td><td>{SCORES[tomorrow]}</td>"
        "</tr></table></div>"
        f'<div id="textotemperatura">{int(rng.integers(5, 36))} °C</div>'
        + _station_table("tabladf", "Alcaldía", CDMX_STATIONS, rng)
        + _station_table("tablaedomex", "Municipio", EDOMEX_STATIONS, rng)
        + "</body></html>"
    )


def page_batch(seed: int, hours: list[int], deliveries: list[int]) -> pd.DataFrame:
    """(page_id, html) frame for the given (hour, delivery) pairs."""
    return pd.DataFrame(
        {
            "page_id": [h * 16 + d for h, d in zip(hours, deliveries)],
            "html": [report_page(seed, h, d) for h, d in zip(hours, deliveries)],
        }
    )


# ---------------------------------------------------------------------------
# Query tables (TPC-H-like star schema + events/documents/embeddings)
# ---------------------------------------------------------------------------

_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window order data column join small big customer query stream "
    "filter group vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "small", "hot", "green", "large", "cold", "shiny"]
_PART_NOUN = ["widget", "ring", "bolt", "gear", "plate", "screw", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EVENTS_START_US = (
    dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)
) // dt.timedelta(microseconds=1)
_ORDERS_START_US = (
    dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)
) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted exact and near duplicates, so the
    dedup family has clusters to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))])
        elif i > 10 and r < 0.14:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(len(words)))] = _VOCAB[
                    int(rng.integers(len(_VOCAB)))
                ]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(len(_VOCAB), size=k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), size=n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def query_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten tables the registered queries read, at ``scale`` (0.01 gives
    15,000 orders and 60,000 line items)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 10)
    n_part = int(200_000 * scale)
    n_orders = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = max(int(50_000 * scale), 50)
    n_vec = max(int(50_000 * scale), 50)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(5, size=n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(len(_PART_ADJ), size=n_part),
                        rng.integers(len(_PART_NOUN), size=n_part),
                    )
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, size=n_part)],
                "p_type": [
                    _PART_TYPES[j] for j in rng.integers(len(_PART_TYPES), size=n_part)
                ],
                "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(n_cust, size=n_orders), pa.int64()),
                "o_orderstatus": [
                    "FOP"[j] for j in rng.integers(3, size=n_orders)
                ],
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
                "o_orderdate": _ts(
                    _ORDERS_START_US + rng.integers(0, 2400, size=n_orders) * _DAY_US
                ),
                "o_orderpriority": [
                    _PRIORITIES[j] for j in rng.integers(5, size=n_orders)
                ],
            }
        ),
    }
    l_order = np.sort(rng.integers(n_orders, size=n_line))
    # line numbers restart at 1 within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    lineno = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    qty = rng.integers(1, 51, size=n_line).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
            "l_returnflag": ["ARN"[j] for j in rng.integers(3, size=n_line)],
            "l_linestatus": ["FO"[j] for j in rng.integers(2, size=n_line)],
            "l_shipdate": _ts(
                _ORDERS_START_US + rng.integers(0, 2500, size=n_line) * _DAY_US
            ),
        }
    )
    tables["events"] = events_table(rng, 0, n_events)
    tables["documents"] = _documents(rng, n_docs)
    centroids = rng.normal(size=(10, 64)).astype("float32")
    labels = rng.integers(10, size=n_vec)
    vecs = centroids[labels] + 0.3 * rng.normal(size=(n_vec, 64)).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return tables


def events_table(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """``n`` events with ids from ``first_id``: 150 users, five event types,
    microsecond timestamps over January 2024."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, size=n)) + _EVENTS_START_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(150, size=n), pa.int64()),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(5, size=n)],
            "value": np.round(rng.exponential(25.0, n), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(100, size=n)],
        }
    )


# ---------------------------------------------------------------------------
# Streaming snapshots
# ---------------------------------------------------------------------------

ORDERS_SNAPSHOT_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_totalprice", pa.float64()),
        ("o_orderpriority", pa.string()),
    ]
)


def orders_snapshot(
    seed: int, delivery: int, new_keys: range, redeliver: int, known: int
) -> pa.Table:
    """One orders delivery: every key in ``new_keys`` plus ``redeliver``
    distinct keys drawn from the ``known`` keys already delivered, all with
    freshly drawn prices (so a re-delivery changes the row)."""
    rng = np.random.default_rng([seed, 2, delivery])
    old = (
        np.sort(rng.choice(known, size=min(redeliver, known), replace=False))
        if known
        else np.empty(0, dtype="int64")
    )
    keys = np.r_[np.asarray(new_keys, dtype="int64"), old.astype("int64")]
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(keys % 997, pa.int64()),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(5, size=n)],
        },
        schema=ORDERS_SNAPSHOT_SCHEMA,
    )


def events_snapshot(seed: int, delivery: int, first_id: int, n: int) -> pa.Table:
    return events_table(np.random.default_rng([seed, 3, delivery]), first_id, n)


def write_parquet(table: pa.Table, path: str) -> None:
    """Single-file parquet write (one row group, like the repository's test tables)."""
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
