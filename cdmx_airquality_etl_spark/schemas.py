"""Declared schemas (never inferred) for the engine's tables.

Mirrors the reference's fixed/declared-DDL policy (sql_config.yaml:4-51 applied
by create_table at scrapper.py:243-273): schemas are code, inference is allowed
only at the semi-structured ingest edge (HTML header discovery,
scrapper.py:87-88).

Deliberate deviation recorded per SURVEY.md §1.2: the reference declares
``edomex.report_ts`` as TEXT (sql_config.yaml:22) but feeds an int
(scrapper.py:161); we use LongType uniformly — a packed ``yyyyMMddHH`` needs
10 digits, which overflows Int32.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Reference-model tables (sql_config.yaml:4-51)
# --------------------------------------------------------------------------

_DATE_PART_FIELDS = [
    StructField("week_day_str", StringType(), True),
    StructField("month_day_num", IntegerType(), True),
    StructField("month_name_str", StringType(), True),
    StructField("month_num", IntegerType(), True),
    StructField("year_num", IntegerType(), True),
    StructField("hour_num", IntegerType(), True),
]


def _station_fact_schema(geo_col: str) -> StructType:
    """cdmx (sql_config.yaml:5-19) / edomex (:21-35) twin facts.

    PK (report_ts, clave_str); the twin differs only in the geography column
    (alcaldia_str vs municipio_str, renamed at scrapper.py:167-178).
    """
    return StructType(
        [
            StructField("report_ts", LongType(), False),
            StructField("clave_str", StringType(), False),
            StructField(geo_col, StringType(), True),
            StructField("calidad_del_aire_str", StringType(), True),
            StructField("parametro_str", StringType(), True),
            StructField("nupdates", IntegerType(), True),
        ]
        + _DATE_PART_FIELDS
    )


CDMX_SCHEMA = _station_fact_schema("alcaldia_str")
EDOMEX_SCHEMA = _station_fact_schema("municipio_str")

GRAL_STATS_SCHEMA = StructType(
    [
        StructField("report_ts", LongType(), False),
        StructField("temp_celsius_int", IntegerType(), True),
        StructField("reco_uiv_str", StringType(), True),
        StructField("score_air_str", StringType(), True),
        StructField("score_air_next_day_str", StringType(), True),
        StructField("nupdates", IntegerType(), True),
    ]
    + _DATE_PART_FIELDS
)

TABLE_SCHEMAS = {
    "cdmx": CDMX_SCHEMA,
    "edomex": EDOMEX_SCHEMA,
    "gral_stats": GRAL_STATS_SCHEMA,
}

# Merge keys per table (scrapper.py:329-331).
MERGE_KEYS = {
    "cdmx": ["report_ts", "clave_str"],
    "edomex": ["report_ts", "clave_str"],
    "gral_stats": ["report_ts"],
}

# Month decode dimension (config.yaml:5-17) — the reference's only
# join-shaped operation (F-DICT, scrapper.py:49).
MONTH_MAP = {
    "enero": 1,
    "febrero": 2,
    "marzo": 3,
    "abril": 4,
    "mayo": 5,
    "junio": 6,
    "julio": 7,
    "agosto": 8,
    "septiembre": 9,
    "octubre": 10,
    "noviembre": 11,
    "diciembre": 12,
}

# --------------------------------------------------------------------------
# Driver test tables (TESTDATA.md) — declared so reads never infer
# --------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType(), True),
            StructField("r_name", StringType(), True),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType(), True),
            StructField("n_name", StringType(), True),
            StructField("n_regionkey", IntegerType(), True),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType(), True),
            StructField("c_name", StringType(), True),
            StructField("c_nationkey", IntegerType(), True),
            StructField("c_acctbal", DoubleType(), True),
            StructField("c_mktsegment", StringType(), True),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType(), True),
            StructField("s_name", StringType(), True),
            StructField("s_nationkey", IntegerType(), True),
            StructField("s_acctbal", DoubleType(), True),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType(), True),
            StructField("p_name", StringType(), True),
            StructField("p_brand", StringType(), True),
            StructField("p_type", StringType(), True),
            StructField("p_size", IntegerType(), True),
            StructField("p_retailprice", DoubleType(), True),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType(), True),
            StructField("o_custkey", LongType(), True),
            StructField("o_orderstatus", StringType(), True),
            StructField("o_totalprice", DoubleType(), True),
            StructField("o_orderdate", TimestampType(), True),
            StructField("o_orderpriority", StringType(), True),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType(), True),
            StructField("l_partkey", LongType(), True),
            StructField("l_suppkey", LongType(), True),
            StructField("l_linenumber", IntegerType(), True),
            StructField("l_quantity", DoubleType(), True),
            StructField("l_extendedprice", DoubleType(), True),
            StructField("l_discount", DoubleType(), True),
            StructField("l_tax", DoubleType(), True),
            StructField("l_returnflag", StringType(), True),
            StructField("l_linestatus", StringType(), True),
            StructField("l_shipdate", TimestampType(), True),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType(), True),
            # ts precision varies by testdata generation (TIMESTAMP(NANOS)
            # in rounds 1-2, TIMESTAMP(MICROS) from round 3);
            # sources/parquet.load_table probes the file footer and adapts —
            # this declared type covers the MICROS case, the NANOS case
            # swaps in LongType + an explicit conversion
            StructField("ts", TimestampType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(FloatType()), True),
            StructField("label", IntegerType(), True),
        ]
    ),
}

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)
