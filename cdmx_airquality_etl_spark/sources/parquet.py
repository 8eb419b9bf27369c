"""Parquet table source for the driver test corpus.

Reads with declared schemas (schemas.py) so the scan never pays inference and
Catalyst can prune columns / push predicates into the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

# cache key -> True if events.ts is stored as TIMESTAMP(NANOS); probed from
# the parquet footer (driver-side, one footer read). Keyed on
# (path, mtime_ns, size), NOT path alone: the testdata generator has
# regenerated the same path with the OTHER timestamp encoding between
# rounds (ns→µs in round 3), and a path-keyed cache would then silently
# misread ts by 1000x for the rest of the process lifetime.
_EVENTS_TS_IS_NANOS: dict[tuple, bool] = {}


def _footer_cache_key(path: str) -> tuple:
    import os

    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # non-local / unstat-able path: fall back to path-only keying
        return (path, None, None)


def _events_ts_is_nanos(spark: SparkSession, path: str) -> bool:
    key = _footer_cache_key(path)
    if key not in _EVENTS_TS_IS_NANOS:
        # with spark.sql.legacy.parquet.nanosAsLong set, schema inference
        # surfaces TIMESTAMP(NANOS) as LongType and TIMESTAMP(MICROS) as
        # TimestampType — the distinction load_table must adapt to, since
        # the testdata generator has shipped both encodings across rounds
        inferred = spark.read.parquet(path).schema["ts"].dataType
        _EVENTS_TS_IS_NANOS[key] = isinstance(inferred, LongType)
    return _EVENTS_TS_IS_NANOS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    schema = TESTDATA_SCHEMAS.get(name)
    if name == "events" and schema is not None and _events_ts_is_nanos(spark, path):
        # ts is TIMESTAMP(NANOS) on disk — read as long nanos
        # (spark.sql.legacy.parquet.nanosAsLong) and floor-convert to a real
        # timestamp at µs precision, matching DuckDB's ns→µs truncation.
        schema = StructType(
            [
                StructField("ts", LongType(), f.nullable)
                if f.name == "ts"
                else f
                for f in schema.fields
            ]
        )
        df = spark.read.schema(schema).parquet(path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def register_duck_view(con, sf_dir: str, name: str) -> None:
    """Register ``<sf_dir>/<name>.parquet`` as DuckDB view `name`. The
    table may be one parquet file (the shipped testdata) or a directory
    of part files, as Spark's ``df.write.parquet`` leaves it; DuckDB
    reads the directory only through a glob."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
