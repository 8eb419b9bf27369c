"""Quoting for Spark SQL expression text.

The ETL path builds its DataFrames from SQL expression text
(``selectExpr`` / ``where`` / ``F.expr``): one JVM call per DataFrame step
instead of one per ``F.col``, ``.cast``, ``.alias`` and ``when``. Every
identifier and literal in that text goes through one of these renderers.
"""

from __future__ import annotations

import calendar
import datetime
import decimal
import time


def quote_ident(name: str) -> str:
    """A backtick-quoted identifier; an embedded backtick is doubled."""
    return "`" + name.replace("`", "``") + "`"


def quote_str(value: str) -> str:
    """A single-quoted string literal. Spark unescapes ``\\`` sequences in
    string literals, so both the backslash and the quote are escaped."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_literal(value) -> str:
    """The SQL literal of a Python value, typed as ``F.lit`` types it:
    ints stay INT (BIGINT past 32 bits), floats DOUBLE, strings STRING.

    Datetimes follow pyspark's py4j converters. A naive one is a
    TIMESTAMP_NTZ of its wall clock when ``spark.sql.timestampType``
    prefers that type. Otherwise a datetime is the TIMESTAMP instant it
    names; a naive one is read in the Python process's local time zone."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, decimal.Decimal):
        return f"{value}BD"
    if isinstance(value, str):
        return quote_str(value)
    if isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            from pyspark.sql.utils import is_timestamp_ntz_preferred

            if is_timestamp_ntz_preferred():
                return f"TIMESTAMP_NTZ '{value.isoformat(' ', 'microseconds')}'"
            seconds = time.mktime(value.timetuple())
        else:
            seconds = calendar.timegm(value.utctimetuple())
        return f"timestamp_micros({int(seconds) * 1_000_000 + value.microsecond})"
    if isinstance(value, datetime.date):
        return f"DATE '{value.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(value).__name__} value {value!r}")
