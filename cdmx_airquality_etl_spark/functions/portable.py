"""Expressions that Spark and the DuckDB oracles must compute alike.

Every registered query is hash-compared against its DuckDB oracle, so where
a result depends on how text is tokenized or fingerprinted, how a string
hashes to an integer, or how a float column is summed, both engines must
compute it bit for bit. Each of those rules is stated once here: a Spark
Column builder and, next to it, the oracle SQL text it equals (the ``sql_``
twin takes and returns DuckDB SQL text).

- ``tokens`` / ``sql_tokens``: lowercase, trim, split on whitespace runs.
- ``content_fingerprint`` / ``sql_content_fingerprint``: the exact-dedup
  identity, md5 of the lowercased, trimmed text with each whitespace run
  collapsed to one space. Spark's ``regexp_replace`` replaces every match,
  DuckDB's only with the ``'g'`` flag.
- ``md5_int`` / ``sql_md5_int``: the first ``nchars`` hex digits of md5
  decoded to a BIGINT. Spark decodes with ``conv``; DuckDB has no ``conv``
  and decodes each digit by its position in the hex alphabet. The integers
  are identical, which is what lets the seeded MinHash/SimHash/sketch
  pipelines carry exact oracles (xxhash64/murmur3 exist only in Spark).
  ``nchars`` <= 15 keeps the value inside a signed BIGINT.
- ``exact_sum`` / ``sql_exact_sum``: a double sum taken through
  ``DECIMAL(18, scale)`` and cast back to double. The decimal sum is exact
  and so independent of partial-aggregation order; a plain double sum can
  differ in the last ulp between engines and between runs.
- ``split_bucket`` / ``sql_split_bucket``: the content-hash split and
  sampling bucket, the ASCII code of hex digit ``k`` of md5 of an id's
  string form, modulo ``m``. md5 renders lowercase hex in both engines, so
  every id lands in the same bucket in either one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased, trimmed text."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def sql_tokens(expr: str) -> str:
    """DuckDB SQL text of ``tokens`` over the SQL expression ``expr``."""
    return f"string_split_regex(trim(lower({expr})), '\\s+')"


def content_fingerprint(col: Column) -> Column:
    """The exact-dedup content identity. The exact-dedup queries group on
    it and the streaming dedup and corpus-ingest paths key on it, so a
    document has one identity in batch and in stream."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "))


def sql_content_fingerprint(expr: str) -> str:
    """DuckDB SQL text of ``content_fingerprint`` over the SQL expression ``expr``."""
    return f"md5(regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g'))"


def md5_int(col: Column, nchars: int) -> Column:
    """The first ``nchars`` hex digits of md5 of ``col`` as a BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, nchars), 16, 10).cast("long")


def sql_md5_int(expr: str, nchars: int) -> str:
    """DuckDB SQL text of ``md5_int`` over the SQL expression ``expr``."""
    return (
        "("
        + " + ".join(
            f"(strpos('{_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1) * "
            f"{16 ** (nchars - 1 - i)}"
            for i in range(nchars)
        )
        + ")"
    )


def split_bucket(col: str, k: int, m: int) -> Column:
    """ASCII code of hex digit ``k`` (1-based) of md5 of column ``col`` as a
    string, mod ``m``."""
    return F.ascii(F.substring(F.md5(F.col(col).cast("string")), k, 1)) % m


def sql_split_bucket(expr: str, k: int, m: int) -> str:
    """DuckDB SQL text of ``split_bucket`` over the SQL expression ``expr``."""
    return f"ascii(substr(md5(CAST({expr} AS VARCHAR)), {k}, 1)) % {m}"


def exact_sum(col: Column, scale: int = 2) -> Column:
    """Order-independent double sum: through DECIMAL(18, scale), back to double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def sql_exact_sum(expr: str, scale: int = 2) -> str:
    """DuckDB SQL text of ``exact_sum`` over the SQL expression ``expr``."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
