from .dates import date_part_columns, pack_report_ts, unpack_report_ts
from .extract import map_decode, svg_basename
from .portable import (
    content_fingerprint,
    exact_sum,
    md5_int,
    sql_content_fingerprint,
    sql_exact_sum,
    sql_md5_int,
    sql_split_bucket,
    sql_tokens,
    split_bucket,
    tokens,
)
from .text import (
    fold_accents,
    normalize_text_col,
    normalize_text_nfkd,
    normalize_text_py,
    word_shingles,
)

__all__ = [
    "date_part_columns",
    "pack_report_ts",
    "unpack_report_ts",
    "map_decode",
    "svg_basename",
    "fold_accents",
    "normalize_text_col",
    "normalize_text_nfkd",
    "normalize_text_py",
    "word_shingles",
    "tokens",
    "sql_tokens",
    "content_fingerprint",
    "sql_content_fingerprint",
    "md5_int",
    "sql_md5_int",
    "exact_sum",
    "sql_exact_sum",
    "split_bucket",
    "sql_split_bucket",
]
