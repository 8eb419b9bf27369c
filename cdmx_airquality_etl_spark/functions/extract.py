"""Pattern-extraction functions, as SQL renderers.

Generalizes F-IMG (/root/reference/scrapper.py:101-102: ``<img src>`` →
svg basename) and the reference's dictionary decode F-DICT
(scrapper.py:49 + config.yaml:5-17). Each helper takes a column name or SQL
expression text and returns SQL text (``F.expr`` of it is the Column).
"""

from __future__ import annotations

from itertools import chain

from .sql import quote_str, sql_literal

_SVG_BASENAME = quote_str(r"([^/]+)[.]svg$")


def svg_basename(expr: str) -> str:
    """`.../buena.svg` → `buena` (scrapper.py:101-102), as a single
    regexp_extract instead of split+replace."""
    return f"regexp_extract({expr}, {_SVG_BASENAME}, 1)"


def map_decode(expr: str, mapping: dict) -> str:
    """Small-dictionary decode as a literal MAP lookup (F-DICT,
    scrapper.py:49). For maps this size Catalyst constant-folds the literals;
    for anything bigger use a broadcast dim join instead."""
    kv = ", ".join(sql_literal(x) for x in chain.from_iterable(mapping.items()))
    return f"map({kv})[{expr}]"
