"""Text functions: normalization, tokenization, shingling.

Generalizes the reference's workhorse scalar ``normalize_text``
(/root/reference/scrapper.py:20-26: NFKD decompose → strip non-ASCII →
lowercase → spaces→underscore) and its split/replace/substring helpers
(scrapper.py:38,41,45).

Two implementations of the normalize, per SURVEY.md §7 "hard parts":

- ``normalize_text_col`` — a SQL renderer: given a column name or SQL
  expression text it returns the SQL text of the native normalize
  (translate-based accent fold + lower/trim/regexp_replace). Wrap it in
  ``F.expr`` for a Column, or put it in ``selectExpr`` / ``where`` text: the
  whole expression then costs one JVM call to build instead of one per
  function. Stays inside WholeStageCodegen, no Python in the hot path;
  exact for the Spanish/Latin-1 domain the reference actually sees
  (alcaldía names, month names). ``fold_accents`` is its accent-fold part.
- ``normalize_text_nfkd`` — Arrow-batched pandas UDF doing the exact NFKD →
  ascii-ignore fold of the reference, for inputs outside the translate
  table's domain. The slow path, kept off by default.

``word_shingles`` builds a Column over ``portable.tokens`` (generalizes
scrapper.py:41's split-and-drop-empties).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from .portable import tokens
from .sql import quote_str

# Accent-fold table covering the Latin/Spanish domain of the reference data
# (scrapper.py:23-24's NFKD+ascii-ignore restricted to chars that actually
# fold 1:1). Built from a dict so src/dst can never get out of alignment.
_ACCENT_MAP = {
    "á": "a", "à": "a", "â": "a", "ä": "a", "ã": "a", "å": "a",
    "é": "e", "è": "e", "ê": "e", "ë": "e",
    "í": "i", "ì": "i", "î": "i", "ï": "i",
    "ó": "o", "ò": "o", "ô": "o", "ö": "o", "õ": "o",
    "ú": "u", "ù": "u", "û": "u", "ü": "u",
    "ñ": "n", "ç": "c", "ý": "y",
    "Á": "A", "À": "A", "Â": "A", "Ä": "A", "Ã": "A", "Å": "A",
    "É": "E", "È": "E", "Ê": "E", "Ë": "E",
    "Í": "I", "Ì": "I", "Î": "I", "Ï": "I",
    "Ó": "O", "Ò": "O", "Ô": "O", "Ö": "O", "Õ": "O",
    "Ú": "U", "Ù": "U", "Û": "U", "Ü": "U",
    "Ñ": "N", "Ç": "C", "Ý": "Y",
}
_ACCENT_SRC = "".join(_ACCENT_MAP)
_ACCENT_DST = "".join(_ACCENT_MAP.values())
_ACCENT_SQL_SRC = quote_str(_ACCENT_SRC)
_ACCENT_SQL_DST = quote_str(_ACCENT_DST)
_WHITESPACE_RUN = quote_str(r"\s+")


def fold_accents(expr: str) -> str:
    """SQL text of the native accent fold (á→a … ñ→n) of ``expr`` (a column
    name or SQL text) — a char-map ``translate``, codegen'd."""
    return f"translate({expr}, {_ACCENT_SQL_SRC}, {_ACCENT_SQL_DST})"


def normalize_text_col(expr: str) -> str:
    """SQL text of the native equivalent of scrapper.py:20-26 for the Latin
    domain over ``expr`` (a column name or SQL text): accent-fold → trim →
    lower → whitespace runs → single underscore."""
    return f"regexp_replace(lower(trim({fold_accents(expr)})), {_WHITESPACE_RUN}, '_')"


def _nfkd_fold(x: str | None) -> str | None:
    if x is None:
        return None
    decomposed = unicodedata.normalize("NFKD", x)
    ascii_only = decomposed.encode("ascii", "ignore").decode("ascii")
    return ascii_only.lower().replace(" ", "_")


@pandas_udf(StringType())
def normalize_text_nfkd(s: pd.Series) -> pd.Series:
    """Exact reference semantics (scrapper.py:20-26) as an Arrow-batched UDF."""
    return s.map(_nfkd_fold)


def normalize_text_py(x: str | None) -> str | None:
    """Driver-side scalar version (for config values, column headers —
    mirrors the reference applying normalize to header cells, scrapper.py:87-88)."""
    return _nfkd_fold(x)


def word_shingles(col: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) over the ``tokens`` of a
    text column (lowercased, split on whitespace runs).

    Implementation note (hot-path shape): the naive
    ``transform(sequence(1, n-k+1), i -> concat_ws(' ', slice(w, i, k)))``
    re-evaluates the ``split`` inside the lambda for every shingle index —
    O(tokens × shingles) string splits per row (measured 40× slower at
    sf0.1). Instead we zip the words array with its own k-1 shifted slices
    (``arrays_zip`` pads the shorter arrays with NULL, ``concat_ws`` drops
    NULLs) and trim the ragged tail — every subexpression is evaluated O(1)
    times per row and the whole thing stays native/codegen'd.

    Docs shorter than k words yield a single shingle of all their words,
    never an empty array for non-empty text.
    """
    w = tokens(col)
    n = F.size(w)
    shifted = [w] + [
        F.slice(w, j + 1, F.greatest(n - j, F.lit(1))) for j in range(1, k)
    ]
    zipped = F.arrays_zip(*shifted)
    all_windows = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )
    return F.slice(all_windows, 1, F.greatest(n - (k - 1), F.lit(1)))
