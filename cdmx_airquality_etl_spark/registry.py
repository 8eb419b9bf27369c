"""Query/oracle registry.

Every operator module registers its queries here; ``__spark_entry__.py``
re-exports the dicts to the driver. Keeping the Spark implementation and the
DuckDB oracle SQL side by side in the same decorator call is what keeps
column names / rounding / semantics in sync (the driver hash-compares them).

The expressions whose results both engines must compute bit for bit are
stated once, each with its Spark and DuckDB twin, in
``functions/portable.py``: whitespace tokens, the content fingerprint, the
md5 → BIGINT hash and the exact sum. Hash-stability policy for float columns
(see SURVEY.md §5.1): any aggregated monetary/double column is summed with
``exact_sum`` / ``sql_exact_sum`` (through ``DECIMAL(18, scale)``, exact and
order-independent in both engines, then back to double), so the Spark and
DuckDB values are bitwise identical regardless of partial-aggregation order.
Per-row double arithmetic is IEEE-deterministic and needs no such care.

Numeric-literal rule for oracle SQL: DuckDB parses ``0.15`` as DECIMAL, and
DECIMAL×BIGINT stays EXACT — one rounding *fewer* than Spark's double×long,
which diverges in the last ulp (bit q_mixing_weights at sf0.001). A float
literal in oracle arithmetic must either be multiplied against something
already DOUBLE (DECIMAL promotes to double, matching Spark) or be wrapped
``CAST(lit AS DOUBLE)`` first. Division by a power of two (``/ 32.0``,
``/ 64.0``) is exact in both engines and exempt.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
OracleFactory = Callable[[str], str]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Data-derived oracles: SQL that embeds artifacts computed FROM the data
# (e.g. IVF centroids trained on a deterministic sample). The factory takes
# the sf_dir the oracle will run against and returns the full SQL text.
# ``__spark_entry__.oracle_sql()`` resolves these against the driver's
# correctness scale factor; a factory that raises is simply omitted (the
# driver then records the weaker rows-only check instead of crashing).
ORACLE_FACTORIES: dict[str, OracleFactory] = {}


def register(
    name: str,
    oracle: str | None = None,
    oracle_factory: OracleFactory | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a (spark, sf_dir) -> DataFrame query, optionally with its
    DuckDB oracle SQL (static text or a data-derived factory). No oracle →
    the driver records a rows-only check (reserved for genuinely
    non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if oracle_factory is not None:
            ORACLE_FACTORIES[name] = oracle_factory
        return fn

    return deco


def resolve_oracles(sf_dir: str) -> dict[str, str]:
    """Static oracles + factory oracles rendered for ``sf_dir``. A factory
    failure degrades that one query to rows-only, with a warning, rather
    than failing the whole contract call."""
    out = dict(ORACLES)
    for name, factory in ORACLE_FACTORIES.items():
        try:
            out[name] = factory(sf_dir)
        except Exception as exc:  # noqa: BLE001 — degrade to rows-only
            warnings.warn(f"{name}: oracle factory failed ({exc!r}); rows-only check")
    return out
