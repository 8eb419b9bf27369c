"""Registry integrity: the driver contract demands every query either carry a
DuckDB oracle or be on the declared rows-only list with a reason — a query
can never silently lose its correctness check."""

import hashlib
import os
import warnings

import pytest

from cdmx_airquality_etl_spark.registry import (
    ORACLE_FACTORIES,
    ORACLES,
    QUERIES,
    resolve_oracles,
)

# The exhaustive rows-only allowlist. Adding a query without an oracle fails
# this test until it is justified here (SURVEY.md §7: only genuinely
# non-SQL-expressible ops qualify).
ROWS_ONLY: dict[str, str] = {}
# EMPTY since round 8: every registered query carries an exact oracle.
# (q_compression_ratio left in round 7 via the fixture-corpus calibration;
# q_multimodal_decode left in round 8 — the decode now runs a real
# pure-stdlib PPM parse over a deterministic fixture corpus whose exact
# channel sums DuckDB recomputes from the generating formula. The driver's
# rows-only branch is dead code from here on.)

CHECKED = set(ORACLES) | set(ORACLE_FACTORIES)


# sha256 of "\n".join(QUERIES): the 312 registered names, in registration order.
QUERY_ORDER_SHA256 = "ad55cf5c9bdfcf960e17a90064fb7a76c3e06fa0d8326edfe576d0db2955fde0"


def test_query_order_is_pinned():
    got = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    assert got == QUERY_ORDER_SHA256, (
        f"QUERIES order changed (sha256 {got[:16]}, {len(QUERIES)} names): the "
        "registration order is load-bearing for the driver bench's cold "
        "overhead and the ROTATE sample positions. If the change is "
        "deliberate, re-pin the hash and re-baseline both."
    )


def test_every_query_is_checked():
    missing = set(QUERIES) - CHECKED - set(ROWS_ONLY)
    assert not missing, f"queries with neither oracle nor rows-only reason: {missing}"


def test_rows_only_list_is_tight():
    stale = set(ROWS_ONLY) & CHECKED
    assert not stale, f"rows-only entries that now have oracles: {stale}"
    unknown = set(ROWS_ONLY) - set(QUERIES)
    assert not unknown, f"rows-only entries for unregistered queries: {unknown}"


def test_oracle_column_aliases_present():
    # every oracle must alias aggregates (driver compares by column name);
    # cheap proxy: no bare "count(" in a SELECT without AS nearby is hard to
    # parse robustly, so instead pin the invariant that made round 1 pass:
    # oracle text and registry stay non-empty and 1:1 with queries
    assert len(QUERIES) >= 68
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_oracle_factories_render_without_degrading(sf_dir, sf):
    # resolve_oracles degrades a failing factory to a rows-only check with
    # a warning; on the shipped testdata no factory may take that path
    data_dir = os.path.join(os.path.dirname(sf_dir), sf)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        oracles = resolve_oracles(data_dir)
    assert not [str(w.message) for w in caught]
    assert ORACLE_FACTORIES  # non-vacuous
    for name in ORACLE_FACTORIES:
        assert oracles[name].strip(), name


def test_failing_oracle_factory_warns_and_degrades(monkeypatch):
    def broken(_sf_dir):
        raise FileNotFoundError("embeddings.parquet")

    monkeypatch.setattr(
        "cdmx_airquality_etl_spark.registry.ORACLE_FACTORIES",
        {"q_broken_factory": broken},
    )
    with pytest.warns(UserWarning, match="q_broken_factory: oracle factory failed"):
        oracles = resolve_oracles("unused")
    assert "q_broken_factory" not in oracles
