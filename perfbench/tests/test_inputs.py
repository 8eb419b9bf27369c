"""Determinism and shape tests for the benchmark's input generators.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402


def test_report_pages_are_deterministic():
    a = inputs.page_batch(7, [0, 1, 2], [0, 0, 1])
    b = inputs.page_batch(7, [0, 1, 2], [0, 0, 1])
    assert a.equals(b)
    assert not a.equals(inputs.page_batch(8, [0, 1, 2], [0, 0, 1]))


def test_report_page_shape():
    # 2024-01-03 is a Wednesday, 2024-01-06 a Saturday
    wednesday = inputs.report_page(1, 2 * 24 + 14)
    assert "14 h, miércoles 3 de enero de 2024" in wednesday
    assert "sábado 6 de enero" in inputs.report_page(1, 5 * 24)
    assert wednesday.count('.svg">') == len(inputs.CDMX_STATIONS) + len(inputs.EDOMEX_STATIONS)
    # one malformed (<4-cell) row per station table
    assert wednesday.count("<tr><td>N/D</td><td>sin datos</td></tr>") == 2
    assert inputs.report_ts(2 * 24 + 14) == 2024010314


def test_redelivery_redraws_readings_for_the_same_hour():
    first, again = inputs.report_page(3, 40, 0), inputs.report_page(3, 40, 1)
    assert first != again
    hora = '<div id="textohora">'
    assert first.split(hora)[1].split("<")[0] == again.split(hora)[1].split("<")[0]


def test_query_tables_are_deterministic():
    a = inputs.query_tables(5, 0.001)
    b = inputs.query_tables(5, 0.001)
    assert sorted(a) == sorted(b)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(inputs.query_tables(6, 0.001)["lineitem"])
    assert a["orders"].num_rows == 1500 and a["lineitem"].num_rows == 6000


def test_documents_plant_duplicates():
    docs = inputs.query_tables(5, 0.01)["documents"].column("text").to_pylist()
    assert len(set(docs)) < len(docs)


def test_orders_snapshots_redeliver_known_keys():
    a = inputs.orders_snapshot(9, 3, range(100, 150), 20, 100)
    assert a.equals(inputs.orders_snapshot(9, 3, range(100, 150), 20, 100))
    keys = a.column("o_orderkey").to_pylist()
    assert keys[:50] == list(range(100, 150))
    redelivered = keys[50:]
    assert len(redelivered) == len(set(redelivered)) == 20
    assert all(k < 100 for k in redelivered)
    assert inputs.orders_snapshot(9, 0, range(10), 5, 0).num_rows == 10


def test_events_snapshots_are_deterministic():
    a = inputs.events_snapshot(4, 2, 1000, 300)
    assert a.equals(inputs.events_snapshot(4, 2, 1000, 300))
    assert a.column("event_id").to_pylist() == list(range(1000, 1300))
    assert not a.equals(inputs.events_snapshot(4, 3, 1000, 300))
