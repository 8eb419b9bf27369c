"""Semantics + plan-shape tests for the TPC-H Q12/Q16/Q20 shapes in
operators/tpch_ext.py — with them, 22/22 TPC-H plan families are covered."""

import pandas as pd
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import query_plan, read_pandas


# ---------------------------------------------------------------------------
# q_tpch_shipmode_priority (Q12)
# ---------------------------------------------------------------------------
def test_shipmode_priority_matches_pandas(spark, sf_dir):
    rows = {r["ship_class"]: r for r in QUERIES["q_tpch_shipmode_priority"](spark, sf_dir).collect()}
    li = read_pandas(sf_dir, "lineitem")
    orders = read_pandas(sf_dir, "orders")
    m = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    m["ship"] = pd.to_datetime(m["l_shipdate"])
    m["odate"] = pd.to_datetime(m["o_orderdate"])
    m = m[
        (m.ship >= "1996-01-01")
        & (m.ship < "1997-01-01")
        & (m.ship > m.odate + pd.Timedelta(days=30))
    ]
    m["cls"] = m["l_linenumber"].map(lambda n: "EVEN" if n % 2 == 0 else "ODD")
    m["high"] = m["o_orderpriority"].isin(["1-URGENT", "2-HIGH"])
    for cls, g in m.groupby("cls"):
        assert rows[cls]["high_line_count"] == int(g["high"].sum())
        assert rows[cls]["low_line_count"] == int((~g["high"]).sum())


def test_shipmode_priority_single_aggregate(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_shipmode_priority")
    assert "Union" not in plan  # one conditional pass, not two scans


# ---------------------------------------------------------------------------
# q_tpch_parts_supplier_count (Q16)
# ---------------------------------------------------------------------------
def test_parts_supplier_count_matches_pandas(spark, sf_dir):
    rows = {(r["p_type"], r["size_band"]): r for r in QUERIES["q_tpch_parts_supplier_count"](spark, sf_dir).collect()}
    li = read_pandas(sf_dir, "lineitem")[["l_partkey", "l_suppkey"]].drop_duplicates()
    part = read_pandas(sf_dir, "part")
    part = part[part.p_brand != "Brand#1"]
    m = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    m["band"] = m["p_size"] // 10
    for (ptype, band), g in m.groupby(["p_type", "band"]):
        r = rows[(ptype, band)]
        assert r["supplier_cnt"] == g["l_suppkey"].nunique()
        assert r["part_cnt"] == g["p_partkey"].nunique()


# ---------------------------------------------------------------------------
# q_tpch_concentrated_suppliers (Q20)
# ---------------------------------------------------------------------------
def test_concentrated_suppliers_gate_holds(spark, sf_dir):
    rows = QUERIES["q_tpch_concentrated_suppliers"](spark, sf_dir).collect()
    assert rows, "the corpus must surface at least one over-indexed supplier"
    for r in rows:
        assert 6 * r["widget_qty"] > r["total_qty"]
        assert r["widget_qty"] <= r["total_qty"]


def test_concentrated_suppliers_one_fact_scan_two_aggs(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_concentrated_suppliers")
    assert "BroadcastHashJoin" in plan
