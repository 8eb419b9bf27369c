"""Semantics tests for the warehouse-audit batch (operators/audit_ops.py)."""

import hashlib

import pandas as pd

from cdmx_airquality_etl_spark.operators.audit_ops import _CAPTURE_MOD
from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import read_pandas


def test_recon_totals_matches_pandas(spark, sf_dir):
    rows = {r["month"]: r for r in QUERIES["q_recon_totals"](spark, sf_dir).collect()}
    orders = read_pandas(sf_dir, "orders")
    li = read_pandas(sf_dir, "lineitem")
    orders["month"] = pd.to_datetime(orders["o_orderdate"]).dt.strftime("%Y-%m")
    merged = li.merge(orders[["o_orderkey", "month"]], left_on="l_orderkey", right_on="o_orderkey")
    for month, g in list(orders.groupby("month"))[:12]:
        r = rows[month]
        assert abs(r["rev_orders"] - round(g["o_totalprice"].sum(), 2)) < 1e-6
        sub = merged[merged.month == month]
        scaled = (
            (sub["l_extendedprice"] * 100).round().astype("int64")
            * (100 - (sub["l_discount"] * 100).round().astype("int64"))
            * (100 + (sub["l_tax"] * 100).round().astype("int64"))
        ).sum()
        assert r["rev_lineitem"] == scaled / 1e6
        assert abs(r["abs_diff"] - (r["rev_orders"] - r["rev_lineitem"])) < 1e-9


def test_temporal_lookup_each_click_matches_one_version(spark, sf_dir):
    rows = QUERIES["q_temporal_lookup"](spark, sf_dir).collect()
    assert rows
    ev = read_pandas(sf_dir, "events")
    ev["ts"] = pd.to_datetime(ev["ts"])
    total_assigned = sum(r["n_clicks"] for r in rows)
    # replay: count clicks that fall inside some signup version interval
    expect = 0
    for uid, g in ev.groupby("user_id"):
        signups = g[g.event_type == "signup"].sort_values(["ts", "value"])
        clicks = g[g.event_type == "click"]
        if len(signups) == 0:
            continue
        first = signups["ts"].iloc[0]
        expect += int((clicks["ts"] >= first).sum())
    # intervals partition [first_signup, inf) => every such click matches once
    assert total_assigned == expect


def test_capture_recapture_estimator(spark, sf_dir):
    r = QUERIES["q_capture_recapture"](spark, sf_dir).collect()[0]
    cust = read_pandas(sf_dir, "customer")

    def mark(p, k):
        return int(hashlib.md5(f"{p}|{int(k)}".encode()).hexdigest()[:12], 16) % _CAPTURE_MOD == 0

    n1 = sum(mark("a", k) for k in cust["c_custkey"])
    n2 = sum(mark("b", k) for k in cust["c_custkey"])
    m = sum(mark("a", k) and mark("b", k) for k in cust["c_custkey"])
    assert (r["true_n"], r["n1"], r["n2"], r["m"]) == (len(cust), n1, n2, m)
    assert abs(r["estimate"] - n1 * n2 / m) < 1e-9
    # the two deterministic captures are effectively independent, so the
    # estimate lands within a loose band of the truth
    assert 0.5 * len(cust) < r["estimate"] < 2.0 * len(cust)
