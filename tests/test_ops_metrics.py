"""Semantics tests for the operational-metrics batch
(operators/ops_metrics.py)."""

import pandas as pd

from cdmx_airquality_etl_spark.operators.ops_metrics import _AGE_BUCKET_DAYS
from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import read_pandas


def test_seasonal_profile_weighted_mean_is_one(spark, sf_dir):
    rows = QUERIES["q_seasonal_profile"](spark, sf_dir).collect()
    ev = read_pandas(sf_dir, "events")
    ev["day"] = (pd.to_datetime(ev["ts"]).dt.normalize() - pd.Timestamp("1970-01-01")).dt.days
    daily = ev.groupby("day").size()
    n_days, total = len(daily), daily.sum()
    for r in rows:
        sub = daily[daily.index % 7 == r["dow"]]
        assert r["n_days_dow"] == len(sub)
        assert r["n_events"] == sub.sum()
        assert abs(r["seasonal_index"] - (sub.sum() * n_days) / (len(sub) * total)) < 1e-12
    # the day-weighted mean of indices is exactly 1
    wmean = sum(r["seasonal_index"] * r["n_days_dow"] for r in rows) / n_days
    assert abs(wmean - 1.0) < 1e-9


def test_order_cycle_time_matches_pandas(spark, sf_dir):
    rows = {r["o_orderpriority"]: r for r in QUERIES["q_order_cycle_time"](spark, sf_dir).collect()}
    orders = read_pandas(sf_dir, "orders")
    li = read_pandas(sf_dir, "lineitem")
    m = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    m["od"] = pd.to_datetime(m["o_orderdate"]).dt.normalize()
    m["sd"] = pd.to_datetime(m["l_shipdate"]).dt.normalize()
    per = m.groupby(["o_orderkey", "o_orderpriority"]).agg(
        first=("sd", "min"), last=("sd", "max"), od=("od", "first")
    )
    per["fd"] = (per["first"] - per["od"]).dt.days
    per["ld"] = (per["last"] - per["od"]).dt.days
    for pri, g in per.groupby(level="o_orderpriority"):
        r = rows[pri]
        assert r["n_orders"] == len(g)
        assert r["min_first_ship"] == g["fd"].min()
        assert abs(r["avg_first_ship"] - g["fd"].sum() / len(g)) < 1e-12
        assert r["max_last_ship"] == g["ld"].max()
        # shipping can't finish before it starts
        assert r["avg_last_ship"] >= r["avg_first_ship"]


def test_backlog_aging_counts_open_orders(spark, sf_dir):
    rows = QUERIES["q_backlog_aging"](spark, sf_dir).collect()
    orders = read_pandas(sf_dir, "orders")
    open_o = orders[orders.o_orderstatus == "O"].copy()
    horizon = pd.to_datetime(orders["o_orderdate"]).max().normalize()
    open_o["age"] = (horizon - pd.to_datetime(open_o["o_orderdate"]).dt.normalize()).dt.days
    assert sum(r["n_open"] for r in rows) == len(open_o)
    for r in rows:
        sub = open_o[
            (open_o.o_orderpriority == r["o_orderpriority"])
            & (open_o.age // _AGE_BUCKET_DAYS == r["age_bucket"])
        ]
        assert r["n_open"] == len(sub)
        assert r["oldest_days"] == sub["age"].max()
        assert r["age_bucket"] >= 0
