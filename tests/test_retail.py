"""Semantics tests for the retail-analytics batch (operators/retail.py)."""

import pandas as pd
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.retail import _DIVISION_BRANDS
from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import query_plan, read_pandas


# ---------------------------------------------------------------------------
# q_market_basket
# ---------------------------------------------------------------------------
def test_market_basket_lift_and_support(spark, sf_dir):
    rows = QUERIES["q_market_basket"](spark, sf_dir).collect()
    assert rows
    li = read_pandas(sf_dir, "lineitem")[["l_orderkey", "l_partkey"]].drop_duplicates()
    n_orders = li["l_orderkey"].nunique()
    part_n = li.groupby("l_partkey").size()
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(set)
    for r in rows[:5]:
        pair_n = sum(1 for b in baskets if r["part_a"] in b and r["part_b"] in b)
        assert r["pair_n"] == pair_n
        assert abs(r["support"] - pair_n / n_orders) < 1e-12
        lift = pair_n * n_orders / (part_n[r["part_a"]] * part_n[r["part_b"]])
        assert abs(r["lift"] - lift) < 1e-9
        assert r["part_a"] < r["part_b"]


def test_market_basket_topk_plan(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_market_basket")
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# q_rfm
# ---------------------------------------------------------------------------
def test_rfm_scores_in_range_and_monotone(spark, sf_dir):
    rows = QUERIES["q_rfm"](spark, sf_dir).collect()
    orders = read_pandas(sf_dir, "orders")
    assert len(rows) == orders["o_custkey"].nunique()
    for r in rows:
        for s in ("r_score", "f_score", "m_score"):
            assert 1 <= r[s] <= 5
    # a customer with strictly larger monetary must have >= m_score
    by_m = sorted(rows, key=lambda r: (r["monetary"], r["c_custkey"]))
    scores = [r["m_score"] for r in by_m]
    assert scores == sorted(scores)
    # recency: most recent buyers carry the TOP r_score
    by_r = sorted(rows, key=lambda r: (r["recency_days"], r["c_custkey"]))
    assert by_r[0]["r_score"] == 5
    assert by_r[-1]["r_score"] == 1


def test_rfm_replays_aggregates(spark, sf_dir):
    rows = {r["c_custkey"]: r for r in QUERIES["q_rfm"](spark, sf_dir).collect()}
    orders = read_pandas(sf_dir, "orders")
    mx = pd.to_datetime(orders["o_orderdate"]).max().normalize()
    g = orders.groupby("o_custkey")
    for ck, sub in list(g)[:20]:
        r = rows[ck]
        assert r["frequency"] == len(sub)
        assert abs(r["monetary"] - round(sub["o_totalprice"].sum(), 2)) < 1e-6
        last = pd.to_datetime(sub["o_orderdate"]).max().normalize()
        assert r["recency_days"] == (mx - last).days


# ---------------------------------------------------------------------------
# q_abc_analysis
# ---------------------------------------------------------------------------
def test_abc_classes_partition_revenue(spark, sf_dir):
    rows = QUERIES["q_abc_analysis"](spark, sf_dir).collect()
    total = sum(r["revenue"] for r in rows)
    a_rev = sum(r["revenue"] for r in rows if r["abc_class"] == "A")
    ab_rev = a_rev + sum(r["revenue"] for r in rows if r["abc_class"] == "B")
    assert a_rev <= total * 0.8 + 1e-6
    assert ab_rev <= total * 0.95 + 1e-6
    # every part above any class-A part's revenue is also class A
    min_a = min((r["revenue"] for r in rows if r["abc_class"] == "A"), default=0)
    for r in rows:
        if r["revenue"] > min_a:
            assert r["abc_class"] == "A"
    assert {r["abc_class"] for r in rows} == {"A", "B", "C"}


# ---------------------------------------------------------------------------
# q_relational_division
# ---------------------------------------------------------------------------
def test_relational_division_buys_all_brands(spark, sf_dir):
    rows = QUERIES["q_relational_division"](spark, sf_dir).collect()
    assert rows
    li = read_pandas(sf_dir, "lineitem")
    orders = read_pandas(sf_dir, "orders")
    part = read_pandas(sf_dir, "part")
    merged = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey").merge(
        part, left_on="l_partkey", right_on="p_partkey"
    )
    target = merged[merged["p_brand"].isin(_DIVISION_BRANDS)]
    brands_per_cust = target.groupby("o_custkey")["p_brand"].nunique()
    expect = set(brands_per_cust[brands_per_cust == len(_DIVISION_BRANDS)].index)
    assert {r["c_custkey"] for r in rows} == expect
    for r in rows:
        assert r["n_brands"] == len(_DIVISION_BRANDS)


# ---------------------------------------------------------------------------
# q_top_percent
# ---------------------------------------------------------------------------
def test_top_percent_is_exact_fraction(spark, sf_dir):
    rows = QUERIES["q_top_percent"](spark, sf_dir).collect()
    assert rows
    orders = read_pandas(sf_dir, "orders")
    cust = read_pandas(sf_dir, "customer")
    seg = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    sizes = seg.groupby("c_mktsegment").size()
    got = pd.DataFrame([r.asDict() for r in rows])
    for segname, n in sizes.items():
        k = n // 100
        sub = got[got.c_mktsegment == segname]
        assert len(sub) == k
        if k:
            # the selected orders are exactly the k most expensive
            top = seg[seg.c_mktsegment == segname].nlargest(k, "o_totalprice")
            assert sub["o_totalprice"].min() >= top["o_totalprice"].min() - 1e-9
