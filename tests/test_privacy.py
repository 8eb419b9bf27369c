"""Semantics tests for the privacy-governance batch (operators/privacy.py)."""

import math

from cdmx_airquality_etl_spark.operators.privacy import _BAL_BAND, _K_ANON, _L_DIV
from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import read_pandas


def test_k_anonymity_matches_pandas(spark, sf_dir):
    rows = {(r["c_mktsegment"], r["c_nationkey"]): r for r in QUERIES["q_k_anonymity"](spark, sf_dir).collect()}
    cust = read_pandas(sf_dir, "customer")
    g = cust.groupby(["c_mktsegment", "c_nationkey"]).size()
    assert len(rows) == len(g)
    for (seg, nat), n in g.items():
        r = rows[(seg, nat)]
        assert r["group_size"] == n
        assert r["is_k_anonymous"] == (n >= _K_ANON)


def test_l_diversity_at_most_group_size(spark, sf_dir):
    rows = QUERIES["q_l_diversity"](spark, sf_dir).collect()
    cust = read_pandas(sf_dir, "customer")
    cust["band"] = (cust["c_acctbal"] / _BAL_BAND).map(math.floor)
    for r in rows:
        assert 1 <= r["n_sensitive"] <= r["group_size"]
        sub = cust[(cust.c_mktsegment == r["c_mktsegment"]) & (cust.c_nationkey == r["c_nationkey"])]
        assert r["n_sensitive"] == sub["band"].nunique()
        assert r["is_l_diverse"] == (r["n_sensitive"] >= _L_DIV)


def test_suppression_plan_accounts_every_record(spark, sf_dir):
    rows = QUERIES["q_suppression_plan"](spark, sf_dir).collect()
    cust = read_pandas(sf_dir, "customer")
    assert sum(r["n_records"] for r in rows) == len(cust)
    for r in rows:
        kept = r["n_records"] - r["n_suppressed"]
        assert abs(r["retention_rate"] - kept / r["n_records"]) < 1e-12
        assert 0.0 <= r["retention_rate"] <= 1.0


def test_generalization_ladder_monotone(spark, sf_dir):
    rows = {r["level"]: r for r in QUERIES["q_generalization_ladder"](spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2}
    # coarser QI -> fewer groups, and records-at-risk can only shrink
    assert rows[0]["n_groups"] >= rows[1]["n_groups"] >= rows[2]["n_groups"]
    assert rows[0]["n_records_at_risk"] >= rows[1]["n_records_at_risk"] >= rows[2]["n_records_at_risk"]
    # risk at each level equals the suppression the k-audit would demand
    k_rows = QUERIES["q_k_anonymity"](spark, sf_dir).collect()
    at_risk0 = sum(r["group_size"] for r in k_rows if not r["is_k_anonymous"])
    assert rows[0]["n_records_at_risk"] == at_risk0


def test_t_closeness_bounds_and_degenerate_group(spark, sf_dir):
    from cdmx_airquality_etl_spark.registry import QUERIES

    rows = QUERIES["q_t_closeness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["t_distance"] <= 1.0  # TV distance over distributions
        assert r["within_t"] == (1 if r["t_distance"] <= 0.2 else 0)
    # mass check: group sizes sum to the table
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    assert sum(r["group_size"] for r in rows) == load_table(
        spark, sf_dir, "customer"
    ).count()
