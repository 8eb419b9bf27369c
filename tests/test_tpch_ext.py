"""Semantics + plan-shape tests for the TPC-H decision-support batch A
(Q4/Q6/Q13/Q14/Q17/Q18/Q19 shapes in operators/tpch_ext.py)."""

from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.tpch_ext import _Q18_MIN_QTY
from cdmx_airquality_etl_spark.registry import QUERIES
from cdmx_airquality_etl_spark.sources.parquet import load_table
from tests.helpers import query_plan


# ---------------------------------------------------------------------------
# q_tpch_priority_exists (Q4)
# ---------------------------------------------------------------------------
def test_priority_exists_counts_match_manual(spark, sf_dir):
    rows = {
        r["o_orderpriority"]: r["order_count"]
        for r in QUERIES["q_tpch_priority_exists"](spark, sf_dir).collect()
    }
    # manual replay: orders in the quarter with at least one late line
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    manual = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert rows == {r["o_orderpriority"]: r["count"] for r in manual}


def test_priority_exists_plans_semi_join(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_priority_exists")
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    assert "PushedFilters" in plan  # quarter filter reaches the orders scan


# ---------------------------------------------------------------------------
# q_tpch_forecast_revenue (Q6)
# ---------------------------------------------------------------------------
def test_forecast_revenue_positive_single_row(spark, sf_dir):
    rows = QUERIES["q_tpch_forecast_revenue"](spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["revenue"] > 0


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_forecast_revenue")
    assert "PushedFilters" in plan
    # projection pruned to the three needed columns
    assert "l_returnflag" not in plan.split("ReadSchema")[1][:400]


# ---------------------------------------------------------------------------
# q_tpch_cust_distribution (Q13)
# ---------------------------------------------------------------------------
def test_cust_distribution_includes_zero_bucket(spark, sf_dir):
    rows = {r["c_count"]: r["custdist"] for r in
            QUERIES["q_tpch_cust_distribution"](spark, sf_dir).collect()}
    # totals must add back to the customer count (every customer lands in
    # exactly one bucket — the zero-fill property the LEFT JOIN exists for)
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(rows.values()) == n_cust


# ---------------------------------------------------------------------------
# q_tpch_promo_effect (Q14)
# ---------------------------------------------------------------------------
def test_promo_effect_is_a_share(spark, sf_dir):
    rows = QUERIES["q_tpch_promo_effect"](spark, sf_dir).collect()
    assert len(rows) == 1
    assert 0.0 <= rows[0]["promo_revenue"] <= 100.0


def test_promo_effect_single_agg_pass(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_promo_effect")
    assert "BroadcastHashJoin" in plan
    # one aggregate pass over the join, not two per-branch scans unioned
    assert "Union" not in plan


# ---------------------------------------------------------------------------
# q_tpch_small_qty (Q17)
# ---------------------------------------------------------------------------
def test_small_qty_threshold_exact(spark, sf_dir):
    rows = QUERIES["q_tpch_small_qty"](spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0]["avg_yearly"] > 0
    # replay: every surviving line is strictly under 20% of its part's avg
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    stats = joined.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    survivors = (
        joined.join(stats, "l_partkey")
        .filter(F.lit(5) * F.col("l_quantity").cast("bigint") * F.col("c") < F.col("s"))
        .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / F.lit(7.0)).alias("v"))
        .collect()[0]["v"]
    )
    assert rows[0]["avg_yearly"] == survivors


def test_small_qty_broadcasts_part_avg(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_small_qty")
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# q_tpch_large_volume (Q18)
# ---------------------------------------------------------------------------
def test_large_volume_rows_exceed_threshold(spark, sf_dir):
    rows = QUERIES["q_tpch_large_volume"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert r["sum_qty"] > _Q18_MIN_QTY
    prices = [r["o_totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_large_volume_topk_not_global_sort(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_large_volume")
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# q_tpch_disjunctive (Q19)
# ---------------------------------------------------------------------------
def test_disjunctive_matches_union_of_branches(spark, sf_dir):
    got = QUERIES["q_tpch_disjunctive"](spark, sf_dir).collect()[0]["revenue"]
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    qty, size = F.col("l_quantity"), F.col("p_size")
    branches = [
        (F.col("p_brand") == "Brand#1") & size.between(1, 5) & qty.between(1, 11),
        (F.col("p_brand") == "Brand#2") & size.between(1, 10) & qty.between(10, 20),
        (F.col("p_brand") == "Brand#3") & size.between(1, 15) & qty.between(20, 30),
    ]
    # branches are disjoint on brand, so the OR equals the sum of branches
    total = 0.0
    for b in branches:
        v = (
            j.filter(b)
            .agg(F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")).alias("v"))
            .collect()[0]["v"]
        )
        total += float(v or 0)
    assert abs(got - total) < 1e-6


def test_disjunctive_derives_scan_filters(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_disjunctive")
    assert "BroadcastHashJoin" in plan
    # Catalyst derives a single-side residual for the part scan from the OR
    assert "p_brand" in plan
