"""Semantics + plan-shape tests for the TPC-H multi-role and nested-aggregate
queries (Q2/Q7/Q9/Q10/Q11/Q15/Q21/Q22 shapes in operators/tpch_ext.py)."""

from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.registry import QUERIES
from cdmx_airquality_etl_spark.sources.parquet import load_table
from tests.helpers import query_plan


# ---------------------------------------------------------------------------
# q_tpch_min_cost_supplier (Q2)
# ---------------------------------------------------------------------------
def test_min_cost_supplier_is_the_min(spark, sf_dir):
    rows = QUERIES["q_tpch_min_cost_supplier"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    # replay: for each returned part, no shipping supplier has lower acctbal
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    mins = {
        r["l_partkey"]: r["mn"]
        for r in li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey").agg(F.min("s_acctbal").alias("mn")).collect()
    }
    for r in rows:
        assert r["s_acctbal"] == mins[r["p_partkey"]]


def test_min_cost_supplier_broadcasts_dims(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# q_tpch_cross_border (Q7)
# ---------------------------------------------------------------------------
def test_cross_border_excludes_domestic(spark, sf_dir):
    rows = QUERIES["q_tpch_cross_border"](spark, sf_dir).collect()
    assert rows
    # all revenue positive, years limited to the band
    for r in rows:
        assert r["ship_year"] in (1996, 1997)
        assert r["revenue"] > 0


def test_cross_border_total_below_unfiltered(spark, sf_dir):
    # cross-border revenue must be strictly below all-trade revenue
    # (domestic lineitems exist in the corpus)
    rows = QUERIES["q_tpch_cross_border"](spark, sf_dir).collect()
    cb = sum(r["revenue"] for r in rows)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    total = li.agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("t")
    ).collect()[0]["t"]
    assert cb < float(total)


# ---------------------------------------------------------------------------
# q_tpch_product_profit (Q9)
# ---------------------------------------------------------------------------
def test_product_profit_covers_only_widget_parts(spark, sf_dir):
    df = QUERIES["q_tpch_product_profit"](spark, sf_dir)
    rows = df.collect()
    assert rows
    assert set(df.columns) == {"nation", "o_year", "profit"}


def test_product_profit_dims_broadcast(spark, sf_dir):
    # part/supplier/nation are hinted dimensions; the orders join is
    # deliberately un-hinted (fact-scale — AQE picks its strategy)
    plan = query_plan(spark, sf_dir, "q_tpch_product_profit")
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# q_tpch_returned_items (Q10)
# ---------------------------------------------------------------------------
def test_returned_items_ordered_topk(spark, sf_dir):
    rows = QUERIES["q_tpch_returned_items"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


# ---------------------------------------------------------------------------
# q_tpch_important_stock (Q11)
# ---------------------------------------------------------------------------
def test_important_stock_threshold_holds(spark, sf_dir):
    rows = QUERIES["q_tpch_important_stock"](spark, sf_dir).collect()
    assert rows
    # every kept part's value exceeds 0.1% of the group total; the total is
    # over ALL parts in the group (recompute from scratch)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    val = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("v"))
    )
    total = float(val.agg(F.sum("v").alias("t")).collect()[0]["t"])
    for r in rows:
        assert r["part_value"] > total * 0.001 * (1 - 1e-12)


def test_important_stock_no_collect_threshold(spark, sf_dir):
    # the scalar threshold must arrive via broadcast join, not a collect
    plan = query_plan(spark, sf_dir, "q_tpch_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# q_tpch_top_supplier (Q15)
# ---------------------------------------------------------------------------
def test_top_supplier_achieves_max(spark, sf_dir):
    rows = QUERIES["q_tpch_top_supplier"](spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("r")
    )
    mx = float(rev.agg(F.max("r").alias("m")).collect()[0]["m"])
    for r in rows:
        assert r["total_revenue"] == mx


# ---------------------------------------------------------------------------
# q_tpch_waiting_supplier (Q21)
# ---------------------------------------------------------------------------
def test_waiting_supplier_counts_positive(spark, sf_dir):
    rows = QUERIES["q_tpch_waiting_supplier"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    counts = [r["numwait"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_waiting_supplier_single_fact_shuffle(spark, sf_dir):
    # the agg reformulation must not self-join lineitem (the EXISTS/NOT
    # EXISTS phrasing would scan the fact three times)
    plan = query_plan(spark, sf_dir, "q_tpch_waiting_supplier")
    assert plan.count("lineitem.parquet") <= 2  # tree + detail mention


# ---------------------------------------------------------------------------
# q_tpch_lapsed_customers (Q22)
# ---------------------------------------------------------------------------
def test_lapsed_customers_anti_join_holds(spark, sf_dir):
    rows = QUERIES["q_tpch_lapsed_customers"](spark, sf_dir).collect()
    assert rows
    total = sum(r["numcust"] for r in rows)
    # every counted customer has above-average balance → their average
    # balance is above the overall positive-balance average
    cust = load_table(spark, sf_dir, "customer")
    n_above = cust.count()
    assert 0 < total < n_above


def test_lapsed_customers_plans_anti_join(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_lapsed_customers")
    assert "LeftAnti" in plan or "left_anti" in plan.lower()
