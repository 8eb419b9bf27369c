"""Adversarial-events smoke: the driver regenerates /root/testdata between
rounds and the events table has already changed encoding once (ns→µs ts in
round 3). Run EVERY events/orders-grain operator added this round over a
synthesized edge-case pair — empty-ish types, a single-day burst, negative
and zero values, duplicate timestamps, a user with one event, value
extremes — and require each to produce a result (no exception,
deterministic count on a repeat run). The events twin of
test_corpus_robustness."""

import datetime as dt

import pytest

from cdmx_airquality_etl_spark.registry import QUERIES

# this session's event/order-grain operator modules
EVENT_MODULES = {
    "timeseries",
    "behavior",
    "semantics",
    "bitwise_ops",
    "audit_ops",
    "quantile_calib",
    "privacy",
    "retail",
    "spatial",
    "tpch_ext",
    "ops_metrics",
}

# members that read documents/embeddings (covered by the corpus battery)
_NON_EVENT = {"q_gini_sources", "q_auc_rank", "q_ndcg"}

EVENT_QUERIES = sorted(
    name
    for name, fn in QUERIES.items()
    if fn.__module__.rsplit(".", 1)[-1] in EVENT_MODULES
    and name not in _NON_EVENT
)


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_events")
    t0 = dt.datetime(2024, 1, 1)

    def ts(day, sec=0):
        return t0 + dt.timedelta(days=day, seconds=sec)

    events = [
        # a single-day burst of one type
        *[(i, ts(0, i), 1, "click", 10.00, '{"k": 1}') for i in range(5)],
        # duplicate timestamps, distinct event ids
        (10, ts(1), 2, "view", 0.0, '{"k": 0}'),
        (11, ts(1), 2, "view", 0.0, '{"k": 0}'),
        # zero and extreme values
        (12, ts(2), 3, "purchase", 0.01, '{"k": 100}'),
        (13, ts(3), 3, "error", 99999.99, '{"k": 5}'),
        # a user with exactly one event, late in the window
        (14, ts(20), 4, "signup", 5.55, '{"k": 2}'),
        # purchase BEFORE any view for user 5 (conversion-lag edge)
        (15, ts(4), 5, "purchase", 7.00, '{"k": 3}'),
        (16, ts(5), 5, "view", 1.00, '{"k": 1}'),
        # signup then clicks spanning versions (temporal-lookup edge)
        (17, ts(6), 6, "signup", 1.0, '{"k": 1}'),
        (18, ts(7), 6, "click", 2.0, '{"k": 1}'),
        (19, ts(8), 6, "signup", 3.0, '{"k": 1}'),
        (20, ts(9), 6, "click", 4.0, '{"k": 1}'),
    ]
    spark.createDataFrame(
        events,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    # tiny TPC-H-ish side: 1 nation/region pair short of full coverage,
    # customers without orders, one single-line order, tied prices
    spark.createDataFrame(
        [(0, "NATION_0", 0), (1, "NATION_1", 0), (2, "NATION_2", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(0, "R0"), (1, "R1")], "r_regionkey int, r_name string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/region.parquet")
    spark.createDataFrame(
        [
            (1, "Customer#1", 0, 100.0, "BUILDING"),
            (2, "Customer#2", 1, -5.0, "MACHINERY"),  # negative balance
            (3, "Customer#3", 2, 100.0, "BUILDING"),  # tied balance, no orders
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [
            (1, 1, "F", 1000.0, dt.datetime(1996, 2, 1), "1-URGENT"),
            (2, 1, "O", 1000.0, dt.datetime(1996, 3, 1), "5-LOW"),  # tied price
            (3, 2, "F", 2000.0, dt.datetime(2001, 7, 1), "3-MEDIUM"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", dt.datetime(1996, 3, 1)),
            (2, 2, 1, 1, 50.0, 900.0, 0.0, 0.0, "R", "F", dt.datetime(1996, 7, 1)),
            (3, 1, 2, 1, 1.0, 50.0, 0.07, 0.01, "A", "F", dt.datetime(1996, 2, 15)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [
            (1, "small widget", "Brand#1", "LARGE", 5, 100.0),
            (2, "large bolt", "Brand#2", "PROMO", 50, 50.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/part.parquet")
    spark.createDataFrame(
        [(1, "Supplier#1", 0, 10.0), (2, "Supplier#2", 2, 10.0)],  # tied acctbal
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    return str(d)


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_operator_survives_edge_events(spark, edge_dir, name):
    n1 = QUERIES[name](spark, edge_dir).count()
    assert n1 >= 0
    n2 = QUERIES[name](spark, edge_dir).count()
    assert n2 == n1, f"{name} row count not stable across re-runs"
