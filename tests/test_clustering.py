"""Connected-components correctness on known graphs: chains require multiple
propagation rounds, cycles must terminate, separate components must not leak
labels into each other."""

from pyspark.sql import Row

from cdmx_airquality_etl_spark.operators.clustering import connected_components


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
    )


def _labels(spark, edges):
    out = connected_components(_edges_df(spark, edges), "src", "dst")
    return {r["node"]: r["label"] for r in out.collect()}


def test_two_components_and_chain(spark):
    got = _labels(spark, [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 10: 10, 11: 10, 12: 10, 13: 10}


def test_cycle_terminates(spark):
    got = _labels(spark, [(1, 2), (2, 3), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_needs_many_rounds(spark):
    n = 12
    got = _labels(spark, [(i, i + 1) for i in range(n)])
    assert got == {i: 0 for i in range(n + 1)}


def test_text_clusters_match_pairs(spark, sf_dir):
    """Every doc in a cluster must be reachable from its representative
    through the verified fuzzy-pair graph; singletons never appear."""
    from cdmx_airquality_etl_spark.registry import QUERIES

    pairs = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in QUERIES["q_dedup_fuzzy"](spark, sf_dir).collect()
    ]
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["q_dedup_text_clusters"](spark, sf_dir).collect()
    }
    nodes = {a for a, _ in pairs} | {b for _, b in pairs}
    assert set(labels) == nodes, "cluster nodes = docs with ≥1 verified pair"
    for a, b in pairs:
        assert labels[a] == labels[b], "paired docs must share a cluster"
    for node, lab in labels.items():
        assert lab <= node
        assert lab in labels and labels[lab] == lab, "label is its own root"
