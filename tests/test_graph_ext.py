"""Semantics tests for the graph-extension + sketch-calibration batch
(operators/graph_ext.py), with independent Python replays."""

import hashlib
from collections import defaultdict

from cdmx_airquality_etl_spark.operators.graph_ext import (
    _CM_WIDTH,
    _SP_MAX_HOPS,
    _SP_SOURCE,
    _WIN_K,
    _WIN_W,
)
from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import read_pandas


def _edges(sf_dir):
    li = read_pandas(sf_dir, "lineitem")[["l_orderkey", "l_suppkey"]]
    orders = read_pandas(sf_dir, "orders")[["o_orderkey", "o_custkey"]]
    m = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    pairs = {(int(c) * 2, int(s) * 2 + 1) for c, s in zip(m.o_custkey, m.l_suppkey)}
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def _md5_int(s, nchars=15):
    return int(hashlib.md5(s.encode()).hexdigest()[:nchars], 16)


# ---------------------------------------------------------------------------
# q_shortest_path
# ---------------------------------------------------------------------------
def test_shortest_path_matches_python_bfs(spark, sf_dir):
    rows = {r["node_id"]: r["dist"] for r in QUERIES["q_shortest_path"](spark, sf_dir).collect()}
    adj = _edges(sf_dir)
    dist = {_SP_SOURCE: 0}
    frontier = [_SP_SOURCE]
    for h in range(1, _SP_MAX_HOPS + 1):
        nxt = []
        for n in frontier:
            for m in adj[n]:
                if m not in dist:
                    dist[m] = h
                    nxt.append(m)
        frontier = nxt
    assert rows == dist


def test_shortest_path_alternates_roles(spark, sf_dir):
    # bipartite: odd distances land on suppliers, even on customers
    for r in QUERIES["q_shortest_path"](spark, sf_dir).collect():
        role = "customer" if r["dist"] % 2 == 0 else "supplier"
        assert r["node_type"] == role


# ---------------------------------------------------------------------------
# q_link_prediction
# ---------------------------------------------------------------------------
def test_link_prediction_jaccard_exact(spark, sf_dir):
    rows = QUERIES["q_link_prediction"](spark, sf_dir).collect()
    assert rows
    li = read_pandas(sf_dir, "lineitem")[["l_suppkey", "l_partkey"]].drop_duplicates()
    cat = li.groupby("l_suppkey")["l_partkey"].apply(set)
    for r in rows:
        a, b = cat[r["supp_a"]], cat[r["supp_b"]]
        assert r["shared"] == len(a & b)
        assert abs(r["jaccard"] - len(a & b) / len(a | b)) < 1e-12
    scores = [r["jaccard"] for r in rows]
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# q_degree_distribution
# ---------------------------------------------------------------------------
def test_degree_distribution_accounts_all_nodes(spark, sf_dir):
    rows = QUERIES["q_degree_distribution"](spark, sf_dir).collect()
    adj = _edges(sf_dir)
    assert sum(r["n_nodes"] for r in rows) == len(adj)
    # total degree mass = 2 * |edges|
    n_edges = sum(len(v) for v in adj.values())
    assert sum(r["degree"] * r["n_nodes"] for r in rows) == n_edges


# ---------------------------------------------------------------------------
# q_countmin
# ---------------------------------------------------------------------------
def test_countmin_never_underestimates(spark, sf_dir):
    rows = QUERIES["q_countmin"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["cm_est"] >= r["exact_n"]
        assert r["overestimate"] == r["cm_est"] - r["exact_n"]


def test_countmin_matches_python_sketch(spark, sf_dir):
    rows = {r["token"]: r for r in QUERIES["q_countmin"](spark, sf_dir).collect()}
    docs = read_pandas(sf_dir, "documents")
    counts = defaultdict(int)
    for t in docs["text"]:
        for tok in t.strip().lower().split():
            counts[tok] += 1
    cells = defaultdict(int)
    for tok, n in counts.items():
        for r in range(4):
            cells[(r, _md5_int(f"{r}|{tok}") % _CM_WIDTH)] += n
    for tok, row in rows.items():
        est = min(cells[(r, _md5_int(f"{r}|{tok}") % _CM_WIDTH)] for r in range(4))
        assert row["exact_n"] == counts[tok]
        assert row["cm_est"] == est


# ---------------------------------------------------------------------------
# q_winnowing
# ---------------------------------------------------------------------------
def test_winnowing_matches_python(spark, sf_dir):
    rows = {r["doc_id"]: r for r in QUERIES["q_winnowing"](spark, sf_dir).collect()}
    docs = read_pandas(sf_dir, "documents")
    checked = 0
    for rec in docs.itertuples():
        w = rec.text.strip().lower().split()
        if len(w) < _WIN_K:
            assert rec.doc_id not in rows
            continue
        grams = [
            _md5_int(" ".join(w[i : i + _WIN_K]))
            for i in range(max(len(w) - _WIN_K + 1, 1))
        ]
        fps = {
            min(grams[i : i + _WIN_W])
            for i in range(len(grams) - _WIN_W + 1)
        }
        if not fps:
            # fewer grams than one window: the operator emits no row
            assert rec.doc_id not in rows
            continue
        r = rows[rec.doc_id]
        assert r["n_grams"] == len(grams)
        assert r["n_fingerprints"] == len(fps)
        assert r["min_fp"] == min(fps)
        checked += 1
    assert checked > 0


def test_winnowing_shared_run_guarantee(spark, sf_dir):
    # two docs sharing a run of >= k+w-1 tokens share a fingerprint: verify
    # on the corpus itself by construction with duplicated texts
    docs = read_pandas(sf_dir, "documents")
    dup = docs[docs.duplicated("text", keep=False)]
    if len(dup) >= 2:
        rows = {r["doc_id"]: r for r in QUERIES["q_winnowing"](spark, sf_dir).collect()}
        g = dup.groupby("text")["doc_id"].apply(list)
        for ids in g:
            sigs = {rows[i]["min_fp"] for i in ids if i in rows}
            assert len(sigs) <= 1  # identical text -> identical fingerprints
