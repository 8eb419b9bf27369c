"""Semantics tests for the statistical-test batch (operators/stats_tests.py):
each statistic is re-derived independently with numpy/pandas over the same
parquet and compared to the Spark result."""

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.stats_tests import (
    _KS_BINS,
    _KS_HI,
    _NDCG_DISC,
    _NDCG_K,
)
from cdmx_airquality_etl_spark.registry import QUERIES
from tests.helpers import read_pandas


# ---------------------------------------------------------------------------
# q_ols_group
# ---------------------------------------------------------------------------
def test_ols_matches_numpy_polyfit(spark, sf_dir):
    rows = {r["event_type"]: r for r in QUERIES["q_ols_group"](spark, sf_dir).collect()}
    ev = read_pandas(sf_dir, "events")
    ev["x"] = (pd.to_datetime(ev["ts"]).dt.normalize() - pd.Timestamp("1970-01-01")).dt.days
    for et, g in ev.groupby("event_type"):
        slope, intercept = np.polyfit(g["x"], g["value"], 1)
        r = rows[et]
        assert abs(r["slope"] - slope) < 1e-9 * max(1, abs(slope))
        assert abs(r["intercept"] - intercept) < 1e-6 * max(1, abs(intercept))
        assert 0.0 <= r["r2"] <= 1.0


# ---------------------------------------------------------------------------
# q_chi_square
# ---------------------------------------------------------------------------
def test_chi_square_matches_manual(spark, sf_dir):
    got = QUERIES["q_chi_square"](spark, sf_dir).collect()[0]
    ev = read_pandas(sf_dir, "events")
    ev["dow"] = (
        (pd.to_datetime(ev["ts"]).dt.normalize() - pd.Timestamp("1970-01-01")).dt.days % 7
    )
    tab = pd.crosstab(ev["event_type"], ev["dow"])
    n = tab.values.sum()
    exp = np.outer(tab.sum(axis=1), tab.sum(axis=0)) / n
    chi2 = ((tab.values - exp) ** 2 / exp).sum()
    assert abs(got["chi2"] - chi2) < 1e-6
    assert got["dof"] == (tab.shape[0] - 1) * (tab.shape[1] - 1)


# ---------------------------------------------------------------------------
# q_ks_binned
# ---------------------------------------------------------------------------
def test_ks_binned_matches_manual(spark, sf_dir):
    got = QUERIES["q_ks_binned"](spark, sf_dir).collect()[0]
    ev = read_pandas(sf_dir, "events")
    a = ev.loc[ev.event_type == "click", "value"]
    b = ev.loc[ev.event_type == "view", "value"]
    bins = np.minimum((np.floor(np.asarray(a) * _KS_BINS / _KS_HI)).astype(int), _KS_BINS - 1)
    binb = np.minimum((np.floor(np.asarray(b) * _KS_BINS / _KS_HI)).astype(int), _KS_BINS - 1)
    ca = np.cumsum(np.bincount(bins, minlength=_KS_BINS)) / len(a)
    cb = np.cumsum(np.bincount(binb, minlength=_KS_BINS)) / len(b)
    assert got["n_click"] == len(a) and got["n_view"] == len(b)
    assert abs(got["ks_d"] - np.abs(ca - cb).max()) < 1e-12
    assert 0.0 <= got["ks_d"] <= 1.0


# ---------------------------------------------------------------------------
# q_auc_rank
# ---------------------------------------------------------------------------
def test_auc_matches_rank_formula(spark, sf_dir):
    got = QUERIES["q_auc_rank"](spark, sf_dir).collect()[0]
    docs = read_pandas(sf_dir, "documents")
    y = (docs["lang"] == "en").to_numpy()
    s = docs["n_chars"].to_numpy(dtype=float)
    # midrank Mann-Whitney AUC
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s), dtype=float)
    sr = s[order]
    i = 0
    while i < len(sr):
        j = i
        while j + 1 < len(sr) and sr[j + 1] == sr[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    n_pos, n_neg = int(y.sum()), int((~y).sum())
    auc = (ranks[y].sum() - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
    assert abs(got["auc"] - auc) < 1e-12


# ---------------------------------------------------------------------------
# q_gini_sources
# ---------------------------------------------------------------------------
def test_gini_bounds_and_manual(spark, sf_dir):
    rows = QUERIES["q_gini_sources"](spark, sf_dir).collect()
    docs = read_pandas(sf_dir, "documents")
    for r in rows:
        cnt = docs.loc[docs.source == r["source"], "lang"].value_counts()
        p = cnt / cnt.sum()
        assert abs(r["gini"] - (1.0 - (p**2).sum())) < 1e-12
        assert abs(r["max_share"] - p.max()) < 1e-12
        assert r["n_langs"] == len(cnt)
        # impurity of k classes is bounded by 1 - 1/k
        assert 0.0 <= r["gini"] <= 1.0 - 1.0 / r["n_langs"] + 1e-12


# ---------------------------------------------------------------------------
# q_benford
# ---------------------------------------------------------------------------
def test_benford_shares_sum_to_one(spark, sf_dir):
    rows = QUERIES["q_benford"](spark, sf_dir).collect()
    assert len(rows) == 9
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["expected"] for r in rows) - 1.0) < 1e-12
    orders = read_pandas(sf_dir, "orders")
    d1 = orders["o_totalprice"].map(lambda v: int(str(v).lstrip("0.")[0]))
    counts = d1.value_counts()
    for r in rows:
        assert r["n"] == int(counts.get(r["digit"], 0))


# ---------------------------------------------------------------------------
# q_ndcg
# ---------------------------------------------------------------------------
def test_ndcg_matches_manual(spark, sf_dir):
    got = QUERIES["q_ndcg"](spark, sf_dir).collect()[0]
    emb = read_pandas(sf_dir, "embeddings")
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb.itertuples()}
    labels = dict(zip(emb.vec_id, emb.label))
    q = vecs[0]
    scored = []
    for vid, v in vecs.items():
        if vid == 0 or not np.isfinite(v @ v) or (v @ v) == 0:
            continue
        scored.append((float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), vid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    rel = [1 if labels[vid] == labels[0] else 0 for _, vid in scored]
    dcg = sum(r * d for r, d in zip(rel[:_NDCG_K], _NDCG_DISC))
    r_tot = sum(rel)
    idcg = sum(_NDCG_DISC[: min(r_tot, _NDCG_K)])
    assert abs(got["dcg"] - dcg) < 1e-9
    assert abs(got["idcg"] - idcg) < 1e-12
    assert abs(got["ndcg"] - dcg / idcg) < 1e-9
    assert 0.0 <= got["ndcg"] <= 1.0


def test_exact_moment_diff_raises_on_overflow_instead_of_null(spark):
    """Round-8 ADVICE #3: under non-ANSI mode a decimal(37,0) overflow
    returns NULL (DuckDB errors) — beyond the analyzed envelope the slope
    would silently NULL. The guard must raise loudly there, and stay exact
    (and silent) inside the envelope."""
    import pytest as _pytest
    from pyspark.sql import Row
    from cdmx_airquality_etl_spark.operators.stats_tests import (
        _exact_moment_diff,
    )

    # in-envelope: matches plain integer arithmetic exactly
    ok = spark.createDataFrame(
        [Row(n=10**6, sxy=10**12, sx=10**9, sy=10**9)],
        "n long, sxy long, sx long, sy long",
    )
    got = ok.select(
        _exact_moment_diff("n", "sxy", "sx", "sy").alias("d")
    ).first()["d"]
    assert got == float(10**6 * 10**12 - 10**9 * 10**9)

    # out of envelope: (19,0)x(19,0) product needs 38 digits -> must RAISE,
    # never a silent NULL. Under Spark 4's default ANSI mode the cast
    # itself errors (NUMERIC_VALUE_OUT_OF_RANGE); with ANSI off — the mode
    # the round-8 ADVICE worried about, where the cast silently NULLs —
    # the guard's raise_error must fire instead.
    big = 9 * 10**18  # within bigint/decimal(19,0); product ~8.1e37
    bad = spark.createDataFrame(
        [Row(n=big, sxy=big, sx=0, sy=0)],
        "n long, sxy long, sx long, sy long",
    )
    with _pytest.raises(Exception, match="overflowed|NUMERIC_VALUE_OUT_OF_RANGE"):
        bad.select(
            _exact_moment_diff("n", "sxy", "sx", "sy").alias("d")
        ).collect()

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with _pytest.raises(Exception, match="overflowed"):
            bad.select(
                _exact_moment_diff("n", "sxy", "sx", "sy").alias("d")
            ).collect()
        # and the in-envelope value is still exact with ANSI off
        got2 = ok.select(
            _exact_moment_diff("n", "sxy", "sx", "sy").alias("d")
        ).first()["d"]
        assert got2 == got
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
