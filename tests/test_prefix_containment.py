"""Exactness of the prefix-filter containment join
(dedup._prefix_containment_pairs, the round-11 replacement for the capped
postings core — the last registered query riding the plan the sf3 decade
proved superlinear, whose oracle-exactness held only while the cap never
fired).

The coverage proof lives on the function; these tests attack it:

- brute-force equivalence on randomized corpora (hypothesis), where the
  reference answer enumerates ALL pairs — any prefix-coverage hole shows
  up as a missing pair;
- the adversarial shapes the proof's inequalities are tight on:
  exact-threshold pairs (C = t exactly), true subsets (C = 1 with wildly
  asymmetric sizes — the case Jaccard misses and the asymmetric prefix
  bound exists for), equal-size ties (the (n, doc_id) canonical ordering),
  singleton docs, identical docs, df = 1-heavy docs (the budget-shrink
  argument for dropping them from the prefix);
- CAP-FREEDOM: a stop-shingle with df far above the old postings cap
  (1000) must not cost a single pair — the property the old plan could
  not give.
"""

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators.dedup import (
    _CONTAINMENT_THRESHOLD,
    _prefix_containment_pairs,
)

# the per-shingle postings cap of the retired capped-postings plan
_OLD_POSTINGS_CAP = 1000


def _brute(sets: dict[int, frozenset], t: float):
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        m = min(len(sets[a]), len(sets[b]))
        if m == 0:
            continue
        c = len(sets[a] & sets[b]) / m
        if c >= t:
            out[(a, b)] = c
    return out


def _spark_pairs(spark, sets: dict[int, frozenset], t: float):
    rows = [(i, sorted(s)) for i, s in sets.items()]
    shingled = spark.createDataFrame(
        rows, "doc_id long, sh array<string>"
    ).withColumn("n_sh", F.size("sh"))
    got = _prefix_containment_pairs(shingled, t).collect()
    return {(r["doc_id_a"], r["doc_id_b"]): r["containment"] for r in got}


_corpus = st.lists(
    st.frozensets(st.sampled_from([f"s{i:02d}" for i in range(24)]),
                  min_size=1, max_size=14),
    min_size=2,
    max_size=12,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=_corpus, t=st.sampled_from([0.5, 0.75, 0.9, 1.0]))
def test_prefix_containment_matches_bruteforce(spark, data, t):
    sets = dict(enumerate(data))
    assert _spark_pairs(spark, sets, t) == pytest.approx(_brute(sets, t))


def test_true_subset_asymmetric_sizes(spark):
    """A 5-shingle doc fully inside a 60-shingle doc: Jaccard 1/12,
    containment 1.0 — the metric's raison d'être, and the shape where the
    larger side has NO extras bound (B indexes everything)."""
    small = frozenset(f"k{i:02d}" for i in range(5))
    big = frozenset(f"k{i:02d}" for i in range(60))
    other = frozenset(f"z{i:02d}" for i in range(10))
    sets = {1: small, 2: big, 3: other}
    got = _spark_pairs(spark, sets, _CONTAINMENT_THRESHOLD)
    assert got == pytest.approx({(1, 2): 1.0})


def test_exact_threshold_boundary(spark):
    """shared = ⌈t·n⌉ exactly: n = 10, t = 0.9 → needs shared ≥ 9.
    A pair at exactly 9/10 must be kept; 8/10 must not — the ceil's 1e-9
    bias may only ever ADD candidates, never flip the verify filter."""
    a = frozenset(f"c{i}" for i in range(10))
    b9 = frozenset(list(f"c{i}" for i in range(9)) + ["x1", "x2", "x3"])
    b8 = frozenset(list(f"c{i}" for i in range(8)) + ["y1", "y2", "y3", "y4"])
    got = _spark_pairs(spark, {1: a, 2: b9, 3: b8}, 0.9)
    assert (1, 2) in got and got[(1, 2)] == pytest.approx(0.9)
    assert (1, 3) not in got


def test_equal_size_tie_and_identical_docs(spark):
    """n_a = n_b exercises the (n, doc_id) lexicographic tie-break: the
    pair must be generated exactly once, from the lower-id side's prefix."""
    s = frozenset(["p1", "p2", "p3", "p4", "p5"])
    t_ = frozenset(["p1", "p2", "p3", "p4", "p6"])  # overlap 4/5 = 0.8
    got = _spark_pairs(spark, {7: s, 3: t_, 9: s}, 0.8)
    assert got == pytest.approx({(3, 7): 0.8, (3, 9): 0.8, (7, 9): 1.0})


def test_singletons_and_df1_budget(spark):
    """Singleton docs (prefix = the one shingle) and docs whose extras are
    ALL df = 1 (the prefix after the df ≥ 2 filter shrinks to exactly one
    element — the tightest form of the budget-shrink argument)."""
    sets = {
        1: frozenset(["w"]),
        2: frozenset(["w", "u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8"]),
        3: frozenset(["w"]),
        # 10 shingles, 9 shared with doc 5, 1 unique (df=1)
        4: frozenset([f"q{i}" for i in range(9)] + ["only4"]),
        5: frozenset([f"q{i}" for i in range(9)] + ["only5"]),
    }
    got = _spark_pairs(spark, sets, 0.9)
    assert got == pytest.approx(
        {(1, 2): 1.0, (1, 3): 1.0, (2, 3): 1.0, (4, 5): 0.9}
    )


def test_hot_shingle_beyond_old_cap_loses_nothing(spark):
    """CAP-FREEDOM: a boilerplate shingle with df = 1.2 × the old cap —
    the regime where the old capped-postings plan silently dropped every
    pair whose overlap ran through it — must cost the prefix plan nothing.
    Docs are (hot + 1 unique) two-shingle sets: every adjacent-id pair
    shares only the hot shingle (containment 1/2, below t) and one planted
    pair shares both shingles (containment 1.0). Also pins the fan-out
    story: the hot shingle enters a prefix only when a doc's OTHER
    shingles are hotter — here each doc's unique shingle is df = 1, so the
    hot shingle IS every doc's entire surviving prefix, the worst case —
    and the run must still finish and stay exact."""
    n = int(_OLD_POSTINGS_CAP * 1.2)
    sets = {i: frozenset(["hot", f"u{i:05d}"]) for i in range(n)}
    sets[n] = frozenset(["hot", "u00000"])  # duplicate of doc 0
    got = _spark_pairs(spark, sets, 0.9)
    assert got == pytest.approx({(0, n): 1.0})
