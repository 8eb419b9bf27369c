"""Exactness of the adjacency-anchor Jaccard join (dedup._anchor_jaccard_pairs,
the round-9 restructure of the fuzzy-dedup core).

The coverage proof lives on the function; these tests attack it:

- brute-force equivalence on randomized corpora (hypothesis), where the
  reference answer enumerates ALL pairs — any anchor-coverage hole shows
  up as a missing pair;
- the adversarial shapes the proof's inequalities are tight on: S = 2 with
  all extras piled in one gap, exact-threshold pairs (J = t exactly),
  subset pairs, singleton/tiny docs (the S = 1 branch), identical docs;
- parameter algebra of anchor_params;
- the salted hot-anchor split (forced on by shrinking the module's
  _HOT_ANCHOR_SPLIT) and the raw-row count behind the >= 2-key rule.
"""

import itertools
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.operators import dedup
from cdmx_airquality_etl_spark.operators.dedup import (
    _JACCARD_THRESHOLD,
    _anchor_jaccard_pairs,
    _anchor_keys,
    _salted_anchor_candidates,
    anchor_params,
)


def _brute(sets: dict[int, frozenset], t: float):
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= t:
            out[(a, b)] = inter / union
    return out


def _spark_pairs(spark, sets: dict[int, frozenset], t: float):
    rows = [(i, sorted(s)) for i, s in sets.items()]
    shingled = spark.createDataFrame(
        rows, "doc_id long, sh array<string>"
    ).withColumn("n_sh", F.size("sh"))
    got = _anchor_jaccard_pairs(shingled, t).collect()
    return {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in got}


def test_anchor_params_algebra():
    assert anchor_params(0.5) == (3, 2)
    assert anchor_params(0.8) == (1, 1)
    assert anchor_params(0.1) == (19, 10)
    # epsilon may only round UP (more anchors = safe)
    k, cutoff = anchor_params(1.0 / 3.0)
    assert k >= 5 and cutoff >= 3


def test_reach_table_algebra():
    """The size-adaptive reach (round-10 diet): ks[S_lb-2] must satisfy
    ⌈(⌊S(1−t)/t⌋+1)/(S−1)⌉ for every S ≥ S_lb — checked directly against
    the exact-arithmetic requirement over a wide S range — and its first
    entry must agree with the fixed worst-case anchor_params k."""
    import math

    from cdmx_airquality_etl_spark.operators.dedup import _reach_table

    for t in (0.1, 0.2, 1.0 / 3.0, 0.5, 0.6, 0.8):
        ks, s_stable = _reach_table(t)
        assert len(ks) == s_stable - 1
        assert ks[0] == anchor_params(t)[0]  # S_lb=2 tier = old fixed k
        assert ks == sorted(ks, reverse=True)  # bigger S_lb never needs more
        for s_lb in range(2, s_stable + 40):
            k = ks[min(s_lb, s_stable) - 2]
            for s in range(s_lb, s_lb + 200):
                e = int(math.floor(s * (1.0 - t) / t + 1e-9))
                assert k >= -(-(e + 1) // (s - 1)), (t, s_lb, s)
    assert _reach_table(0.1) == ([19, 14, 13, 12, 11, 11, 11, 11, 11, 10], 11)
    assert _reach_table(0.5) == ([3, 2], 3)
    # survivors=2 (dual-anchor rule): condition lost ≤ S−3, indexed from
    # S_lb = 3 — same exact-arithmetic check against the requirement
    for t in (0.1, 0.25, 0.5):
        ks2, st2 = _reach_table(t, survivors=2)
        assert len(ks2) == st2 - 2
        for s_lb in range(3, st2 + 40):
            k = ks2[min(s_lb, st2) - 3]
            for s in range(s_lb, s_lb + 200):
                e = int(math.floor(s * (1.0 - t) / t + 1e-9))
                assert k >= -(-(e + 1) // (s - 2)), (t, s_lb, s)
    assert _reach_table(0.1, survivors=2)[0][:4] == [28, 19, 16, 14]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    data=st.lists(
        st.frozensets(
            st.sampled_from([f"v{i:02d}" for i in range(60)]),
            min_size=1,
            max_size=44,
        ),
        min_size=2,
        max_size=12,
    ),
    t=st.sampled_from([0.1, 0.15, 0.25, 0.4]),
)
def test_matches_brute_force_low_threshold_big_docs(spark, data, t):
    """The adaptive-reach tiers only engage when n·t/(1+t) > 2 — docs big
    enough that their size bound licenses k below the fixed worst case.
    Low thresholds + up-to-44-shingle docs drive S_lb through several
    tiers; brute force is the oracle, so any tier mis-sizing (k too small
    for some S its docs can meet) surfaces as a missing pair."""
    sets = dict(enumerate(data))
    assert _spark_pairs(spark, sets, t) == pytest.approx(_brute(sets, t))


def test_adversarial_gap_and_threshold_shapes(spark):
    t = _JACCARD_THRESHOLD  # 0.5
    sets = {
        # S=2, both extras inside the single intersection gap of doc 0:
        # J = 2/4 = 0.5 exactly — the k=2 scheme provably misses this one
        0: frozenset("b e f s".split()),   # sorted: b < e < f < s
        1: frozenset("b s".split()),       # shares {b, s}; gap holds e, f
        # subset pair: J = 3/6 = 0.5 exactly
        2: frozenset("a c d g h j".split()),
        3: frozenset("c d g".split()),     # wait: shares {c,d,g} J=3/6
        # identical docs
        4: frozenset("x y z".split()),
        5: frozenset("x y z".split()),
        # singleton docs (S=1 branch): J = 1/2 >= 0.5
        6: frozenset(["q"]),
        7: frozenset("q r".split()),
        8: frozenset(["q"]),
        # non-qualifying noise
        9: frozenset("m n o p".split()),
    }
    expect = _brute(sets, t)
    got = _spark_pairs(spark, sets, t)
    assert got == pytest.approx(expect)
    # the shapes this test exists for really are in the expected set
    assert (0, 1) in expect and expect[(0, 1)] == 0.5
    assert (4, 5) in expect and expect[(4, 5)] == 1.0
    assert (6, 8) in expect and (6, 7) in expect


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    data=st.lists(
        st.frozensets(st.sampled_from([f"w{i}" for i in range(12)]), min_size=1, max_size=8),
        min_size=2,
        max_size=14,
    ),
    t=st.sampled_from([0.3, 0.5, 0.6, 0.8]),
)
def test_matches_brute_force_on_random_corpora(spark, data, t):
    """Dense tiny vocab (12 types) against docs of 1-8 shingles: maximal
    collision pressure on the anchor scheme, every threshold regime."""
    sets = dict(enumerate(data))
    assert _spark_pairs(spark, sets, t) == pytest.approx(_brute(sets, t))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    data=st.lists(
        st.frozensets(
            st.sampled_from([f"w{i}" for i in range(12)]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=14,
    ),
    t=st.sampled_from([0.3, 0.5]),
    h=st.sampled_from([1, 2, 3]),
)
def test_salted_split_is_exact_at_tiny_h(spark, data, t, h):
    """The round-10 salted hot-anchor split must stay exact. H = 1..3
    forces the salt to engage on virtually every shared anchor
    (df ≥ 2 > 1), driving pairs through the cross-bucket (ti < tj) task
    path and its least/greatest canonicalization — the code path a hot
    production key would take."""
    sets = dict(enumerate(data))
    with mock.patch.object(dedup, "_HOT_ANCHOR_SPLIT", h):
        salted = _spark_pairs(spark, sets, t)
    assert salted == pytest.approx(_brute(sets, t))


def test_salted_split_engages_and_matches_brute_force(spark):
    """A 30-doc boilerplate cluster makes its run anchors df = 30; with
    H = 4 the salt must actually bucket them (s = ⌈30/4⌉ = 8) and the
    output must equal brute force — including the true near-dup pair that
    lives OUTSIDE the cluster."""
    boiler = " ".join(f"mm{i:02d}" for i in range(10))
    rows = []
    for i in range(30):
        tail = " ".join(f"t{i:02d}x{j:02d}" for j in range(18))
        rows.append((i, f"{boiler} {tail}"))
    rows.append((100, "aa bb cc dd ee ff gg hh"))
    rows.append((101, "aa bb cc dd ee ff gg zz"))
    shingled = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(split(lower(text), ' ')) - 2, 1)),"
                    " i -> concat_ws(' ', slice(split(lower(text), ' '), i, 3)))"
                )
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
    )
    # the salt engages: some anchor key is hotter than H = 4, so s > 1
    max_df = (
        _anchor_keys(shingled, _JACCARD_THRESHOLD)
        .groupBy("akey")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_df > 4
    sets = {r["doc_id"]: frozenset(r["sh"]) for r in shingled.collect()}
    expect = _brute(sets, _JACCARD_THRESHOLD)
    assert (100, 101) in expect
    with mock.patch.object(dedup, "_HOT_ANCHOR_SPLIT", 4):
        got = _spark_pairs(spark, sets, _JACCARD_THRESHOLD)
    assert got == pytest.approx(expect)


@pytest.mark.parametrize(
    "h", [dedup._HOT_ANCHOR_SPLIT, 1], ids=["plain", "salted"]
)
def test_collision_monotone_count_preserves_dual_anchor_pair(spark, h):
    """Executable form of the collision-monotonicity keystone in
    _salted_anchor_candidates' docstring (round-11 VERDICT #8): when a
    true pair's TWO distinct surviving anchors collide onto ONE xxhash64
    key, each doc emits that key twice and the candidate self-join yields
    2×2 = 4 rows — so the ≥2-count dual-anchor guard still admits the
    pair.  A real 64-bit collision can't be planted, so the test builds
    the post-hash anchor frame directly: the (doc_id, akey, __small)
    schema _anchor_keys produces, with the collision materialized as a
    duplicated key value per doc.

    That the count is over raw join ROWS (not distinct keys) is pinned by
    a 2-row case: one doc emits a key twice and the other once — one
    distinct key, two join rows — and the pair must be admitted.
    Negative control: a pair sharing ONE surviving anchor (one row) must
    NOT pass the guard — proving the filter is live and the collision
    cases pass on multiplicity, not vacuously.  ``plain`` runs the
    shipped H (no key is hot), ``salted`` forces H = 1 so every shared
    key takes the bucket-pair path."""
    K = 1234567890123456789  # the collided 64-bit key value
    rows = [
        # docs 1, 2: two distinct survivors collided onto K → K twice each
        (1, K, False), (1, K, False), (2, K, False), (2, K, False),
        # docs 3, 4: a single shared surviving anchor (df = 2, one row)
        (3, 777, False), (4, 777, False),
        # docs 5, 6: one key, emitted twice by 5 and once by 6 (2 rows)
        (5, 888, False), (5, 888, False), (6, 888, False),
    ]
    anch = spark.createDataFrame(
        rows, "doc_id long, akey long, __small boolean"
    )
    with mock.patch.object(dedup, "_HOT_ANCHOR_SPLIT", h):
        got = {
            (r["doc_id_a"], r["doc_id_b"])
            for r in _salted_anchor_candidates(anch).collect()
        }
    assert (1, 2) in got, "collision lost a dual-anchor pair"
    assert (3, 4) not in got, "single-anchor pair slipped the >=2 guard"
    assert (5, 6) in got, "count is not over raw join rows"


def test_salted_split_emits_every_pair_of_a_hot_key(spark):
    """Coverage of the bucket-pair tasks on their own: 20 small docs share
    ONE anchor key (df = 20), so with H = 4 it salts into s = 5 buckets and
    every one of the 190 pairs must still come out exactly once — across
    buckets as well as inside one (a lost cross-bucket orientation shows
    up as a missing pair)."""
    n = 20
    anch = spark.createDataFrame(
        [(d, 42, True) for d in range(n)],
        "doc_id long, akey long, __small boolean",
    )
    with mock.patch.object(dedup, "_HOT_ANCHOR_SPLIT", 4):
        got = [
            (r["doc_id_a"], r["doc_id_b"])
            for r in _salted_anchor_candidates(anch).collect()
        ]
    assert sorted(got) == list(itertools.combinations(range(n), 2))
