"""Deduplication operators over ``documents`` (north-star surface).

Four escalating strategies, all distributed set-logic — no driver loops:

- q_dedup_exact     — hash-groupBy on a normalized-content fingerprint.
- q_dedup_fuzzy     — word-3-shingle Jaccard via ADJACENCY ANCHORS
                      (_anchor_jaccard_pairs): each doc emits hashed
                      anchor keys for nearby shingle pairs in its own
                      sorted list, candidates are the pairs sharing ≥ 2
                      keys (or two small docs sharing one) in an
                      8-byte-key self-join whose hot keys are salted
                      into bounded tasks, and every candidate is
                      verified exactly with array_intersect. EXACT
                      (coverage proof on the function), and the
                      sf0.1→10 decades measure it subquadratic where a
                      per-shingle inverted index goes superlinear on a
                      saturating vocabulary.
- q_dedup_containment — overlap coefficient |A∩B|/min(|A|,|B|) ≥ 0.9 via
                      the exact PREFIX FILTER (_prefix_containment_pairs,
                      round 11): rarest-first ordering, contained-side
                      prefix joined against a full df ≥ 2 index, exact
                      verify. Catches near-SUBSET duplication (doc
                      embedded in a longer doc) that Jaccard misses.
- q_dedup_minhash   — MinHash signatures + LSH banding: candidate pairs come
                      from band-bucket equi-joins (|bands| shuffles of one
                      small row per doc), then exact Jaccard verification on
                      the candidates only. This is the 100 TB path: cost is
                      O(docs × k) + candidates, never O(docs²).
- q_dedup_simhash   — 64-bit SimHash + banded Hamming-distance search.

Every strategy carries a FULL DuckDB oracle: MinHash/SimHash run their
seeded permutations over a portable base hash (md5 hex decoded to int64 —
functions/portable.md5_int) rather than engine-specific xxhash64/murmur3, so
signatures, banding, candidate joins and verification are all
value-checked cross-engine.

Lineage: generalizes the reference's key-identity semantics (PK dedup,
sql_config.yaml:18,34,50) and normalize-then-compare pipeline
(scrapper.py:20-26).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import word_shingles
from ..functions.bloom import bloom_filter_bytes, might_contain
from ..functions.portable import (
    content_fingerprint,
    sql_content_fingerprint,
    sql_md5_int,
    sql_tokens,
    tokens,
)
from ..registry import QUERIES, register
from ..sources.parquet import load_table
from .fanout import fan_out_scan

_JACCARD_THRESHOLD = 0.5
# Postings of an anchor key with df above this are salted into ⌈df/H⌉
# buckets by _salted_anchor_candidates (≤ H²/2 pairs per join task).
_HOT_ANCHOR_SPLIT = 256


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + distinct word-3-shingle array + its size.

    Round 13: the raw docs scan fans out to cluster width first
    (fan_out_scan — only when under-split, so a no-op on multi-split
    real inputs), so shingling AND every downstream emission/kernel of
    the dedup family parallelize instead of inheriting the test corpus's
    single-row-group single task. Safe for every consumer: each
    aggregates exact integers or computes row-local scores, so row
    placement cannot change a result."""
    return fan_out_scan(docs).select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("text"), k=3)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))


def anchor_params(threshold: float) -> tuple[int, int]:
    """(max anchor distance k, singleton-emission size cutoff) for
    :func:`_anchor_jaccard_pairs` at a given Jaccard threshold t.

    k = ⌊2(1−t)/t⌋ + 1 and cutoff = ⌊(1+t)/t⌋ − 1; the coverage proof is on
    _anchor_jaccard_pairs. The tiny epsilon only ever rounds UP (a larger k
    or cutoff emits MORE anchors — always safe)."""
    t = threshold
    k = int(2.0 * (1.0 - t) / t + 1e-9) + 1
    cutoff = int((1.0 + t) / t + 1e-9) - 1
    return k, cutoff


def _reach_table(
    threshold: float, survivors: int = 1
) -> tuple[list[int], int]:
    """Size-adaptive anchor reach (the round-10 diet of q_lsh_planner's
    k = 19 constant): ``(ks, s_stable)`` where ``ks[S_lb - 2]`` is the
    anchor distance a doc may use once its intersection lower bound is
    S_lb, for S_lb = 2 .. s_stable (constant beyond).

    Derivation. For a qualifying pair, J ≥ t ⇒ S ≥ t(|A|+|B|)/(1+t) ≥
    t·n/(1+t) for EACH doc's own size n — so a doc knows, from its size
    alone, a lower bound S_lb on the intersection of any pair it can be
    part of. The coverage argument (see :func:`_anchor_jaccard_pairs`)
    needs ⌊extras_A/k_A⌋ + ⌊extras_B/k_B⌋ ≤ S − 2 with extras ≤
    E(S) = ⌊S(1−t)/t⌋; worst case piles all extras on the smaller-k side,
    so it suffices that min(k_A, k_B) ≥ g(S) = ⌈(E(S)+1)/(S−1)⌉ — and
    since each doc's k is chosen as max_{S ≥ its own S_lb} g(S) and the
    pair's true S exceeds BOTH docs' S_lb, both k's (hence the min)
    satisfy g at the true S. ∎

    g(S) ≈ (1−t)/t + ((1−t)/t + 1)/(S−1) decreases toward the asymptote
    (1−t)/t, so k stabilizes at a finite S (t = 0.1: ks =
    [19, 14, 13, 12, 11×5, 10], stable at S_lb = 11; t = 0.5: [3, 2]).
    At t = 0.1 a median 52-shingle doc uses k = 12 instead of the fixed
    worst-case 19 — ~1.5× fewer anchor rows with the same exact output,
    because k = 19 is forced only by S = 2 pairs, which only tiny docs
    can be part of.

    Rounding discipline: every float crossing is biased CONSERVATIVE
    (E(S) floors with +1e-9 so an exact-integer bound never rounds down;
    the k division is exact integer ceil-div), so FP error can only ever
    ADD anchors, never lose coverage.

    ``survivors`` generalizes the guarantee (round-10 dual-anchor rule,
    see :func:`_anchor_jaccard_pairs`): the returned reach leaves at
    least that many COMMON surviving anchors per qualifying pair —
    condition lost_A + lost_B ≤ S − 1 − survivors, i.e.
    g(S) = ⌈(E(S)+1)/(S − survivors)⌉, defined for S ≥ survivors + 1.
    The table is indexed from S_lb = survivors + 1; callers clamp their
    lookup index into [survivors + 1, s_stable]."""
    a = (1.0 - threshold) / threshold
    smin = survivors + 1

    def g(s: int) -> int:
        e = int(math.floor(s * a + 1e-9))
        return -(-(e + 1) // (s - survivors))

    horizon = 4096
    ks = [g(s) for s in range(smin, horizon + 1)]
    for i in range(len(ks) - 2, -1, -1):  # suffix max: k valid ∀ S ≥ S_lb
        ks[i] = max(ks[i], ks[i + 1])
    k_floor = ks[-1]
    # the asymptote really is reached inside the horizon
    assert g(10**7) == k_floor, "reach horizon too small for this threshold"
    s_stable = smin + ks.index(k_floor)
    return ks[: s_stable - smin + 1], s_stable


def _anchor_keys(shingled: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, akey, __small) — the hashed, size-adaptive-reach adjacency
    anchor keys of :func:`_anchor_jaccard_pairs` (coverage proof there;
    reach algebra in :func:`_reach_table`). Factored out so the band-skew
    probe measures the REAL operator anchors, not a reconstruction.

    Anchor keys are HASHED to 64-bit (xxhash64(lo, hi)): the self-join
    sorts 8-byte longs instead of ~40-byte shingle-string pairs, and a
    hash collision can only ADD a candidate — which the exact verify
    stage then scores and drops — never lose one, so the output is
    untouched. Reach is per-doc via _reach_table: S ≥ t·n/(1+t) for any
    pair this doc is in, so bigger docs use the smaller k their S_lb
    licenses (the ceil is biased DOWN by 1e-9 — an S_lb overestimate
    would shrink k unsoundly, an underestimate only adds anchors).

    The reach is the larger of the ≥1-surviving-anchor table and the
    ≥2-surviving-anchors table (survivors = 2, clamped at S_lb = 4),
    which is what the dual-anchor candidate rule needs. S ∈ {2, 3} pairs
    are covered instead by the ``__small`` flag: J ≥ t with S ≤ 3 forces
    |A|+|B| ≤ 3(1+t)/t, so both docs sit under the small cutoff the flag
    records."""
    _, cutoff = anchor_params(threshold)
    ks, s_stable = _reach_table(threshold)
    ks2, s_stable2 = _reach_table(threshold, survivors=2)
    tratio = threshold / (1.0 + threshold)
    slb = (
        f"least(greatest(2, cast(ceil(size(__shs) * {tratio!r} - 1e-9) "
        f"as int)), {{cap}})"
    )
    # k = max(k₁(S_lb), k₂(max(S_lb, 4))) — entries of the survivors=2
    # table are indexed from S_lb = 3
    k1_expr = (
        f"element_at(array({', '.join(map(str, ks))}), "
        + slb.format(cap=s_stable)
        + " - 1)"
    )
    k2_expr = (
        f"element_at(array({', '.join(map(str, ks2))}), "
        f"least(greatest("
        + slb.format(cap=s_stable2)
        + ", 4), "
        + str(s_stable2)
        + ") - 2)"
    )
    n_small = int(3.0 * (1.0 + threshold) / threshold + 1e-9)
    anchor_expr = f"""
      concat(
        flatten(transform(sequence(1, size(__shs)), i ->
          transform(slice(__shs, i + 1, __k),
                    x -> xxhash64(__shs[i-1], x)))),
        CASE WHEN size(__shs) <= {cutoff}
             THEN transform(__shs, s -> xxhash64(s, s))
             ELSE cast(array() AS array<bigint>) END
      )
    """
    return (
        shingled.filter(F.col("n_sh") >= 1)
        .withColumn("__shs", F.array_sort("sh"))
        .withColumn("__k", F.expr(f"greatest({k1_expr}, {k2_expr})"))
        .withColumn("__small", F.size("__shs") <= n_small)
        .select(
            "doc_id", F.explode(F.expr(anchor_expr)).alias("akey"), "__small"
        )
    )


def _salted_anchor_candidates(anch: DataFrame) -> DataFrame:
    """Candidate pairs (doc_id_a < doc_id_b) from a (doc_id, akey, __small)
    anchor frame — the shared candidate stage of the anchor family
    (_anchor_jaccard_pairs and q_dedup_weighted's mass-distance anchors).

    DUAL-ANCHOR RULE: a pair is a candidate only when it shares ≥ 2
    anchor keys OR both docs carry the __small flag (the reasons and the
    sf10 measurements are on :func:`_anchor_jaccard_pairs`). It is a
    count aggregate over the salted join output — map-side combinable,
    so the join's multiplicity collapses before the shuffle. Exactness
    leans on _anchor_keys' ≥ 2-survivor reach and is
    UNCONDITIONAL under hash collisions: the count is over raw join
    ROWS, each doc emits every anchor pair once, and a common surviving
    anchor always contributes ≥ 1 matched row — so rows ≥ #common
    surviving anchors whatever the hashes do. Two distinct survivors
    colliding onto one key make each doc emit that key twice and the
    join yield FOUR rows, not one: collisions are count-monotone, only
    ever inflating counts (the inflated false candidates die in the
    exact verify).

    Hot anchor keys are salted (coverage argument in the body), and
    df = 1 anchors drop first: they can produce no pair."""
    # One count window keyed on the anchor tags every posting with its
    # key's document frequency: df = 1 anchors drop, and the df sizes the
    # salted split below. Measured overhead of the window on the
    # homogeneous sf0.1 corpus: ~5% of the candidate stage.
    anch = anch.withColumn(
        "__adf", F.count(F.lit(1)).over(Window.partitionBy("akey"))
    ).filter(F.col("__adf") >= 2)
    # merge hints throughout: every frame here derives from the shingled
    # scan, whose logical size estimate is the COMPRESSED parquet bytes —
    # the shingle arrays expand ~10-40× on materialization, so the static
    # broadcast decision undershoots catastrophically (measured at sf3: a
    # "64 MB" side serialized 1.9 GB and broke spark.driver.maxResultSize
    # mid-sweep). shuffle_hash is no safer: a shuffled-hash join's build
    # side cannot spill, and at this op's k = 19 reach (q_lsh_planner's
    # 0.1 floor) one partition of anchor rows overflows the per-task
    # budget outright (SparkOutOfMemoryError in buildHashedRelation,
    # observed at sf3 under the default 8g heap). Sort-merge spills both
    # sides — the only strategy that survives arbitrarily large
    # partitions, which is the contract a 100 TB corpus needs.
    #
    # EXACTNESS-PRESERVING hot-anchor split: a boilerplate cluster makes
    # one anchor key hot, and a hot key in a self-join is ONE quadratic
    # task AQE cannot split (the join INPUT partition is kilobytes; the
    # blow-up is in the OUTPUT — BAND_SKEW.json measures a 1500-df key =
    # 1.1M pairs in a single task). Salt: each posting hashes to one of
    # s = ⌈df/H⌉ buckets, the A side replicates to bucket-pair tasks
    # (b, j ≥ b) and the B side to (i ≤ b, b), and the join key grows to
    # (akey, i, j) — the hot key's pair work lands in s² bounded tasks of
    # ≤ H²/2 pairs each, data expansion ≤ (s+1)× on the hot key's rows
    # only (cool keys have s = 1: one task, no replication). Coverage:
    # pair {x, y} with buckets bx ≤ by is emitted by exactly task
    # (bx, by) — x replicates A-side to (bx, j ≥ bx) ∋ (bx, by), y
    # replicates B-side to (i ≤ by, by) ∋ (bx, by); for bx = by the
    # doc_id_a < doc_id_b filter keeps one orientation, for bx < by the
    # pair arrives in one orientation and is canonicalized by
    # least/greatest. Exact — no pair is lost, and each raw join row
    # still arrives exactly once, so the count below is unchanged.
    h = _HOT_ANCHOR_SPLIT
    salted = anch.withColumn(
        "__s",
        F.when(
            F.col("__adf") > h, F.ceil(F.col("__adf") / h).cast("int")
        ).otherwise(F.lit(1)),
    ).withColumn(
        "__b", F.pmod(F.xxhash64("doc_id", "akey"), F.col("__s")).cast("int")
    )
    side_a = salted.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("__small").alias("__sm_a"),
        "akey",
        F.col("__b").alias("ti"),
        F.explode(F.expr("sequence(__b, __s - 1)")).alias("tj"),
    )
    side_b = salted.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("__small").alias("__sm_b"),
        "akey",
        F.explode(F.expr("sequence(0, __b)")).alias("ti"),
        F.col("__b").alias("tj"),
    )
    return (
        side_a.join(side_b.hint("merge"), ["akey", "ti", "tj"])
        .filter(
            (F.col("ti") < F.col("tj")) | (F.col("doc_id_a") < F.col("doc_id_b"))
        )
        .select(
            F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
            F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
            (F.col("__sm_a") & F.col("__sm_b")).alias("__both_small"),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(
            F.count(F.lit(1)).alias("__nk"),
            F.max("__both_small").alias("__both_small"),
        )
        .filter((F.col("__nk") >= 2) | F.col("__both_small"))
        .select("doc_id_a", "doc_id_b")
    )


def _anchor_jaccard_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard-≥-t pairs via ADJACENCY ANCHORS — the round-9
    restructure of the fuzzy-dedup core after the sf3 scaling decade showed
    the per-shingle inverted index going superlinear (exponent 1.38 over
    sf0.1→3) on a saturating vocabulary: with V fixed, every shingle's df
    grows ∝ n and candidate volume Σ df²/2 grows ∝ n²/V (measured 1.07e9
    candidate rows at sf3 for 216 true pairs).

    Scheme (an exact filter-verify join in the AllPairs/PPJoin family, but
    keyed on token ADJACENCY instead of prefixes, which saturation defeats):

    1. Each doc sorts its distinct shingle set and emits an anchor key
       xxhash64(lo, hi) for every pair of shingles at distance ≤ k in
       ITS OWN sorted list — k is per-doc SIZE-ADAPTIVE from
       :func:`_reach_table` (a median 52-shingle doc at t = 0.1 uses a
       far smaller k than the tiny docs that force the worst case) —
       plus degenerate xxhash64(s, s) anchors when the doc has ≤ cutoff
       shingles (:func:`_anchor_keys`).
    2. Candidates = anchor-key self-join on the 8-byte hashed key, hot
       keys salted into bounded tasks, keeping the pairs that share ≥ 2
       keys or are both small (:func:`_salted_anchor_candidates`). A
       collision only ADDS a candidate, which step 3 kills — never loses
       one.
    3. Every candidate is verified EXACTLY: join both docs' shingle
       arrays, shared = size(array_intersect), jaccard ≥ t.

    COVERAGE PROOF (no qualifying pair is missed). Let S = |A∩B|,
    extras = (|A|−S) + (|B|−S). J ≥ t ⇒ (1+t)S ≥ t(|A|+|B|) ⇒
    extras ≤ S(1−t)/t. Walk A's sorted list: the S shared shingles form
    S−1 consecutive-in-intersection pairs; such a pair fails to be an
    anchor of A only when ≥ k_A of A's extras sit inside its gap, and
    gaps are disjoint, so A loses ≤ ⌊extras_A/k_A⌋ of them (same for B).
    A common pair survives in BOTH docs whenever
    ⌊extras_A/k_A⌋ + ⌊extras_B/k_B⌋ ≤ S − 2, and piling every extra on
    the smaller-k side shows min(k_A, k_B) ≥ ⌈(⌊S(1−t)/t⌋+1)/(S−1)⌉
    suffices — which _reach_table guarantees for every S each doc's own
    size bound licenses (its docstring carries that step). S = 1
    qualifying pairs force |A|+|B| ≤ (1+t)/t, i.e. both docs ≤ cutoff,
    and the (s, s) singleton anchors cover them. S = 0 pairs don't
    qualify. So every qualifying pair shares ≥ 1 anchor key.

    The candidate rule asks for TWO shared keys, so the reach also
    satisfies the survivors = 2 table (same gap argument with condition
    lost_A + lost_B ≤ S − 3, leaving ≥ 2 common surviving anchors),
    clamped at S_lb = 4: every pair with S ≥ 4 shares ≥ 2 keys. Pairs
    with S ≤ 3 force |A|+|B| ≤ 3(1+t)/t, i.e. BOTH docs under the small
    cutoff, and the __small flag admits them on the one key above (S = 2
    can never guarantee two survivors: it has only one
    consecutive-intersection pair). Each doc's k is the larger of the
    two tables' entries. ∎

    Why TWO anchors. The sf10 decade exposed the single-anchor candidate
    set saturating: 500k docs over the fixed generator vocabulary gave
    267M anchors whose keys saturate in turn (72% share their key) and
    282M DISTINCT candidates for ~50k true pairs at t = 0.1 — 95% of
    candidates share exactly ONE key (mean multiplicity 1.05), i.e. one
    recurring phrase pair, while a true t = 0.1 pair of median-size docs
    needs S ≥ 10 shared shingles. At t = 0.5 the same saturation showed
    (q_dedup_fuzzy sf3→10 slope 1.92, q_dedup_weighted spilling past the
    sandbox disk; measured ≥1-key candidates 4.0M vs ≥2-key 22.8k at sf3):
    intersection density protects true pairs' key counts, not the
    false-candidate flood, so the rule holds at every threshold. Cost of
    the bigger reach: q_lsh_planner sf0.1 4.9 → 6.0 s warm at t = 0.1;
    at t = 0.5 it adds ≤ 2 per tiny doc and nothing for median docs.

    Scale shape (100 TB): anchor rows are ≤ (k + 1)·|shingles| — LINEAR —
    and an anchor's postings df counts docs where the same two shingles are
    ≤ k apart, which stays O(1) even when every single shingle is corpus-hot
    (measured on the saturated sf3 twin: 23M anchor rows, 6.5M candidates —
    165× below the inverted index — and the n² coefficient shrinks from
    ~1/V to ~1/V²-ish). Candidates are collapsed on bare ids BEFORE the
    verify joins: a shared boilerplate shingle RUN gives every cluster
    pair ~dozens of common anchors, and verifying each copy multiplied
    the band-skew probe's hot-cluster work ~60× (BASELINE.md round 9
    "band skew"). Verification is then two narrow id-joins against the
    shingle arrays plus one map-side array_intersect per candidate.
    """
    cand = _salted_anchor_candidates(_anchor_keys(shingled, threshold))
    arr_a = shingled.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sh").alias("__sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    arr_b = shingled.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("sh").alias("__sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    shared = F.size(F.array_intersect("__sh_a", "__sh_b"))
    # merge (not shuffle_hash) for the VERIFY joins: their payload is the
    # wide shingle arrays, and a shuffled-hash join's build side cannot
    # spill — one hot partition of array rows is an executor OOM (observed
    # at sf3 under the 8g default heap). Sort-merge spills both sides;
    # same no-broadcast discipline, robust at any partition size.
    return (
        cand.join(arr_a.hint("merge"), "doc_id_a")
        .join(arr_b.hint("merge"), "doc_id_b")
        .withColumn("shared", shared)
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def _prefix_containment_pairs(
    shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact overlap-coefficient-≥-t pairs via PAIR-KEY PREFIX FILTERING
    with size classes — the round-11 replacement for containment's capped
    postings core (the last registered query on the plan the sf3 decade
    proved superlinear: exponent 1.38, candidates ∝ n²/V on a saturating
    vocabulary, and oracle-exactness that held only while the cap never
    fired).

    Why not the simpler forms. The adjacency-anchor scheme q_dedup_fuzzy
    uses does NOT transfer: J ≥ t caps BOTH docs' unshared shingles,
    while containment C = |A∩B|/min(|A|,|B|) ≥ t bounds only the SMALLER
    doc's extras — the larger doc's extras are unbounded (that asymmetry
    is the point of the metric), so a shared pair adjacent in A's list
    can be arbitrarily separated in B's. And the classic single-shingle
    prefix filter (contained-side prefix ⋈ full index) was built and
    MEASURED first this round: it still pays Σ prefix_df·df per shingle,
    which on the saturating scaledata corpus is the same n²/V term —
    ~2×10⁸ candidate rows at sf3, a spill blow-up in practice. The fix is
    the anchor family's actual lesson: key on PAIRS of shingles, whose
    df under saturation is ∝ n/V² — selective exactly where single
    shingles saturate.

    Scheme (prefix filtering in the AllPairs/PPJoin lineage, with the
    size-class replication that standard overlap joins use to bound the
    un-bounded side):

    1. Global rarest-first order: every shingle gets (df, xxhash64) as
       its sort key (one count window on the 8-byte hash). df = 1
       shingles drop for BOTH roles first — they cannot be shared, and
       each drop provably came out of the owner's unshared budget, so
       every prefix below shrinks by exactly the drops (the bounds use
       m = |survivors|, not n).
    2. Let S = A∩B for a qualifying pair with A the (n, doc_id)-
       canonical smaller doc, and sort S by the global order:
       s_1 < s_2 < …. |S| ≥ ⌈t·n_A⌉ =: need_A. POSITION LEMMA: in any
       doc D ⊇ {s_1..s_j}, the elements of D's sorted list before s_j
       are unshared-with-the-other-doc (≤ u_D of them) or s_1..s_{j-1},
       so pos_D(s_j) ≤ u_D + j — and this survives adversarial ordering
       ties (a tied unshared element still counts in u_D).
    3. A-ROLE emission: u_A ≤ m_A − need_A, so (s_1, s_2) lies within
       A's first P_A = m_A − need_A + 2 elements. A emits all pair keys
       xxhash64(h_x, h_y) over its P_A-prefix, tagged with its size
       class g_A = ⌊log2 n_A⌋ (exact via bin-length, not float log).
       When need_A < 2 (possible only for tiny docs, n_A ≤ ⌊1/t⌋), S
       may be a single shingle: A instead emits SINGLETON keys
       xxhash64(h, h) over its first m_A − need_A + 1 elements. The
       key FAMILY (pair vs singleton) is decided by the CLASS bound
       bound_g = ⌈t·2^g⌉ — not by need_A — so both roles of one class
       always speak the same family.
    4. B-ROLE emission: B only knows n_A ≥ 2^{g_A}, so
       u_B ≤ m_B − bound_{g_A}. For pair-family classes it emits every
       pair (x at pos i, y at pos j > i) with j ≤ m_B − bound_g + 2 for
       SOME present class g ≤ g_B — and because these prefixes are
       nested (bound_g grows with g), each pair is emitted ONCE, tagged
       gmax = the largest such g. Singleton-family classes likewise:
       (x, x) for pos(x) ≤ m_B − bound_g + 1, tagged gmax over the
       singleton classes. "Present" classes come from one bounded
       driver-side distinct (≤ 64 values — class of a doc size).
    5. Candidates: join A-role ⋈ B-role on the 8-byte key with
       g_A ≤ gmax and struct(n_A, id_A) < struct(n_B, id_B); distinct;
       then every candidate is verified EXACTLY (array_intersect on the
       full arrays). Steps 1-4 only need to be a SUPERSET of the
       qualifying pairs — hash collisions, ordering ties, and the
       conservatively-biased ceils all err toward extra candidates,
       never lost ones.

    COVERAGE PROOF. Qualifying (A, B), A canonical-smaller, g = g_A,
    bound_g ≤ ⌈t·n_A⌉ ≤ |S| (n_A ≥ 2^g). Pair-family class
    (bound_g ≥ 2): |S| ≥ need_A ≥ bound_g ≥ 2, so s_1, s_2 exist; by
    the position lemma pos_A(s_2) ≤ u_A + 2 ≤ m_A − need_A + 2 = P_A
    (A emits the key) and pos_B(s_2) ≤ u_B + 2 ≤ m_B − bound_g + 2, so
    B emitted the same key with gmax ≥ g (B's list contains s_1 < s_2
    in the same global order — same hkeys, same xxhash64 key).
    Singleton-family class (bound_g < 2): |S| ≥ 1 = need_A ≥ ...,
    pos_A(s_1) ≤ m_A − need_A + 1 and pos_B(s_1) ≤ m_B − bound_g + 1 —
    both emit xxhash64(h_1, h_1). The join's g ≤ gmax and canonical
    filters hold by construction. ∎

    Scale shape (100 TB): A-role rows ≈ C((1−t)m+2, 2) per doc — ~21 at
    t = 0.9 for the median doc; B-role rows ≈ C(m − bound_{g_min} + 2, 2)
    once per doc (nested-prefix dedup), linear in corpus size with a
    per-doc constant set by the SMALLEST present class — the honest cost
    of the metric's asymmetry. Both are map-side emissions feeding ONE
    sort-merge join on 8-byte keys (merge hints: the logical size
    estimate under the exploded arrays undershoots broadcast/shuffled-
    hash safety, the anchor family's measured sf3 lesson). Under
    vocabulary saturation pair-key df is ∝ n/V² — the join output stays
    ~(true pairs + noise) where the single-shingle join's grew ∝ n²/V.
    Residual hot singleton keys (tiny docs × stop shingle) are split by
    AQE skew-join, which works on this two-sided join. Measured:
    SCALING.json q_dedup_containment, sf0.1→3.
    """
    import math

    t = threshold
    exploded = shingled.select(
        "doc_id", "n_sh", F.explode("sh").alias("shingle")
    ).withColumn("hkey", F.xxhash64("shingle"))
    # rarest-first needs each shingle's document frequency: one count
    # window keyed on the hash (docs' shingle arrays are distinct, so
    # rows-per-key = docs-per-shingle). df = 1 rows drop for BOTH roles
    # here — no cross-doc match is possible for them.
    entries = exploded.withColumn(
        "sdf", F.count(F.lit(1)).over(Window.partitionBy("hkey"))
    ).filter(F.col("sdf") >= 2)
    # per-doc globally-ordered survivor list; per-group state is bounded
    # by the doc's own shingle count — the array shingled already holds.
    # Round 13: CACHED for the duration of this query — the frame now has
    # three consumers (A-role, B-role, and the Bloom build below), and
    # without the cache the Bloom pass would re-run the explode + df
    # window + regroup subtree as a separate job (the same driver-side
    # recompute the r12 class-probe fix removed). Intra-query reuse only;
    # the bench clears the cache after every query.
    docs = (
        entries.groupBy("doc_id", "n_sh")
        .agg(F.array_sort(F.collect_list(F.struct("sdf", "hkey"))).alias("lst"))
        .withColumn("m", F.size("lst"))
        # exact integer size class: ⌊log2 n⌋ via binary-string length
        # (float log2 could misclass near powers of two; a class
        # overestimate would be UNSOUND — bound_g > t·n_A)
        .withColumn("gcls", (F.length(F.expr("bin(n_sh)")) - 1).cast("int"))
        # conservative ceil: 1e-9 bias only ever rounds a float-noise
        # near-integer DOWN, which grows every prefix — safe
        .withColumn(
            "need", F.ceil(F.col("n_sh") * t - 1e-9).cast("int")
        )
    ).cache()
    # present size classes: one bounded driver-side distinct (≤ 64 rows —
    # classes of a long doc size), the repo's bounded-collect discipline.
    # Round 12: derived from the RAW shingled frame, not from `docs` — the
    # old pre-job re-ran the postings explode + df window + per-doc regroup
    # (the query's heaviest subtree) just to learn ≤ 64 class values
    # (measured sf0.1: 14.4 s vs 2.6 s first-run, 0.18 vs 0.08 warm). The
    # raw-frame class set is a SUPERSET of the survivor set (the df ≥ 2
    # filter only removes docs, never adds classes): coverage needs every
    # qualifying A's class present (raw ⊇ survivors ⊇ qualifying), and a
    # class whose docs all died only lengthens some B prefixes — extra
    # CANDIDATES, which the exact verify below scores and drops. Measured
    # on the driver corpus the two sets are identical.
    present = sorted(
        r["gcls"]
        for r in shingled.filter(F.col("n_sh") >= 1)
        .select(
            (F.length(F.expr("bin(n_sh)")) - 1).cast("int").alias("gcls")
        )
        .distinct()
        .collect()
    )
    bound = {g: max(1, math.ceil(t * (1 << g) - 1e-9)) for g in present}
    pair_classes = [g for g in present if bound[g] >= 2]
    single_classes = [g for g in present if bound[g] < 2]
    if not present:  # no doc has a df ≥ 2 shingle — no pair can exist
        return shingled.select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("doc_id").alias("doc_id_b"),
            F.lit(0.0).alias("containment"),
        ).limit(0)

    def pairs_sql(plen: str, tag: str) -> str:
        """All (x at i, y at j>i) with j ≤ plen, as (key, tag) structs —
        tag is an expression over the 1-based position j of y."""
        return f"""filter(flatten(transform(
            slice(lst, 1, greatest(least({plen}, m) - 1, 0)), (x, i) ->
              transform(slice(lst, i + 2, greatest(least({plen}, m) - i - 1, 0)),
                        (y, jj) ->
                struct(xxhash64(x.hkey, y.hkey) AS key,
                       CAST(({tag.replace('POS', '(i + 2 + jj)')}) AS INT)
                         AS g)))), s -> s.g >= 0)"""

    def singles_sql(plen: str, tag: str) -> str:
        return f"""filter(transform(
            slice(lst, 1, greatest(least({plen}, m), 0)), (x, i) ->
              struct(xxhash64(x.hkey, x.hkey) AS key,
                     CAST(({tag.replace('POS', '(i + 1)')}) AS INT)
                       AS g)), s -> s.g >= 0)"""

    def gmax_case(classes: list[int], slack: int) -> str:
        """Largest present class g ≤ gcls whose bound admits position
        POS: bound_g ≤ m − POS + slack; −1 when none (filtered out)."""
        arms = " ".join(
            f"WHEN gcls >= {g} AND m - POS + {slack} >= {bound[g]} THEN {g}"
            for g in sorted(classes, reverse=True)
        )
        return f"CASE {arms} ELSE -1 END"

    # A-role: key family decided by the OWN-class bound, prefix length by
    # the own (tighter) need; tag = own class, constant per row
    a_family_pair = F.col("gcls").isin(pair_classes) if pair_classes else F.lit(False)
    a_keys = docs.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("n_sh").alias("n_a"),
        F.explode(
            F.when(
                a_family_pair,
                F.expr(pairs_sql("m - need + 2", "gcls")),
            ).otherwise(F.expr(singles_sql("m - need + 1", "gcls")))
        ).alias("ak"),
    ).select(
        "doc_id_a", "n_a", F.col("ak.key").alias("key"), F.col("ak.g").alias("g")
    )
    # Round-13 Bloom pre-filter (guide §3.2; VERDICT r12 #1): the B-role
    # emission is the registry's largest join input — Σ C(m−bound_gmin+2, 2)
    # ≈ 6.8M struct rows at sf0.1 vs ~113k A-role rows — and the position
    # lemma makes its per-class prefix TIGHT, so the emission cannot shrink
    # without changing the key scheme. What CAN shrink is what crosses the
    # exchange: a Bloom filter built over the A-side keys drops B-rows with
    # no possible partner BEFORE the shuffle+sort. Exactness: Bloom filters
    # have false positives (extra candidates — the exact array_intersect
    # verify kills them) but NO false negatives, so no qualifying pair is
    # lost. Scale shape: the filter is BITS (~1.2 bytes/key at 1% fpp) over
    # the corpus-linear A-key set (~21/doc) — shippable as a plan literal
    # for ~3 decades past where the r12-rejected row-broadcast dies; beyond
    # that the same construction shards per size class. The expected-count
    # sizing aggregate and the build are one pass each over the CACHED docs
    # frame, priced inside the timed region.
    a_prefix = F.greatest(
        F.least(F.col("m") - F.col("need") + 2, F.col("m")), F.lit(0)
    )
    sizing = docs.agg(
        F.sum((a_prefix * (a_prefix - 1) / 2 + a_prefix).cast("long")).alias(
            "n_keys"
        ),
        F.sum(a_prefix.cast("long")).alias("n_pref"),
    ).collect()[0]
    if not sizing["n_keys"]:
        # no doc can play the A role (every survivor list is shorter than
        # its own need) — no qualifying pair exists; skip the Bloom builds
        return shingled.select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("doc_id").alias("doc_id_b"),
            F.lit(0.0).alias("containment"),
        ).limit(0)
    bloom = bloom_filter_bytes(
        a_keys.select("key"), "key", expected=int(sizing["n_keys"] or 1), fpp=0.01
    )
    # Second, ELEMENT-level filter (the round-13 generation diet): a B pair
    # (x, y) can only match an A key (s_1, s_2) when BOTH hkeys are members
    # of some A doc's prefix — s_1, s_2 always are (pos_A(s_2) ≤ P_A is the
    # A-side half of the coverage proof). So B first drops prefix elements
    # whose hkey no A-prefix holds, and enumerates pairs over the SURVIVORS
    # (original positions carried for the gmax tag): generation falls from
    # C(plen, 2) xxhash64+CASE evals to C(live, 2) after plen bloom probes.
    # Superset-safe both ways — hkey false positives only keep extra live
    # elements, whose extra pairs the pair-level bloom and the exact verify
    # then kill.
    hbloom = bloom_filter_bytes(
        docs.select(
            F.explode(
                F.expr(
                    "slice(lst, 1, greatest(least(m - need + 2, m), 0))"
                )
            ).alias("e")
        ).select(F.col("e.hkey").alias("hkey")),
        "hkey",
        expected=int(sizing["n_pref"] or 1),
        fpp=0.01,
    )
    # B-role: nested class prefixes emit each key ONCE at its largest
    # admissible class (gmax); pair and singleton families concatenated.
    # Pair family enumerates over the live survivors; the singleton family
    # (only present when a class has bound_g < 2, i.e. sub-⌊1/t⌋ docs)
    # keeps the original linear emission over the raw prefix.
    b_cols = []
    if pair_classes:
        plen_b = f"m - {min(bound[g] for g in pair_classes)} + 2"
        gmax_arms = " ".join(
            f"WHEN gcls >= {g} AND m - y.pos + 2 >= {bound[g]} THEN {g}"
            for g in sorted(pair_classes, reverse=True)
        )
        b_cols.append(
            F.expr(
                f"""filter(flatten(transform(
                    __live, (x, xi) ->
                      transform(slice(__live, xi + 2, size(__live) - xi - 1),
                                y ->
                        struct(xxhash64(x.hkey, y.hkey) AS key,
                               CAST((CASE {gmax_arms} ELSE -1 END) AS INT)
                                 AS g)))), s -> s.g >= 0)"""
            )
        )
    if single_classes:
        b_cols.append(
            F.expr(
                singles_sql(
                    f"m - {min(bound[g] for g in single_classes)} + 1",
                    gmax_case(single_classes, 1),
                )
            )
        )
    b_src = docs
    if pair_classes:
        b_src = b_src.withColumn(
            "__live",
            F.filter(
                F.expr(
                    f"transform(slice(lst, 1, greatest(least({plen_b}, m), 0)),"
                    " (x, i) -> struct(x.hkey AS hkey,"
                    " CAST(i + 1 AS INT) AS pos))"
                ),
                lambda s: might_contain(hbloom, s["hkey"]),
            ),
        )
    b_keys = (
        b_src.select(
            F.col("doc_id").alias("doc_id_b"),
            F.col("n_sh").alias("n_b"),
            F.explode(
                F.concat(*b_cols) if len(b_cols) > 1 else b_cols[0]
            ).alias("bk"),
        )
        .select(
            "doc_id_b",
            "n_b",
            F.col("bk.key").alias("key"),
            F.col("bk.g").alias("gmax"),
        )
        # map-side, codegen'd, pipelined with the explode: only keys the
        # A side might actually hold reach the exchange (measured sf0.1:
        # 6.8M generated → ~0.2M shuffled pre-live-filter)
        .filter(might_contain(bloom, F.col("key")))
    )
    cand = (
        a_keys.join(b_keys.hint("merge"), "key")
        .filter(
            (F.col("g") <= F.col("gmax"))
            & (
                F.struct(F.col("n_a"), F.col("doc_id_a"))
                < F.struct(F.col("n_b"), F.col("doc_id_b"))
            )
        )
        .select(
            F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
            F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
        )
        .distinct()
    )
    arr_a = shingled.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sh").alias("__sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    arr_b = shingled.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("sh").alias("__sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    # merge hints on the verify joins: wide array payloads, same
    # no-broadcast/no-shuffled-hash spill discipline as the anchor verify
    return (
        cand.join(arr_a.hint("merge"), "doc_id_a")
        .join(arr_b.hint("merge"), "doc_id_b")
        .withColumn("shared", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(
            "containment", F.col("shared") / F.least(F.col("n_a"), F.col("n_b"))
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_id_a", "doc_id_b", "containment")
    )


# ---------------------------------------------------------------------------
# q_dedup_exact
# ---------------------------------------------------------------------------
@register(
    "q_dedup_exact",
    oracle=rf"""
    SELECT {sql_content_fingerprint("text")} AS fingerprint,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups via md5 of whitespace-normalized content: one hash
    aggregate keyed on the fingerprint — the PK-identity semantics of
    sql_config.yaml:18 applied to content instead of keys."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", content_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_keep_best — exact dedup with a quality-keeper policy
# ---------------------------------------------------------------------------
@register(
    "q_dedup_keep_best",
    oracle=rf"""
    SELECT {sql_content_fingerprint("text")} AS fingerprint,
           max_by(doc_id, n_chars * 10000000000 - doc_id) AS keeper_doc_id,
           MAX(n_chars) AS keeper_chars,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a *policy*: keep the copy with the most content
    (longest n_chars; ties → lowest doc_id) instead of an arbitrary one —
    what a curation pipeline actually wants when duplicates differ in
    truncation. Argmax via max_by over the packed (n_chars, −doc_id) key:
    one map-side-combinable hash aggregate, no window sort (cf.
    q_argmax_group). Packing domain: doc_id < 1e10 and n_chars < 9e8 keep
    the key inside int64 and the tie-break strictly subordinate — beyond
    that, switch the ordering key to a struct(n_chars, -doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    quality = F.col("n_chars") * 10_000_000_000 - F.col("doc_id")
    return (
        docs.select(
            "doc_id",
            "n_chars",
            content_fingerprint(F.col("text")).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.max_by("doc_id", quality).alias("keeper_doc_id"),
            F.max("n_chars").alias("keeper_chars"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_fuzzy — shingle-Jaccard near-duplicate pairs (oracle-checked)
# ---------------------------------------------------------------------------
# Shared shingle-pair CTE chain (tok → sh → e → pairs), reused verbatim by
# the fuzzy/containment oracles and the text-cluster closure oracle so the
# pair semantics can never drift between them.
_SQL_SHINGLE_PAIR_CTES = rf"""tok AS (
      SELECT doc_id, {sql_tokens("text")} AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                          i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM tok
    ),
    e AS (
      SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS shared
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )"""

_SQL_FUZZY_JACCARD = "CAST(shared AS DOUBLE) / (n_a + n_b - shared)"


@register(
    "q_dedup_fuzzy",
    oracle=f"""
    WITH {_SQL_SHINGLE_PAIR_CTES}
    SELECT doc_id_a, doc_id_b,
           {_SQL_FUZZY_JACCARD} AS jaccard
    FROM pairs
    WHERE {_SQL_FUZZY_JACCARD} >= {_JACCARD_THRESHOLD}
    """,
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-shingle Jaccard ≥ 0.5 near-duplicate pairs, EXACT (the
    oracle is the exhaustive per-shingle join). Round 9 moved the plan
    from the per-shingle inverted index to the adjacency-anchor
    filter-verify join (_anchor_jaccard_pairs, coverage proof there):
    the sf3 scaling decade showed the postings core superlinear on a
    saturating vocabulary (exponent 1.38, 1.07e9 candidates at sf3),
    while anchors keep candidate volume 165× lower with the same exact
    output."""
    docs = load_table(spark, sf_dir, "documents")
    return _anchor_jaccard_pairs(_doc_shingles(docs), _JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# q_dedup_containment — overlap-coefficient near-subset pairs
# ---------------------------------------------------------------------------
_CONTAINMENT_THRESHOLD = 0.9


@register(
    "q_dedup_containment",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, {sql_tokens("text")} AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                          i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM tok
    ),
    e AS (
      SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS shared
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id_a, doc_id_b,
           CAST(shared AS DOUBLE) / least(n_a, n_b) AS containment
    FROM pairs
    WHERE CAST(shared AS DOUBLE) / least(n_a, n_b) >= {_CONTAINMENT_THRESHOLD}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET duplicate pairs via the overlap coefficient
    |A∩B| / min(|A|,|B|) ≥ 0.9: flags a short document embedded in a
    longer one (quoted article, boilerplate-wrapped rehost), which Jaccard
    structurally misses — a 200-shingle doc fully contained in a
    2000-shingle doc has Jaccard 0.1 but containment 1.0. Round 11 moved
    the plan off the capped inverted index (whose exactness held only
    while the postings cap never fired) onto the exact PREFIX-FILTER
    scheme — rarest-first ordering, contained-side prefix against a full
    df ≥ 2 index, exact array_intersect verify; coverage proof and 100 TB
    shape on :func:`_prefix_containment_pairs`. Oracle unchanged (the
    exhaustive per-shingle join); the double division of exact ints
    hashes identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return _prefix_containment_pairs(
        _doc_shingles(docs), _CONTAINMENT_THRESHOLD
    )


# ---------------------------------------------------------------------------
# q_dedup_incremental — dedup a NEW batch against the known corpus
# ---------------------------------------------------------------------------
_INCR_SPLIT_ID = 250  # doc_id < split = known corpus, >= split = new batch


@register(
    "q_dedup_incremental",
    oracle=rf"""
    WITH known AS (
      SELECT DISTINCT {sql_content_fingerprint("text")} AS fp
      FROM documents WHERE doc_id < {_INCR_SPLIT_ID}
    ),
    batch AS (
      SELECT doc_id, lang,
             {sql_content_fingerprint("text")} AS fp
      FROM documents WHERE doc_id >= {_INCR_SPLIT_ID}
    )
    SELECT b.doc_id, b.lang
    FROM batch b
    WHERE b.fp NOT IN (SELECT fp FROM known)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The op a daily ingest actually runs: drop new-batch docs whose content
    fingerprint already exists in the accumulated corpus — dedup as an
    ANTI-JOIN on fingerprints, not a full re-clustering. (Here the split is
    simulated on doc_id; in production `known` is the fingerprint column of
    the corpus table.) Scale shape: the anti-join shuffles batch + corpus
    fingerprints on fp — a narrow (16-byte) column regardless of document
    size; with the corpus side bucketed by fp the shuffle drops to the batch
    side only, and a Bloom filter of corpus fingerprints (AQE injects one
    for selective joins) short-circuits most batch rows scan-side."""
    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint(F.col("text")).alias("fp")
    known = docs.filter(F.col("doc_id") < _INCR_SPLIT_ID).select(fp).distinct()
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT_ID).select(
        "doc_id", "lang", fp
    )
    return batch.join(known, "fp", "left_anti").select("doc_id", "lang")


# ---------------------------------------------------------------------------
# q_duplicate_stats — corpus duplication-rate report
# ---------------------------------------------------------------------------
@register(
    "q_duplicate_stats",
    oracle=rf"""
    WITH g AS (
      SELECT {sql_content_fingerprint("text")} AS fp,
             COUNT(*) AS n
      FROM documents GROUP BY 1
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) FILTER (n > 1) AS BIGINT) AS n_dup_groups,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
             AS docs_in_dup_groups,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_removable
    FROM g
    """,
)
def q_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication report — the number a curation run is judged by
    ("what fraction of the crawl is copies"): group sizes per content
    fingerprint rolled into one summary row. Two hash aggregates, the second
    over |distinct fingerprints| rows; nothing rescans documents."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(content_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dup = F.col("n") > 1
    return g.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.count_if(dup).alias("n_dup_groups"),
        F.sum(F.when(dup, F.col("n")).otherwise(0)).cast("long")
        .alias("docs_in_dup_groups"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# q_dedup_minhash — MinHash + LSH banding, exact-verify candidates
# ---------------------------------------------------------------------------
_MH_PRIME = 1_000_000_007
# deterministic permutation constants (seeded LCG, generated offline)
_MH_PERMS = [
    (2654435761, 104729), (2246822519, 224737), (3266489917, 350377),
    (668265263, 479909), (374761393, 611953), (2447445653, 746773),
    (1540483477, 882377), (2654435789, 1020379), (2166136261, 1159523),
    (16777619, 1299709), (1013904223, 1441859), (1664525, 1583539),
]
_MH_BAND_SIZE = 3  # 12 hashes → 4 bands of 3

# shared CTE text: distinct word-3-shingles per doc (the q_dedup_fuzzy
# tokenization) + the portable per-shingle base hash folded into [0, p)
_MH_SHINGLE_CTES = rf"""
    tok AS (
      SELECT doc_id, {sql_tokens("text")} AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                          i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM tok
    ),
    e AS (
      SELECT doc_id, unnest(shs) AS shingle FROM sh
    ),
    h AS (
      SELECT doc_id, {sql_md5_int('shingle', 8)} % {_MH_PRIME} AS h0 FROM e
    )"""

_MH_SIG_SQL = ", ".join(
    f"MIN(({a} * h0 + {b}) % {_MH_PRIME}) AS mh{i}"
    for i, (a, b) in enumerate(_MH_PERMS)
)

_MH_BANDS_SQL = "\n      UNION ALL\n".join(
    f"""      SELECT doc_id, {band} AS band,
             concat_ws(':', {', '.join(f'mh{band * _MH_BAND_SIZE + j}' for j in range(_MH_BAND_SIZE))})
               AS band_key
      FROM sigs"""
    for band in range(len(_MH_PERMS) // _MH_BAND_SIZE)
)



def _mh_sig_partials(batches):
    """Vectorized MinHash signatures, one output row per doc — the round-12
    Arrow twin of the retired explode + conv + 12-MIN plan (guide §4.2, the
    stats_tests draw-kernel move). Bit-identical by construction:
    conv(substring(md5_hex, 1, 8), 16, 10) == big-endian uint32 of the
    first four md5 DIGEST bytes, pmod == % for these positive operands, and
    a·h0 + b ≤ 3.3e18 < 2^63 so the int64 modular arithmetic is exact in
    numpy exactly as it was in the JVM. Per-doc mins are independent of
    Arrow batching. Docs whose shingle array is empty/null emit no row,
    matching the explode."""
    import hashlib

    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    cols = [f"mh{i}" for i in range(len(_MH_PERMS))]
    hcache: dict = {}
    for pdf in batches:
        ids, arrs = [], []
        for doc_id, sh in zip(pdf["doc_id"], pdf["sh"]):
            if sh is None or len(sh) == 0:
                continue
            ids.append(doc_id)
            arrs.append(np.asarray(sh, dtype=object))
        if not ids:
            out = pd.DataFrame(
                np.empty((0, len(_MH_PERMS)), dtype=np.int64), columns=cols
            )
            out.insert(0, "doc_id", pd.Series([], dtype="int64"))
            yield out
            continue
        # hash each UNIQUE shingle once (batch-wide factorize + capped
        # per-task cache — md5 is pure, so this is value-identical to the
        # per-occurrence hash; see _sh_sig_partials for the measured cliff
        # the cache closes), then per-doc mins via minimum.reduceat over
        # contiguous segments.
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        codes, uniq = pd.factorize(np.concatenate(arrs))
        hu = np.empty(len(uniq), dtype=np.int64)
        for k, s in enumerate(uniq):
            v = hcache.get(s)
            if v is None:
                v = int.from_bytes(md5(s.encode()).digest()[:4], "big") % _MH_PRIME
                if len(hcache) < (1 << 20):
                    hcache[s] = v
            hu[k] = v
        h0_all = hu[codes]
        sig = np.empty((len(arrs), len(_MH_PERMS)), dtype=np.int64)
        for i, (a, b) in enumerate(_MH_PERMS):
            sig[:, i] = np.minimum.reduceat((a * h0_all + b) % _MH_PRIME, starts)
        out = pd.DataFrame(sig, columns=cols)
        out.insert(0, "doc_id", pd.Series(ids, dtype="int64"))
        yield out


def _sig_fan_out(sigs: DataFrame) -> DataFrame:
    """Doc-grain repartition after a map-side signature kernel — the
    round-12 scaling-sweep find: the kernels replaced the postings
    shuffle, but that shuffle was LOAD-BEARING for the banded self-join's
    parallelism. Without it the signature frame keeps the scan's
    partitioning (ONE task on a single-row-group parquet), the join plans
    as BroadcastHashJoin over a 1-partition stream side, and the whole
    candidate expansion runs single-threaded: q_dedup_simhash re-measured
    18.0 s at sf1 / >400 s at sf3 against the retired plan's 10.9 s /
    ~30 s on the same host (SCALING.json's committed 184 s sf3 point was
    this defect, not host noise). Signature rows are (doc_id, sig) — 16-100
    bytes/doc, ~500× less than the postings shuffle the kernels removed —
    so this exchange restores cluster-width parallelism at ~0 cost.
    N = defaultParallelism: cluster-derived (scales with the driver's
    core-count sweeps and any real cluster), NOT a tuned local constant.
    Explicit N because AQE's byte-based coalescing would collapse this
    kilobyte-sized exchange to one partition — its compute-per-byte
    (the band-join probe) is what the byte heuristic cannot see."""
    spark = sigs.sparkSession
    return sigs.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def _mh_sigs(shingled: DataFrame) -> DataFrame:
    """MinHash signatures (doc_id, mh0..mh11) from distinct-shingle docs.

    Round 12: computed by the vectorized Arrow kernel above — the prior
    plan exploded postings, paid one md5 + conv(hex) per shingle row
    (conv alone measured heavier than md5, see stats_tests' kernel block)
    and a 12-MIN hash aggregate; the kernel hashes each doc's array in
    place and emits ONE row per doc, so the signature stage ships no
    postings — only the doc-grain _sig_fan_out exchange that keeps the
    downstream band join parallel."""
    schema = "doc_id long, " + ", ".join(
        f"mh{i} long" for i in range(len(_MH_PERMS))
    )
    return _sig_fan_out(
        shingled.select("doc_id", "sh").mapInPandas(_mh_sig_partials, schema)
    )


def _mh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — one pass over the signatures: bands as an
    exploded literal array (a unionByName-per-band would recompute the
    signature aggregation once per band and again per self-join side)."""
    n_bands = len(_MH_PERMS) // _MH_BAND_SIZE
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                ":",
                *[F.col(f"mh{band * _MH_BAND_SIZE + j}") for j in range(_MH_BAND_SIZE)],
            ).alias("band_key"),
        )
        for band in range(n_bands)
    ]
    return (
        sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bk"))
        .select("doc_id", "bk.band", "bk.band_key")
    )


def _mh_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (doc_id_a < doc_id_b) pairs sharing any band bucket."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )


@register(
    "q_dedup_minhash",
    oracle=rf"""
    WITH {_MH_SHINGLE_CTES},
    sigs AS (
      SELECT doc_id, {_MH_SIG_SQL} FROM h GROUP BY doc_id
    ),
    bands AS (
{_MH_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_id_a, c.doc_id_b,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
             AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_id_a
    JOIN sh y ON y.doc_id = c.doc_id_b
    WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
            / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
          >= {_JACCARD_THRESHOLD}
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dup pairs, exact-Jaccard-verified — with a full
    DuckDB oracle: the permuted hashes run on a PORTABLE base hash (md5 hex
    → int, see portable.md5_int), so every stage (signatures, banding, candidate
    join, exact verify) is reproducible SQL. a·H + b stays under 2^63
    (a < 2^32, H < p ≈ 2^30), so the modular arithmetic is exact int64 in
    both engines; band keys are ':'-joined strings, not an engine hash.

    Signature: h_i(doc) = min over shingles of (a_i·H(s) + b_i) mod p.
    Docs sharing any band of the signature become candidates; candidates
    are verified with exact Jaccard. Cost: O(docs × k) signature work +
    |bands| narrow self-joins + verification on candidates only — the
    100 TB path (never all-pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    # cached because three downstream branches (signatures, verify-a,
    # verify-b) consume it; released by Spark's ContextCleaner once the
    # returned frame is dropped by the caller
    shingled = _doc_shingles(docs).cache()
    bands = _mh_bands(_mh_sigs(shingled)).cache()
    candidates = _mh_candidates(bands)

    # exact verification restricted to candidates
    sh_a = shingled.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"),
                           F.col("n_sh").alias("n_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"),
                           F.col("n_sh").alias("n_b"))
    verified = (
        candidates.join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )
    return verified



# ---------------------------------------------------------------------------
# q_minhash_estimate — estimator calibration: signature agreement vs exact
# ---------------------------------------------------------------------------
@register(
    "q_minhash_estimate",
    oracle=rf"""
    WITH {_MH_SHINGLE_CTES},
    sigs AS (
      SELECT doc_id, {_MH_SIG_SQL} FROM h GROUP BY doc_id
    ),
    bands AS (
{_MH_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_id_a, c.doc_id_b,
           CAST(CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END + CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END + CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END + CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END + CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END + CASE WHEN sa.mh8 = sb.mh8 THEN 1 ELSE 0 END + CASE WHEN sa.mh9 = sb.mh9 THEN 1 ELSE 0 END + CASE WHEN sa.mh10 = sb.mh10 THEN 1 ELSE 0 END + CASE WHEN sa.mh11 = sb.mh11 THEN 1 ELSE 0 END AS BIGINT) AS n_agree,
           (CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END + CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END + CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END + CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END + CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END + CASE WHEN sa.mh8 = sb.mh8 THEN 1 ELSE 0 END + CASE WHEN sa.mh9 = sb.mh9 THEN 1 ELSE 0 END + CASE WHEN sa.mh10 = sb.mh10 THEN 1 ELSE 0 END + CASE WHEN sa.mh11 = sb.mh11 THEN 1 ELSE 0 END) / {len(_MH_PERMS)} AS est_jaccard,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
             AS jaccard,
           ABS((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END + CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END + CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END + CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END + CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END + CASE WHEN sa.mh8 = sb.mh8 THEN 1 ELSE 0 END + CASE WHEN sa.mh9 = sb.mh9 THEN 1 ELSE 0 END + CASE WHEN sa.mh10 = sb.mh10 THEN 1 ELSE 0 END + CASE WHEN sa.mh11 = sb.mh11 THEN 1 ELSE 0 END) / {len(_MH_PERMS)}
               - CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
                 / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))))
             AS abs_err
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_id_a
    JOIN sigs sb ON sb.doc_id = c.doc_id_b
    JOIN sh x ON x.doc_id = c.doc_id_a
    JOIN sh y ON y.doc_id = c.doc_id_b
    """,
)
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration — the index-quality evaluation for the
    signature side (q_ann_recall's sibling for set similarity): for every
    LSH candidate pair, the signature-agreement estimate
    (matching components / k) next to the exact Jaccard and their absolute
    error. This is the table that tells you whether k=12 hashes suffice
    for your threshold before you trust the estimate at 100 TB (where the
    exact verify is the expensive part you want to skim). All arithmetic is
    exact ints plus single correctly-rounded divisions/subtraction, so the
    calibration hashes bitwise across engines."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = _doc_shingles(docs).cache()
    sigs = _mh_sigs(shingled).cache()
    candidates = _mh_candidates(_mh_bands(sigs))

    sa = sigs.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(len(_MH_PERMS))],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(len(_MH_PERMS))],
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(len(_MH_PERMS))
    )
    sh_a = shingled.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sh_b = shingled.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .withColumn("n_agree", n_agree.cast("long"))
        .withColumn("est_jaccard", F.col("n_agree") / len(_MH_PERMS))
        .withColumn(
            "jaccard", shared / (F.col("n_a") + F.col("n_b") - shared)
        )
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("jaccard")))
        .select("doc_id_a", "doc_id_b", "n_agree", "est_jaccard", "jaccard", "abs_err")
    )

# ---------------------------------------------------------------------------
# q_dedup_simhash — 64-bit SimHash + banded Hamming search
# ---------------------------------------------------------------------------
_SH_BITS = 60  # 15 md5 nibbles = 60 hyperplanes; packed signature positive
_SH_BANDS = 4
_SH_HAMMING_MAX = 8


def _sh_sig_partials(batches):
    """Vectorized SimHash signatures, one (doc_id, simhash) row per doc —
    the round-12 Arrow twin of the retired explode + conv + 60-SUM-vote
    aggregate. Bit-identical: conv(substring(md5_hex, 1, 15), 16, 10) ==
    (big-endian uint64 of the first 8 digest bytes) >> 4; votes are the
    same integer sums over the same token multiset (duplicates included,
    exactly as the explode emitted them); the sign rule is the same strict
    vote > 0. Per-doc packing is independent of Arrow batching; docs with
    a null token array emit no row, matching explode(null).

    Hashing is per UNIQUE token (batch-wide factorize + a capped per-task
    cache, guide §4.5) — md5 is a pure function of the token bytes, so
    hashing each distinct token once is value-identical to hashing every
    occurrence, and occurrences/vocabulary is the whole cost ratio (the
    first uncached cut measured scaling exponent 1.49 over sf0.1→3 where
    the retired JVM plan held 0.64 — the per-occurrence Python md5 loop
    was a found cliff; cached + reduceat vote sums restore ≤ the JVM
    curve). Vote sums are np.add.reduceat over contiguous per-doc
    segments — same int64 additions, segment order is the array order."""
    import hashlib

    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    weights = (np.uint64(1) << np.arange(_SH_BITS, dtype=np.uint64)).astype(
        np.int64
    )
    hcache: dict = {}
    for pdf in batches:
        ids, arrs = [], []
        for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
            if toks is None or len(toks) == 0:
                continue
            ids.append(doc_id)
            arrs.append(np.asarray(toks, dtype=object))
        if not ids:
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "simhash": pd.Series([], dtype="int64"),
                }
            )
            continue
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        codes, uniq = pd.factorize(np.concatenate(arrs))
        hu = np.empty(len(uniq), dtype=np.uint64)
        for k, t in enumerate(uniq):
            v = hcache.get(t)
            if v is None:
                v = int.from_bytes(md5(t.encode()).digest()[:8], "big") >> 4
                if len(hcache) < (1 << 20):  # bound per-task cache memory
                    hcache[t] = v
            hu[k] = v
        h_all = hu[codes]
        sums = np.empty((len(arrs), _SH_BITS), dtype=np.int64)
        for b in range(_SH_BITS):
            bit = ((h_all >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            sums[:, b] = np.add.reduceat(bit, starts)
        votes = 2 * sums - lens[:, None]
        packed = (weights[None, :] * (votes > 0)).sum(axis=1)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "simhash": packed.astype(np.int64),
            }
        )

_SH_BAND_WIDTH = _SH_BITS // _SH_BANDS
_SH_BANDS_SQL = "\n      UNION ALL\n".join(
    f"""      SELECT doc_id, simhash, {band} AS band,
             (simhash >> {band * _SH_BAND_WIDTH}) & {(1 << _SH_BAND_WIDTH) - 1}
               AS band_key
      FROM packed"""
    for band in range(_SH_BANDS)
)


@register(
    "q_dedup_simhash",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_tokens("text")}) AS t
      FROM documents
    ),
    th AS (
      SELECT doc_id, {sql_md5_int('t', 15)} AS h FROM tok
    ),
    bits AS (
      SELECT doc_id, b.b AS bit, SUM(((h >> b.b) & 1) * 2 - 1) AS vote
      FROM th, LATERAL unnest(range(0, {_SH_BITS})) AS b(b)
      GROUP BY 1, 2
    ),
    packed AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    bands AS (
{_SH_BANDS_SQL}
    )
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_HAMMING_MAX}
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — with a full DuckDB oracle: per-token 60-bit
    PORTABLE hashes (md5 hex → int, portable.md5_int) vote per bit; docs whose
    signatures agree on any 15-bit band are candidates; pairs within
    Hamming distance 8 are returned. The oracle recomputes the votes in
    long format (doc, bit) — same integer sums, same sign rule, same packed
    signature — so the banded search is value-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    # round-12 (guide §4.2, the _mh_sig_partials move): tokenization stays
    # in the JVM (Java and Python regex \s+ differ on unicode whitespace —
    # splitting here keeps the token stream bit-identical), but the
    # per-token md5 + conv(15 hex) decode, the 60 per-bit vote sums and
    # the sign-pack run vectorized in _sh_sig_partials — the retired plan
    # exploded every token occurrence (~500 rows/doc) through a 60-SUM
    # aggregate, the largest codegen unit in the registry. One packed
    # signature row per doc comes back; no postings shuffle.
    toks = fan_out_scan(docs).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    packed = _sig_fan_out(
        toks.mapInPandas(_sh_sig_partials, "doc_id long, simhash long")
    )

    band_width = _SH_BITS // _SH_BANDS
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftright(F.col("simhash"), band * band_width)
            .bitwiseAND(F.lit((1 << band_width) - 1))
            .alias("band_key"),
        )
        for band in range(_SH_BANDS)
    ]
    bands = (
        packed.select(
            "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
        )
        .select("doc_id", "simhash", "bk.band", "bk.band_key")
        .cache()
    )

    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= _SH_HAMMING_MAX)
    )



# ---------------------------------------------------------------------------
# q_simhash_calibration — Hamming distance vs exact Jaccard on candidates
# ---------------------------------------------------------------------------
from ..registry import ORACLES as _ORACLES  # noqa: E402  (self-composition)


@register(
    "q_simhash_calibration",
    oracle=rf"""
    WITH cand AS ({_ORACLES["q_dedup_simhash"]}),
    {_MH_SHINGLE_CTES}
    SELECT c.doc_id_a, c.doc_id_b, c.hamming,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
             AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_id_a
    JOIN sh y ON y.doc_id = c.doc_id_b
    """,
)
def q_simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash calibration — the third estimator-quality table (with
    q_ann_recall for the vector index and q_minhash_estimate for MinHash):
    every banded-SimHash candidate pair with its signature Hamming distance
    NEXT TO the exact shingle Jaccard, so the Hamming threshold can be
    tuned against what it actually admits. Deliberately no cos(pi*h/k)
    angle estimate in the output: transcendentals are not correctly
    rounded cross-engine (registry.py policy) and the monotone mapping
    from hamming is tunable downstream. Composes the registered simhash
    search with the shingle machinery - one extra join pair over the
    candidate set, still never all-pairs."""
    pairs = QUERIES["q_dedup_simhash"](spark, sf_dir)
    shingled = _doc_shingles(load_table(spark, sf_dir, "documents"))
    sh_a = shingled.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sh_b = shingled.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .withColumn("jaccard", shared / (F.col("n_a") + F.col("n_b") - shared))
        .select("doc_id_a", "doc_id_b", "hamming", "jaccard")
    )

# ---------------------------------------------------------------------------
# q_dup_source_matrix — which sources copy from which (near-dup cross table)
# ---------------------------------------------------------------------------
@register(
    "q_dup_source_matrix",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, source, {sql_tokens("text")} AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                          i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM tok
    ),
    e AS (
      SELECT doc_id, source, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             a.source AS sa, b.source AS sb,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS shared
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
           COUNT(*) AS n_dup_pairs
    FROM pairs
    WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= {_JACCARD_THRESHOLD}
    GROUP BY 1, 2
    """,
)
def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-duplicate pairs (the same
    3-shingle Jaccard basis as q_dedup_fuzzy) counted per unordered source
    pair — the diagnostic that finds mirror sites and re-crawled feeds
    before they skew the training mix (the per-source face of
    q_duplicate_stats' corpus totals). Same adjacency-anchor plan as the
    fuzzy op (round 9) plus one broadcast-scale join back to
    (doc_id, source) and a 20x20-cell aggregate; the matrix is tiny at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _anchor_jaccard_pairs(_doc_shingles(docs), _JACCARD_THRESHOLD)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# q_dedup_weighted — rarity-weighted Jaccard near-dup pairs (exact integers)
# ---------------------------------------------------------------------------
_WEIGHTED_THRESHOLD = 0.5


@register(
    "q_dedup_weighted",
    oracle=f"""
    WITH {_SQL_SHINGLE_PAIR_CTES},
    ndocs AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (SELECT shingle, COUNT(*) AS sdf FROM e GROUP BY shingle),
    wtot AS (
      SELECT e.doc_id,
             CAST(SUM(n.n_docs - df.sdf) AS BIGINT) AS w_total
      FROM e JOIN df USING (shingle) CROSS JOIN ndocs n
      GROUP BY e.doc_id
    ),
    wshared AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(SUM(n.n_docs - df.sdf) AS BIGINT) AS w_shared
      FROM e a
      JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN df ON df.shingle = a.shingle
      CROSS JOIN ndocs n
      GROUP BY 1, 2
    )
    SELECT w.doc_id_a, w.doc_id_b,
           CAST(w.w_shared AS DOUBLE)
             / CAST(ta.w_total + tb.w_total - w.w_shared AS DOUBLE)
             AS weighted_jaccard
    FROM wshared w
    JOIN wtot ta ON w.doc_id_a = ta.doc_id
    JOIN wtot tb ON w.doc_id_b = tb.doc_id
    WHERE CAST(w.w_shared AS DOUBLE)
            / CAST(ta.w_total + tb.w_total - w.w_shared AS DOUBLE)
          >= {_WEIGHTED_THRESHOLD}
    """,
)
def q_dedup_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted Jaccard near-dup pairs: each shingle carries weight
    (N_docs − df) — rare shingles dominate, corpus-wide boilerplate counts
    for almost nothing — so two documents sharing distinctive content
    score high even when wrapped in common template text, the failure mode
    of unweighted Jaccard that q_boilerplate_ngrams otherwise has to
    pre-strip. Weights are exact BIGINTs (the classic 1/df weighting would
    be an order-sensitive float sum), shared/union masses are integer
    sums, and the score is ONE double division — bitwise-identical across
    engines.

    Plan (round-9 restructure — MASS-DISTANCE ANCHORS): the round-8
    inverted-index form went superlinear on the sf3 scaling decade for the
    same reason as q_dedup_fuzzy (candidates = Σdf²/2 ~ n²/V under
    vocabulary saturation; measured exponent 1.39). The fix is the
    weighted generalization of _anchor_jaccard_pairs' adjacency anchors:
    each doc sorts its distinct shingles by the global (lexicographic)
    order and emits an anchor (lo, hi) for every pair whose BETWEEN-MASS —
    the summed weights of its own shingles strictly between them — is
    ≤ M₂ = ⌊4·wmax·(1−t)/t⌋ with wmax = N−1 (the largest weight any shingle
    can carry, so no extra pre-pass), plus (s, s) singletons for docs with
    total mass ≤ wmax·(1+t)/t. Round 11 doubled the budget from the
    round-9 M = 2·wmax·(1−t)/t and demands TWO shared anchor keys per
    candidate (the weighted twin of _anchor_jaccard_pairs' dual-anchor
    rule, via the shared _salted_anchor_candidates): the single-anchor candidate
    set saturated at the sf10 decade exactly like the unweighted one —
    its warm-up SPILLED PAST THE SANDBOX DISK where fuzzy merely went
    superlinear — because anchor-key df grows with corpus size at any
    threshold while a true pair's shared-key count does not shrink.

    COVERAGE PROOF (weighted twin of the survivors=2 count proof on
    _anchor_jaccard_pairs; stated via M₂+1 so the shipped budget's
    int() truncation is explicitly harmless — round-11 ADVICE: the code
    uses M₂ = ⌊4·wmax·(1−t)/t⌋, which can sit strictly below the real
    ratio, but a gap is LOST only when its integer mass is ≥ M₂+1, and
    M₂+1 > 4·wmax·(1−t)/t unconditionally): w-J ≥ t ⇒ w(extras) ≤
    w(S)·(1−t)/t ≤ |S|·wmax·(1−t)/t, where S is the shared set. A
    consecutive-in-S pair fails to be A's anchor only when ≥ M₂+1 of
    A's extra mass sits in its gap, and gaps are disjoint, so A loses
    ≤ ⌊w(extras_A)/(M₂+1)⌋ of the S−1 pairs; floors are superadditive,
    so lost_A + lost_B ≤ ⌊w(extras)/(M₂+1)⌋ < |S|·wmax·(1−t)/t /
    (4·wmax·(1−t)/t) = |S|/4; an integer < |S|/4 is ≤ (|S|−1)/4 ≤
    |S|−3 for every |S| ≥ 4: at least two common pair keys survive in
    both docs. |S| ≤ 3 forces wt_a + wt_b ≤ w(S)(1+t)/t ≤
    3·wmax·(1+t)/t — both docs under the __small cutoff, where the
    candidate stage falls back to the ≥1-key rule: there lost < |S|/4
    ≤ 3/4 means NO pair key is lost for |S| ∈ {2, 3}, and |S| = 1
    pairs (wt ≤ wmax(1+t)/t ≤ the singleton cutoff on both sides)
    share the (s, s) key. ∎  Zero-weight
    (corpus-universal) shingles extend anchors across themselves for
    free — precisely the boilerplate-straddling behavior the weighting
    exists for — while on weight-homogeneous corpora the mass budget
    admits ≤ 4 in-between shingles (anchor rows stay ≤ ~5 per shingle;
    the ≥2-key aggregate then collapses the saturated candidate flood
    the way the sf3 probe measured for the unweighted core: 4.0M → 22.8k
    for 216 true pairs).

    Every candidate is verified EXACTLY: both docs' (shingle → weight)
    maps join in, w_shared sums the intersection's weights, and the score
    is one double division — the oracle (exhaustive per-shingle join)
    is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = _doc_shingles(docs)
    e = shingled.select("doc_id", F.explode("sh").alias("shingle"))
    # The corpus size N is a weight-MODEL constant, not data: resolve it
    # driver-side (one no-column parquet count — row-group footers only)
    # and inline it as a literal, the same bounded pre-pass discipline as
    # IVF/PQ's driver-side centroid training.
    n_docs = docs.count()
    t = _WEIGHTED_THRESHOLD
    w_max = max(n_docs - 1, 1)
    # DUAL-ANCHOR mass budget (round 11, the weighted twin of
    # _anchor_jaccard_pairs' survivors=2 rule — its single-anchor
    # M = 2·wmax·(1−t)/t spilled past the sandbox disk at sf10):
    # M₂ = ⌊4·wmax·(1−t)/t⌋. Proof — stated via M₂+1 so the int()
    # truncation of the budget is explicitly harmless (round-11 ADVICE:
    # M₂ can sit strictly BELOW 4·wmax·(1−t)/t, so a ⌊w/M₂⌋ bound
    # would silently weaken; the anchor filter keeps a gap iff its
    # integer mass ≤ M₂, so a gap is LOST only when mass ≥ M₂+1, and
    # M₂+1 > 4·wmax·(1−t)/t always): losses are floor-superadditive,
    # lost_A + lost_B ≤ ⌊w(extras)/(M₂+1)⌋ < S·wmax·(1−t)/t /
    # (4·wmax·(1−t)/t) = S/4; an integer < S/4 is ≤ (S−1)/4 ≤ S−3 for
    # every S ≥ 4 — at least TWO of the S−1 consecutive-in-S pair keys
    # survive in both docs. S ≤ 3 pairs force
    # wt_a + wt_b ≤ w(S)(1+t)/t ≤ 3·wmax·(1+t)/t: both docs sit under
    # the __small cutoff and keep the ≥1-key rule there — where
    # lost < S/4 ≤ 3/4 means NO pair key is ever lost (S ≥ 2), and
    # S = 1 pairs keep the (s, s) singletons (wt ≤ wmax(1+t)/t ≤ cutoff).
    mass_budget = int(4 * w_max * (1 - t) / t)          # M₂ in the proof
    singleton_cutoff = int(w_max * (1 + t) / t)
    small_cutoff = int(3 * w_max * (1 + t) / t)
    # df per shingle via one shingle-partitioned window, then regroup per
    # doc into globally-sorted (shingle, weight) arrays + prefix sums
    w_sh = Window.partitionBy("shingle")
    per_doc = (
        e.withColumn("sdf", F.count(F.lit(1)).over(w_sh))
        .withColumn("w", (F.lit(n_docs) - F.col("sdf")).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("shingle", "w"))).alias("sw")
        )
        .select(
            "doc_id",
            F.expr("transform(sw, x -> x.shingle)").alias("__shs"),
            F.expr("transform(sw, x -> x.w)").alias("__ws"),
            F.expr("aggregate(sw, cast(0 as long), (a, x) -> a + x.w)").alias("wt"),
        )
        # 0-indexed prefix masses: __p[m] = mass of the first m shingles,
        # so between-mass(i, j) (1-based positions) = __p[j-1] - __p[i]
        .withColumn(
            "__p",
            F.expr(
                "aggregate(__ws, array(cast(0 as long)), "
                "(acc, w) -> array_append(acc, element_at(acc, -1) + w))"
            ),
        )
    )
    # anchors as hashed 8-byte keys + the shared salted candidate stage:
    # same exactness argument as _anchor_keys (a hash collision only adds
    # a candidate the exact verify below drops; a hot anchor key salts
    # into bounded bucket-pair tasks)
    anchor_expr = f"""
      concat(
        flatten(transform(sequence(1, size(__shs)), i ->
          transform(
            filter(sequence(least(i + 1, size(__shs)), size(__shs)),
                   j -> j > i AND __p[j-1] - __p[i] <= {mass_budget}),
            j -> xxhash64(__shs[i-1], __shs[j-1])))),
        CASE WHEN wt <= {singleton_cutoff}
             THEN transform(__shs, s -> xxhash64(s, s))
             ELSE cast(array() AS array<bigint>) END
      )
    """
    anch = per_doc.select(
        "doc_id",
        F.explode(F.expr(anchor_expr)).alias("akey"),
        (F.col("wt") <= small_cutoff).alias("__small"),
    )
    cand = _salted_anchor_candidates(anch)
    wmaps = per_doc.select(
        "doc_id",
        F.map_from_arrays("__shs", "__ws").alias("wm"),
        "wt",
        "__shs",
    )
    side_a = wmaps.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("wm").alias("__wm_a"),
        F.col("wt").alias("wt_a"),
        F.col("__shs").alias("__sh_a"),
    )
    side_b = wmaps.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("wt").alias("wt_b"),
        F.col("__shs").alias("__sh_b"),
    )
    w_shared = F.expr(
        "aggregate(array_intersect(__sh_a, __sh_b), cast(0 as long), "
        "(acc, s) -> acc + element_at(__wm_a, s))"
    )
    # zero-denominator guard: two docs made ENTIRELY of corpus-universal
    # (w = 0) shingles score 0/0 — ANSI mode would raise DIVIDE_BY_ZERO
    # where the DuckDB oracle yields NaN and drops the pair at the filter;
    # a NULL score reproduces the drop (found by the hypothesis brute-force
    # test, not reachable in the driver corpora)
    denom = (F.col("wt_a") + F.col("wt_b") - F.col("w_shared")).cast("double")
    score = F.when(denom > 0, F.col("w_shared").cast("double") / denom)
    # merge for the verify joins — spillable with the wide map/array
    # payload, see _anchor_jaccard_pairs
    return (
        cand.join(side_a.hint("merge"), "doc_id_a")
        .join(side_b.hint("merge"), "doc_id_b")
        .withColumn("w_shared", w_shared)
        .select("doc_id_a", "doc_id_b", score.alias("weighted_jaccard"))
        .filter(F.col("weighted_jaccard") >= _WEIGHTED_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# q_dup_size_histogram — duplicate-cluster size distribution
# ---------------------------------------------------------------------------
@register(
    "q_dup_size_histogram",
    oracle=rf"""
    WITH clusters AS (
      SELECT {sql_content_fingerprint("text")} AS fp,
             CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents
      GROUP BY 1
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM clusters
    GROUP BY cluster_size
    """,
)
def q_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution over the exact-dedup
    fingerprint (q_dedup_exact's grain): for each cluster size, how many
    clusters, how many documents they hold, and how many a keep-one
    policy removes — the one-page answer to 'is our duplication a long
    tail of pairs or a few megaclusters?', which decides whether exact
    dedup alone recovers most of the budget. Two stacked hash aggregates
    (fingerprint → size, size → histogram), the second over a
    cluster-size-cardinality key — the same shape as q_degree_distribution
    one grain up. All counts exact BIGINTs."""
    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint(F.col("text"))
    clusters = docs.select(fp.alias("fp")).groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# q_lsh_planner — (bands × rows) design table scored on observed pairs
# ---------------------------------------------------------------------------
_LSH_PLAN_MIN_S = 0.1  # candidate floor: pairs below this are noise
_LSH_PLAN_CONFIGS = ((64, 2), (32, 4), (16, 8), (8, 16))  # b·r = 128


def _pow2_chain_sql(expr: str, k: int) -> str:
    """expr ** (2**k) as an explicit squaring chain — the SAME association
    order in both engines, so the doubles agree bitwise (pow() would not)."""
    for _ in range(k):
        expr = f"({expr} * {expr})"
    return expr


def _pow2_chain(col: Column, k: int) -> Column:
    for _ in range(k):
        col = col * col
    return col


def _lsh_planner_oracle() -> str:
    selects = []
    for b, r in _LSH_PLAN_CONFIGS:
        inner = _pow2_chain_sql("s", r.bit_length() - 1)
        p = f"(1.0 - {_pow2_chain_sql(f'(1.0 - {inner})', b.bit_length() - 1)})"
        pm = f"CAST(floor({p} * 1000000.0) AS BIGINT)"
        dup = f"s >= {_JACCARD_THRESHOLD}"
        selects.append(f"""
    SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) FILTER (WHERE {dup}) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(*) FILTER (WHERE NOT ({dup})) AS BIGINT) AS n_near_pairs,
           CAST(SUM({pm}) FILTER (WHERE {dup}) AS DOUBLE)
             / (COUNT(*) FILTER (WHERE {dup}) * 1000000.0) AS exp_recall,
           CAST(SUM({pm}) FILTER (WHERE NOT ({dup})) AS DOUBLE)
             / (COUNT(*) FILTER (WHERE NOT ({dup})) * 1000000.0)
             AS exp_fp_rate
    FROM scored""")
    body = "\n    UNION ALL\n".join(selects)
    return f"""
    WITH {_SQL_SHINGLE_PAIR_CTES},
    scored AS (
      SELECT {_SQL_FUZZY_JACCARD} AS s
      FROM pairs WHERE {_SQL_FUZZY_JACCARD} >= {_LSH_PLAN_MIN_S}
    )
    {body}
    """


@register("q_lsh_planner", oracle=_lsh_planner_oracle())
def q_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner: before running banded dedup at scale,
    score every (bands × rows-per-band) split of a 128-hash signature
    budget against the corpus's OWN observed candidate-pair similarity
    distribution (the exact adjacency-anchor Jaccard pairs, floored at
    s ≥ {mins}). Per config the S-curve detection probability
    p = 1 − (1 − s^r)^b aggregates into expected recall over true
    duplicate pairs (s ≥ {thr}) and expected false-positive rate over the
    near-miss band — the two numbers that pick b and r (more bands =
    higher recall AND more false candidates to verify).

    Scale shape (round-9 restructure): the pair set comes from the
    adjacency-anchor join (_anchor_jaccard_pairs — at this op's s ≥ 0.1
    floor the anchor reach is k = 19, still linear anchor rows and O(1)
    per-anchor postings where the sf3 decade showed the capped-postings
    expansion going ~n²/V on the saturating vocabulary), feeding ONE
    scalar aggregate that carries every config's probability-mass sums
    side by side (a union of per-config aggregates would rescan the pair
    stage once per config — measured 4.2 s vs 1.3 s at sf0.1), exploded
    to the 4-row design table at the end. Determinism: the S-curve
    power is an explicit SQUARING CHAIN (identical association order in
    both engines — library pow() is not bitwise-portable), and per-pair
    probabilities enter the cross-pair sums as exact floor-milli INTEGERS,
    so the aggregate is order-free — the discipline that keeps a
    corpus-sized float sum hash-exact without a bounded-array fold."""
    docs = load_table(spark, sf_dir, "documents")
    scored = _anchor_jaccard_pairs(_doc_shingles(docs), _LSH_PLAN_MIN_S).select(
        F.col("jaccard").alias("s")
    )
    dup = F.col("s") >= _JACCARD_THRESHOLD
    aggs = [
        F.count(F.when(dup, 1)).cast("long").alias("n_dup_pairs"),
        F.count(F.when(~dup, 1)).cast("long").alias("n_near_pairs"),
    ]
    for b, r in _LSH_PLAN_CONFIGS:
        inner = _pow2_chain(F.col("s"), r.bit_length() - 1)
        p = F.lit(1.0) - _pow2_chain(F.lit(1.0) - inner, b.bit_length() - 1)
        pm = F.floor(p * 1000000.0).cast("long")
        aggs.append(F.sum(F.when(dup, pm)).cast("long").alias(f"pmd_{b}"))
        aggs.append(F.sum(F.when(~dup, pm)).cast("long").alias(f"pmn_{b}"))
    one = scored.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.col("n_dup_pairs").alias("n_dup_pairs"),
                F.col("n_near_pairs").alias("n_near_pairs"),
                (
                    F.col(f"pmd_{b}").cast("double")
                    / (F.col("n_dup_pairs") * 1000000.0)
                ).alias("exp_recall"),
                (
                    F.col(f"pmn_{b}").cast("double")
                    / (F.col("n_near_pairs") * 1000000.0)
                ).alias("exp_fp_rate"),
            )
            for b, r in _LSH_PLAN_CONFIGS
        ]
    )
    return one.select(F.explode(rows).alias("c")).select("c.*")


q_lsh_planner.__doc__ = q_lsh_planner.__doc__.format(
    mins=_LSH_PLAN_MIN_S, thr=_JACCARD_THRESHOLD
)
