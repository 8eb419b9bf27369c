"""Vector-similarity operators over ``embeddings`` (north-star surface:
approximate-nearest-neighbor search and embedding-cosine near-dedup).

Three tiers:

- q_similarity_topk   — brute-force cosine top-k against one query vector.
                        The baseline: one broadcast of the query, one narrow
                        scan, a TakeOrderedAndProject. At 100 TB this is the
                        per-query cost floor and it parallelizes perfectly.
- q_dedup_embedding   — all-pairs near-dup via sign-LSH blocking: vectors are
                        bucketed by the sign pattern of their leading
                        dimensions (a deterministic random-hyperplane LSH with
                        axis-aligned planes), the pair join runs only within
                        buckets, then exact cosine filters. The bit count is
                        DERIVED FROM CORPUS SIZE inside the plan (see
                        lsh_bits_for), so expected bucket occupancy stays
                        constant and candidate volume ~linear as the corpus
                        grows. Trades recall for a join that scales linearly
                        in bucket sizes — the documented LSH trade-off.
- q_similarity_ann_ivf / _pq / _ivfpq / _ivfpq_probe — trained ANN indexes
                        (IVF cells, PQ codes, both, and both persisted) on
                        one core: a bounded deterministic training sample,
                        scan-side assignment over literal centroid and
                        codeword arrays (no join/shuffle), and one ADC
                        shortlist + exact-cosine re-rank.

Dot products are sequential left folds over double products (Spark
``aggregate``, oracle ``list_reduce`` — same order ⇒ bitwise-identical
cosines; see _dot). The fold is a native higher-order function
(zip_with + aggregate), no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..registry import register
from ..sources.parquet import load_table, register_duck_view

_TOPK = 10
_NEAR_DUP_COS = 0.35
# Sign-LSH sizing: bits grow with the corpus so candidate volume stays
# ~linear. bits = clamp(ceil(log2(n / _LSH_TARGET_BUCKET)), _LSH_MIN_BITS,
# _LSH_MAX_BITS) → expected bucket occupancy ≈ _LSH_TARGET_BUCKET docs, so
# the within-bucket pair join is O(n · target) instead of O(n²/2^const).
# Computed INSIDE the plan (scalar COUNT aggregate, broadcast cross join) —
# identically in the DuckDB oracle — so no driver-side action is needed and
# the same query text is correct at every scale factor.
_LSH_MIN_BITS = 4
_LSH_MAX_BITS = 24  # bounded by embedding dim (64); 2^24 buckets ≫ any corpus
_LSH_TARGET_BUCKET = 32
_IVF_SAMPLE_CAP = 50_000  # driver-side k-means training sample bound
_IVF_NPROBE = 2  # query probes its nprobe nearest cells
_IVF_ITERS = 8  # spherical k-means iterations of the IVF centroids


def _dot(a: str, b: str) -> Column:
    """Dot product of two float arrays as a *sequential* left fold over double
    products (native higher-order fn, no Python). A fixed fold order makes the
    result bitwise-reproducible — and identical to the oracle, whose
    list_reduce folds in the same order (0.0 + p1 == p1 exactly, so the
    differing seed doesn't matter). Deliberately NOT a parallel reduction:
    order-stability is part of the operator contract."""
    return F.expr(
        f"""aggregate(
                zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                CAST(0 AS DOUBLE),
                (acc, v) -> acc + v)"""
    )


def _norm(a: str) -> Column:
    return F.sqrt(_dot(a, a))


def _sql_dot(a: str, b: str) -> str:
    """DuckDB twin of _dot: same products, same sequential fold order."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(acc, x) -> acc + x)"
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"{_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}))"
    )


# Degenerate-vector guard, both engines: cosine is undefined for the zero
# vector and Spark's ANSI division turns it into a job-killing
# DIVIDE_BY_ZERO (one bad embedding in a 100 TB corpus aborts the query;
# DuckDB would instead emit inf/NaN rows). A NaN or Inf component is just as
# poisonous but SURVIVES a bare ``dot > 0`` filter (NaN compares
# greater-than in BOTH engines), then breaks ORDER BY/row_number agreement
# between them in top-k queries. Every cosine operator therefore reads the
# corpus through this filter — isfinite(dot(e,e)) AND dot(e,e) > 0 — on
# BOTH sides, so the two engines agree on degenerate inputs too (the driver
# corpus has no such vectors, so results on real data are unchanged; pinned
# by tests/test_corpus_robustness.py, including a NaN-component row).
_SQL_NZ_PRED = (
    f"isfinite({_sql_dot('embedding', 'embedding')}) "
    f"AND {_sql_dot('embedding', 'embedding')} > 0"
)
_SQL_NZ_CTE = f"nz AS (SELECT * FROM embeddings WHERE {_SQL_NZ_PRED})"


def _nonzero(emb: DataFrame) -> DataFrame:
    d = _dot("embedding", "embedding")
    # Spark has no isfinite(); NaN fails isnan's negation, +Inf fails the
    # strict upper bound (dot of squares can never be -Inf).
    return emb.filter(
        (~F.isnan(d)) & (d > 0) & (d < F.lit(float("inf")))
    )


# ---------------------------------------------------------------------------
# q_similarity_topk — brute-force cosine top-k for the query vector (vec_id 0)
# ---------------------------------------------------------------------------
@register(
    "q_similarity_topk",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    q AS (SELECT embedding AS qe FROM nz WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           {_sql_cos('e.embedding', 'q.qe')} AS cosine_sim
    FROM nz e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_TOPK}
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ||q|| is folded once on the broadcast side, not once per corpus row;
    # sqrt(dot(q,q)) is the same double either way, so the oracle's
    # per-pair formulation hashes identically.
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), _norm("embedding").alias("q_nrm")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(broadcast(query))
        .select(
            "vec_id",
            "label",
            (_dot("embedding", "q_emb") / (_norm("embedding") * F.col("q_nrm"))).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(_TOPK)
    )


# ---------------------------------------------------------------------------
# q_similarity_ann_lsh — LSH-bucketed ANN search, oracle-exact
# ---------------------------------------------------------------------------
# Registered below q_dedup_embedding (it reuses the corpus-sized sign-bucket
# machinery): search restricted to the query vector's own sign-LSH bucket,
# exact cosine rerank inside it. Unlike IVF (whose trained centroids are a
# runtime artifact → rows-only), the bucket function is a deterministic
# in-plan expression, so the WHOLE approximate search is SQL-expressible
# and hash-checked against DuckDB.


# ---------------------------------------------------------------------------
# q_dedup_embedding — near-dup pairs via sign-LSH blocking + exact cosine
# ---------------------------------------------------------------------------
def lsh_bits_for(n: int) -> int:
    """Python mirror of the in-plan bits formula (for tests/sizing docs)."""
    import math

    return min(
        _LSH_MAX_BITS,
        max(_LSH_MIN_BITS, math.ceil(math.log2(max(n, 1) / _LSH_TARGET_BUCKET))),
    )


def _sign_bucket_spark(emb_col: str, bits_col: str) -> Column:
    """Bucket = sign pattern of the leading `bits` dimensions, where `bits`
    is a column (computed from COUNT(*)), so the same expression serves every
    corpus size. Terms beyond `bits` contribute 0."""
    bucket = F.lit(0)
    for i in range(_LSH_MAX_BITS):
        bucket = bucket + F.when(
            (F.lit(i) < F.col(bits_col))
            & (F.element_at(F.col(emb_col), i + 1) >= 0),
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    return bucket


_SIGN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {i} < nb.bits AND embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_LSH_MAX_BITS)
)

_LSH_BITS_SQL = (
    f"LEAST({_LSH_MAX_BITS}, GREATEST({_LSH_MIN_BITS}, "
    f"CAST(CEIL(LOG2(COUNT(*) / {_LSH_TARGET_BUCKET}.0)) AS INT)))"
)


def lsh_bits_df(df: DataFrame) -> DataFrame:
    """1-row frame with the corpus-sized bit count (in-plan twin of
    lsh_bits_for; broadcast-cross-joined by callers)."""
    return df.agg(
        F.least(
            F.lit(_LSH_MAX_BITS),
            F.greatest(
                F.lit(_LSH_MIN_BITS),
                F.ceil(F.log2(F.count(F.lit(1)) / _LSH_TARGET_BUCKET)).cast("int"),
            ),
        ).alias("lsh_bits")
    )


@register(
    "q_dedup_embedding",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM nz, nb
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             {_sql_cos('a.embedding', 'b.embedding')} AS cosine_sim
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT va AS vec_id_a, vb AS vec_id_b, cosine_sim
    FROM pairs
    WHERE cosine_sim >= {_NEAR_DUP_COS}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    # fold each vector's norm ONCE scan-side and carry it through the
    # bucket join: the per-pair cosine then needs one fold (the dot), not
    # three. sqrt(dot(x,x)) is the same double whether computed per vector
    # or per pair, so the oracle's per-pair formulation hashes identically.
    e = emb.join(broadcast(lsh_bits_df(emb))).select(
        "vec_id",
        "embedding",
        _norm("embedding").alias("nrm"),
        _sign_bucket_spark("embedding", "lsh_bits").alias("bucket"),
    )
    a = e.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    cos = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= _NEAR_DUP_COS)
    )


# probe radius: buckets whose key differs from the query's in ≤ r sign
# bits. r=2 measured recall@10 of 0.9/0.8/0.6 at sf0.001/0.01/0.1 (pinned
# in tests/test_similarity_recall.py); r=0 single-probe is near-zero here
# because the fixture's top neighbors sit at cos ≈ 0.4 (p(bit agrees) ≈
# 0.6), the hard regime for sign-LSH — multi-probe is what makes it an
# index.
_LSH_PROBE_HAMMING = 2


@register(
    "q_similarity_ann_lsh",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, label, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM nz, nb
    ),
    q AS (SELECT embedding AS qe, bucket AS qb FROM e WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           {_sql_cos('e.embedding', 'q.qe')} AS cosine_sim
    FROM e, q
    WHERE bit_count(xor(e.bucket, q.qb)) <= {_LSH_PROBE_HAMMING}
      AND e.vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_TOPK}
    """,
)
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: score only the vectors in buckets
    within Hamming distance 2 of the query's corpus-sized sign-LSH
    bucket (multi-probe), exact cosine rerank inside them — the LSH
    counterpart of q_similarity_ann_ivf, with the same cost model (read a
    few buckets, not the corpus) but a deterministic in-plan bucket
    function instead of trained centroids, which is what makes this ANN
    query fully oracle-checkable. Scale shape: with bits sized so buckets
    hold ~32 vectors, probing Hamming ≤ 2 reads C(bits,≤2) of 2^bits
    buckets — at production bit widths (15+) that is ≪ 1% of the corpus,
    and bucket-partitioned storage turns it into literal partition pruning;
    the rerank is a broadcast of the 1-row query + scan-side cosine +
    TakeOrderedAndProject. The probe test is one portable expression:
    bit_count(bucket XOR query_bucket) ≤ r."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    e = emb.join(broadcast(lsh_bits_df(emb))).select(
        "vec_id",
        "label",
        "embedding",
        _sign_bucket_spark("embedding", "lsh_bits").alias("bucket"),
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
        F.col("bucket").alias("qb"),
    )
    cos = _dot("embedding", "q_emb") / (_norm("embedding") * F.col("q_nrm"))
    return (
        e.filter(F.col("vec_id") != 0)
        .join(
            broadcast(q),
            F.expr(f"bit_count(bucket ^ qb) <= {_LSH_PROBE_HAMMING}"),
        )
        .select("vec_id", "label", cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(_TOPK)
    )


# ---------------------------------------------------------------------------
# q_dedup_embedding_banded — banded sign-LSH (OR amplification): a pair is a
# candidate if it agrees on ANY band of sign bits, not just the one prefix
# bucket — the embedding-space analogue of q_dedup_minhash's band trick.
# Recall rises (independent chances to collide) while each band join stays
# an equi-join; exact cosine still verifies every candidate, so precision
# is unchanged. Deterministic axis-aligned planes → fully SQL-expressible.
# ---------------------------------------------------------------------------
# band sizing: for a pair at angle θ, P(bit agrees) = 1 − θ/π; a band of w
# bits collides with p^w and ANY of b bands with 1−(1−p^w)^b. At the operator
# threshold (cos 0.35 → p ≈ 0.61), 6 bands × 4 bits gives ~0.6 recall vs
# ~0.2 for 4 × 6 — more, narrower bands trade candidate volume for recall.
# Band WIDTH scales with the corpus exactly like the single-bucket variant
# (the same lsh_bits formula, capped at dim/bands so 6 disjoint bands fit in
# 64 dims): per-band bucket occupancy stays ~constant, so OR amplification
# buys recall without the n²/2^const candidate blow-up of a fixed key. Past
# the cap (n ≫ 32·2^10) switch to random non-axis-aligned hyperplanes —
# unlimited planes — or drop bands.
_EMB_BANDS = 6
_EMB_MAX_BAND_BITS = 10  # 6 bands × 10 dims ≤ 64-dim budget


def _band_key_sql(band: int, bits_ref: str, spark_dialect: bool = False) -> str:
    """Band key gated on the runtime bits value: band `b` owns dims
    [b·bits+1 .. b·bits+bits]; terms beyond `bits` contribute 0.

    spark_dialect switches the array accessor: DuckDB's `arr[i]` is 1-based
    but Spark SQL's is 0-based, so the Spark text uses element_at (1-based)
    to read the same dimension.
    """

    def at(idx: str) -> str:
        if spark_dialect:
            return f"element_at(embedding, {idx})"
        return f"embedding[{idx}]"

    return " + ".join(
        f"(CASE WHEN {j} < {bits_ref} "
        f"AND {at(f'{band} * {bits_ref} + {j + 1}')} >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_EMB_MAX_BAND_BITS)
    )


_BAND_BITS_SQL = (
    f"LEAST({_EMB_MAX_BAND_BITS}, GREATEST({_LSH_MIN_BITS}, "
    f"CAST(CEIL(LOG2(COUNT(*) / {_LSH_TARGET_BUCKET}.0)) AS INT)))"
)

_BANDED_CAND_SQL = "\n      UNION\n".join(
    f"""      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM e a JOIN e b ON a.bk{band} = b.bk{band} AND a.vec_id < b.vec_id"""
    for band in range(_EMB_BANDS)
)


@register(
    "q_dedup_embedding_banded",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_BAND_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, embedding,
             {', '.join(f'{_band_key_sql(b, "nb.bits")} AS bk{b}' for b in range(_EMB_BANDS))}
      FROM nz, nb
    ),
    c AS (
{_BANDED_CAND_SQL}
    )
    SELECT c.va AS vec_id_a, c.vb AS vec_id_b,
           {_sql_cos('x.embedding', 'y.embedding')} AS cosine_sim
    FROM c
    JOIN e x ON x.vec_id = c.va
    JOIN e y ON y.vec_id = c.vb
    WHERE {_sql_cos('x.embedding', 'y.embedding')} >= {_NEAR_DUP_COS}
    """,
)
def q_dedup_embedding_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    bits = emb.agg(
        F.least(
            F.lit(_EMB_MAX_BAND_BITS),
            F.greatest(
                F.lit(_LSH_MIN_BITS),
                F.ceil(F.log2(F.count(F.lit(1)) / _LSH_TARGET_BUCKET)).cast("int"),
            ),
        ).alias("lsh_bits")
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(_band_key_sql(b, "lsh_bits", spark_dialect=True)).alias("key"),
        )
        for b in range(_EMB_BANDS)
    ]
    bands = (
        emb.join(broadcast(bits))
        .select("vec_id", F.explode(F.array(*band_structs)).alias("bk"))
        .select("vec_id", "bk.band", "bk.key")
    )

    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id_a"), F.col("b.vec_id").alias("vec_id_b"))
        .distinct()
    )

    # per-vector norms folded once (same doubles as the oracle's per-pair
    # sqrt, see q_dedup_embedding)
    ex = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        _norm("embedding").alias("nrm_a"),
    )
    ey = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        _norm("embedding").alias("nrm_b"),
    )
    cos = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        candidates.join(ex, "vec_id_a")
        .join(ey, "vec_id_b")
        .select("vec_id_a", "vec_id_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= _NEAR_DUP_COS)
    )


# ---------------------------------------------------------------------------
# Trained-index core of the ANN family: q_similarity_ann_ivf, _pq, _ivfpq and
# _ivfpq_probe are one pipeline with parts switched on.
#
#   sample  → _train_sample: the guarded corpus's hash-stride sample, at
#             most _IVF_SAMPLE_CAP rows (pmod(xxhash64(vec_id), stride) == 0,
#             stable under repartition), sorted by vec_id; raises on an
#             empty corpus.
#   train   → _kmeans_unit (IVF: spherical k-means, k = ⌈√n⌉ cells) and
#             _pq_train (PQ: per-subspace L2 codebooks). Strided init, fixed
#             iterations, no RNG — so the index is a pure function of the
#             corpus.
#   assign  → ivf_cell_col (literal-centroid argmax) and _pq_code_cols
#             (per-subspace literal-codeword argmin): scan-side projections,
#             no join, no shuffle.
#   query   → _query_vector (vec_id 0), then driver-side _ivf_probe_cells
#             and _pq_lut (k·dim numbers); _adc_topk keeps the ADC
#             shortlist and _exact_topk re-ranks by exact cosine.
#
# Determinism is what makes every approximate search here ORACLE-CHECKABLE:
# the *_oracle_sql generators read the corpus through _oracle_sample (the
# same guard in DuckDB, the stride mask via the pure-Python xxhash64 twin,
# the same Arrow float32 → float64 upcast), run the SAME numpy trainers and
# driver-side helpers, and emit the identical index as literal DuckDB SQL.
# They never call the Spark expression builders.
# ---------------------------------------------------------------------------
_PQ_M = 4  # subspaces (64-dim embedding → 4 × 16-dim subvectors)
_PQ_K = 16  # codewords per subspace → a 4-byte code per vector
_PQ_SHORTLIST = 50  # ADC candidates re-ranked by exact cosine
_PQ_ITERS = 8
_EMPTY_CORPUS = (
    "ANN index: no usable embeddings after the degenerate-vector guard — "
    "nothing to train on"
)
_NO_QUERY = (
    "ANN query: vec_id=0 is absent or failed the degenerate-vector guard — "
    "no query vector to probe with"
)


def _ivf_plan(n: int) -> tuple[int, int]:
    """(k, stride) for a corpus of n surviving vectors: the classic IVF
    nlist heuristic and the stride that bounds the training sample."""
    import math

    return max(4, math.ceil(math.sqrt(n))), max(1, n // _IVF_SAMPLE_CAP)


def _train_sample(emb: DataFrame):
    """(n, k, sample embeddings) of the guarded corpus ``emb`` — the
    coreset every index here is trained on, never the full corpus. The
    Arrow collect (never row-at-a-time py4j) is capped at _IVF_SAMPLE_CAP
    rows, so driver memory is O(cap × dim) at any corpus size."""
    n = emb.count()
    if n == 0:
        raise ValueError(_EMPTY_CORPUS)
    k, stride = _ivf_plan(n)
    sample = (
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(stride)) == 0)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    return n, k, sample["embedding"]


def _query_vector(emb: DataFrame) -> list:
    """The query vector (vec_id 0) of the guarded corpus: one
    row-group-stat-skipping lookup (at 100 TB the query vector arrives
    from the application, not a scan)."""
    rows = emb.filter(F.col("vec_id") == 0).select("embedding").take(1)
    if not rows:
        raise ValueError(_NO_QUERY)
    return list(rows[0][0])


def _kmeans_unit(embeddings, k: int):
    """Spherical k-means core: unit-normalize, strided deterministic init,
    _IVF_ITERS iterations. ``embeddings`` is any sequence of float vectors
    (Arrow float32 arrays from either Spark's toPandas or DuckDB's df() —
    identical values, identical float64 upcast ⇒ bitwise-identical
    centroids)."""
    import numpy as np

    X = np.asarray([list(e) for e in embeddings], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(k, len(X))
    C = X[:: max(1, len(X) // k)][:k].copy()  # strided deterministic init
    for _ in range(_IVF_ITERS):
        assign = np.argmax(X @ C.T, axis=1)  # cosine == dot on unit vectors
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def train_ivf_centroids(emb: DataFrame) -> list[list[float]]:
    """Unit-norm IVF centroids (row j is cell j) of the guarded corpus
    ``emb``: spherical k-means on the bounded training sample. Assignment
    of the FULL corpus stays distributed (ivf_cell_col)."""
    _, k, sample = _train_sample(emb)
    return _kmeans_unit(sample, k).tolist()


def _pq_subdim(dim: int) -> int:
    if dim % _PQ_M:
        raise ValueError(f"PQ: dim {dim} not divisible by M={_PQ_M}")
    return dim // _PQ_M


def _pq_train(embeddings) -> list:
    """Per-subspace L2 k-means codebooks from the training sample. Strided
    init, argmin assignment with ties to the lowest codeword, centroid =
    member mean, fixed iteration count, no RNG — _kmeans_unit's
    determinism contract, but UN-normalized L2 per subspace (the standard
    PQ objective, Jégou et al. 2011, TPAMI — public paper)."""
    import numpy as np

    X = np.asarray([list(e) for e in embeddings], dtype=np.float64)
    sub = _pq_subdim(X.shape[1])
    books = []
    for m in range(_PQ_M):
        Xm = X[:, m * sub : (m + 1) * sub]
        k = min(_PQ_K, len(Xm))
        C = Xm[:: max(1, len(Xm) // k)][:k].copy()
        for _ in range(_PQ_ITERS):
            d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties → lowest codeword
            for j in range(len(C)):
                members = Xm[assign == j]
                if len(members):
                    C[j] = members.sum(axis=0) / len(members)
        books.append(C)
    return books


def _pq_lut(books, q_emb) -> list:
    """ADC lookup table: lut[m][j] = <q_m, c_mj>. Computed driver-side by
    THIS shared helper in both the Spark query and the oracle generator,
    then rendered as literals — no engine arithmetic involved, so the
    tables are identical by construction."""
    import numpy as np

    q = np.asarray(list(q_emb), dtype=np.float64)
    sub = _pq_subdim(len(q))
    return [
        (books[m] @ q[m * sub : (m + 1) * sub]).tolist()
        for m in range(_PQ_M)
    ]


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Pure-Python twin of Spark's ``xxhash64(BIGINT)`` (XXH64 over the
    8-byte long, Spark's default seed 42), returned as Spark's SIGNED long.
    Lets the Spark-free oracle generator reproduce the hash-stride
    training sample exactly when the corpus exceeds _IVF_SAMPLE_CAP (DuckDB
    has no Spark-compatible xxhash64). Bit-for-bit parity with F.xxhash64
    is pinned by tests/test_ivf_oracle.py::test_xxhash64_long_parity."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _U64

    h = (seed + _XXH_P5 + 8) & _U64
    k1 = rotl((value & _U64) * _XXH_P2 & _U64, 31) * _XXH_P1 & _U64
    h ^= k1
    h = (rotl(h, 27) * _XXH_P1 + _XXH_P4) & _U64
    h ^= h >> 33
    h = h * _XXH_P2 & _U64
    h ^= h >> 29
    h = h * _XXH_P3 & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _oracle_sample(sf_dir: str):
    """(k, sample embeddings, query vector) for the oracle generators — the
    Spark-free twin of _train_sample + _query_vector, read straight from
    the parquet through the same degenerate-vector guard, with the same
    errors."""
    import duckdb

    con = duckdb.connect()
    try:
        register_duck_view(con, sf_dir, "embeddings")
        rows = con.sql(
            f"SELECT vec_id, embedding FROM embeddings WHERE {_SQL_NZ_PRED} "
            "ORDER BY vec_id"
        ).df()
    finally:
        con.close()
    if len(rows) == 0:
        raise ValueError(_EMPTY_CORPUS)
    k, stride = _ivf_plan(len(rows))
    embs = rows["embedding"]
    if stride > 1:
        embs = embs[[xxhash64_long(int(v)) % stride == 0 for v in rows["vec_id"]]]
    qsel = rows[rows["vec_id"] == 0]
    if len(qsel) == 0:
        raise ValueError(_NO_QUERY)
    return k, embs, qsel["embedding"].iloc[0]


def _lit_array_sql(values: list[float]) -> str:
    """Literal double array as ONE SQL text fragment. Building literal
    arrays element-wise with F.lit costs a py4j round-trip per element —
    thousands of driver calls for a centroid table — where a single parsed
    expression string is one. repr() keeps full float64 precision."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in values) + ")"


def _duck_double_lit(v: float) -> str:
    """Exact DOUBLE literal for DuckDB. A bare decimal literal
    (``0.0491791405884425…``) parses as DECIMAL first and the DECIMAL →
    DOUBLE cast double-rounds — off by an ulp from Python's float (the
    registry.py numeric-literal rule, caught by q_similarity_ann_pq's ADC
    sums). Scientific notation types directly as DOUBLE with one correct
    rounding, so append ``e0`` unless repr already carries an exponent."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "e0"


def _duck_lit_array(values: list[float]) -> str:
    """DuckDB twin of _lit_array_sql: same repr-rendered doubles, each
    element typed DOUBLE at parse time (see _duck_double_lit)."""
    return (
        "CAST(["
        + ",".join(_duck_double_lit(v) for v in values)
        + "] AS DOUBLE[])"
    )


def ivf_cell_col(C, emb_col: str = "embedding") -> Column:
    """Scan-side IVF cell assignment: argmax over literal centroids via
    array_max on (dot, -j) structs — highest dot, ties to the lowest
    centroid id. Centroids are unit-norm and ||embedding|| is a common
    positive factor across cells, so argmax over raw dots == argmax over
    cosines (no per-cell norm). The whole assignment is ONE parsed
    expression (single py4j call); shared by the IVF/IVF-PQ queries and
    the streaming index-maintenance path."""

    def dot_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    cell_scores_sql = ",".join(
        f"struct({dot_sql(emb_col, _lit_array_sql(list(C[j])))} AS c, "
        f"{-j} AS nj)"
        for j in range(len(C))
    )
    return -F.expr(f"array_max(array({cell_scores_sql}))").getField("nj")


def _pq_code_cols(books) -> list[Column]:
    """PQ encoder c0..c{M-1}: per-subspace argmin over literal codewords —
    min struct (d, j), ties to the lowest code — with d the squared L2 as
    the same sequential fold the oracle's dists CTE runs. ONE parsed
    expression per subspace."""
    sub = len(books[0][0])

    def dist_sql(m: int, codeword) -> str:
        return (
            f"aggregate(zip_with(slice(embedding, {m * sub + 1}, {sub}), "
            f"{_lit_array_sql(codeword)}, "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    return [
        F.expr(
            "array_min(array("
            + ",".join(
                f"struct({dist_sql(m, books[m][j])} AS d, {j} AS j)"
                for j in range(len(books[m]))
            )
            + "))"
        )
        .getField("j")
        .alias(f"c{m}")
        for m in range(_PQ_M)
    ]


def _ivf_probe_cells(C, q_emb) -> list[int]:
    """Driver-side probe-cell resolution, shared verbatim by the Spark query
    and the oracle generator: rank centroids by cosine with the query
    vector (centroids are unit-norm so raw dot ranks identically after the
    common positive 1/||q|| factor), ties to the lowest centroid id."""
    import numpy as np

    q = np.asarray(list(q_emb), dtype=np.float64)
    q_cos = (np.asarray(C) @ q) / max(np.linalg.norm(q), 1e-12)
    order = sorted(range(len(C)), key=lambda j: (-q_cos[j], j))
    return order[:_IVF_NPROBE]


def _in_probe_cells(C, q_emb) -> Column:
    """Candidate filter: the query's probe cells, minus the query itself."""
    return F.col("cell").isin(_ivf_probe_cells(C, q_emb)) & (F.col("vec_id") != 0)


def _exact_topk(cands: DataFrame, q_emb, *keep: str) -> DataFrame:
    """Exact-cosine re-rank of ``cands`` against the literal query vector:
    top _TOPK by (cosine desc, vec_id asc), keeping ``keep`` columns."""
    q_lit = F.expr(_lit_array_sql(list(map(float, q_emb))))
    cos = _dot("embedding", "__q") / (_norm("embedding") * _norm("__q"))
    return (
        cands.withColumn("__q", q_lit)
        .select("vec_id", "label", *keep, cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(_TOPK)
    )


def _adc_topk(coded: DataFrame, books, q_emb) -> DataFrame:
    """ADC → shortlist → exact re-rank over PQ-coded candidates: the ADC
    score is a fixed-order sum of literal-LUT lookups (left-assoc in both
    engines), the best _PQ_SHORTLIST go to _exact_topk."""
    lut = _pq_lut(books, q_emb)
    adc = F.expr(
        " + ".join(
            f"element_at({_lit_array_sql(lut[m])}, c{m} + 1)"
            for m in range(_PQ_M)
        )
    )
    shortlist = (
        coded.select("vec_id", "label", "embedding", adc.alias("adc_dot"))
        .orderBy(F.col("adc_dot").desc(), F.col("vec_id").asc())
        .limit(_PQ_SHORTLIST)
    )
    return _exact_topk(shortlist, q_emb, "adc_dot")


def _duck_adc_sql(books, q_emb, src: str) -> str:
    """DuckDB twin of _pq_code_cols + _adc_topk over the CTE ``src``
    (vec_id, label, embedding): the codeword argmin per subspace (ties →
    lowest code), the literal-LUT ADC sum in fixed subspace order, the
    shortlist and the exact-cosine re-rank. Closes the WITH chain."""
    lut = _pq_lut(books, q_emb)
    sub = len(books[0][0])
    cent_rows = ",\n      ".join(
        f"({m}, {j}, {m * sub}, {_duck_lit_array(books[m][j].tolist())})"
        for m in range(_PQ_M)
        for j in range(len(books[m]))
    )
    adc = " + ".join(
        f"{_duck_lit_array(lut[m])}[c{m} + 1]" for m in range(_PQ_M)
    )
    code_cols = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(_PQ_M)
    )
    return f"""cent(m, j, off, c) AS (VALUES {cent_rows}),
    dists AS (
      SELECT e.vec_id, c.m, c.j,
             list_reduce(list_transform(range(1, {sub} + 1),
               i -> (CAST(e.embedding[i + c.off] AS DOUBLE) - c.c[i])
                    * (CAST(e.embedding[i + c.off] AS DOUBLE) - c.c[i])),
               (acc, x) -> acc + x) AS d
      FROM {src} e CROSS JOIN cent c
    ),
    codes AS (
      SELECT vec_id, m, j AS code
      FROM (SELECT *, row_number() OVER
              (PARTITION BY vec_id, m ORDER BY d ASC, j ASC) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    coded AS (SELECT vec_id, {code_cols} FROM codes GROUP BY vec_id),
    shortlist AS (
      SELECT e.vec_id, e.label, e.embedding, {adc} AS adc_dot
      FROM coded JOIN {src} e USING (vec_id)
      WHERE e.vec_id <> 0
      ORDER BY adc_dot DESC, vec_id ASC
      LIMIT {_PQ_SHORTLIST}
    ),
    q AS (SELECT embedding AS qe FROM nz WHERE vec_id = 0)
    SELECT s.vec_id, s.label, s.adc_dot,
           {_sql_cos('s.embedding', 'q.qe')} AS cosine_sim
    FROM shortlist s, q
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_TOPK}
    """


# ---------------------------------------------------------------------------
# q_similarity_ann_ivf — IVF-bucketed ANN over the trained-index core
# ---------------------------------------------------------------------------
def ivf_oracle_sql(sf_dir: str) -> str:
    """Full DuckDB oracle for q_similarity_ann_ivf, rendered per sf_dir:
    retrains the identical centroids (see the trained-index core), then
    mirrors the Spark plan — literal-centroid argmax assignment (ties →
    lowest id) → nprobe cell filter → exact cosine → ORDER BY/LIMIT."""
    k, embs, q_emb = _oracle_sample(sf_dir)
    C = _kmeans_unit(embs, k)
    cent_rows = ",\n      ".join(
        f"({j}, {_duck_lit_array(C[j].tolist())})" for j in range(len(C))
    )
    probe_list = ",".join(str(p) for p in _ivf_probe_cells(C, q_emb))
    return f"""
    WITH {_SQL_NZ_CTE},
    cent(j, c) AS (VALUES {cent_rows}),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, c.j,
             {_sql_dot('e.embedding', 'c.c')} AS s
      FROM nz e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, label, embedding, j AS cell
      FROM (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY s DESC, j ASC) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    q AS (SELECT embedding AS qe FROM nz WHERE vec_id = 0)
    SELECT a.vec_id, a.label, {_sql_cos('a.embedding', 'q.qe')} AS cosine_sim
    FROM assigned a, q
    WHERE a.cell IN ({probe_list}) AND a.vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_TOPK}
    """


@register("q_similarity_ann_ivf", oracle_factory=ivf_oracle_sql)
def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means centroids (trained on a bounded sample, see
    train_ivf_centroids) become LITERAL arrays in the plan — the truest form
    of "broadcast the index" — so cell assignment is a pure scan-side argmax
    projection: no join, no window, no shuffle anywhere. The query (vec_id
    0) resolves its _IVF_NPROBE nearest cells driver-side (k tiny numbers),
    and the final pass is one pruned scan → cell filter → exact cosine →
    TakeOrderedAndProject.

    At 100 TB: training touches only the sample; the assignment pass is
    embarrassingly parallel; the index (vec_id → cell) is written bucketed
    by cell so each query reads nprobe buckets — the classic IVF cost
    model. Multi-probe buys recall at linear probe cost. For very large k
    (literal expressions grow O(k·dim)) the same plan swaps in a broadcast
    join + max_by aggregate.
    """
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    C = train_ivf_centroids(emb)
    q_emb = _query_vector(emb)
    assigned = emb.select(
        "vec_id", "label", "embedding", ivf_cell_col(C).alias("cell")
    )
    return _exact_topk(assigned.filter(_in_probe_cells(C, q_emb)), q_emb)


# ---------------------------------------------------------------------------
# q_dedup_semantic — SemDeDup-style anchor pruning inside sign-LSH buckets
# ---------------------------------------------------------------------------
# Within each embedding cluster, documents too close to the cluster's
# representative are semantic duplicates and get pruned (the SemDeDup recipe,
# Abbas et al. 2023, arXiv:2303.09540 — public paper). Clusters here are the
# corpus-sized sign-LSH buckets already used by q_dedup_embedding, and the
# representative is the bucket's min-vec_id member ("anchor") — a
# deterministic choice that needs NO centroid float averaging, so every
# number in the operator is an exact per-pair fold and the whole pass
# carries a full DuckDB oracle.
_SEM_DUP_COS = 0.35


@register(
    "q_dedup_semantic",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM nz, nb
    ),
    anch AS (
      SELECT bucket, MIN(vec_id) AS anchor_id,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM e GROUP BY bucket
    )
    SELECT m.vec_id, n.anchor_id, n.n_members,
           {_sql_cos('m.embedding', 'a.embedding')} AS cosine_sim
    FROM e m
    JOIN anch n ON m.bucket = n.bucket
    JOIN e a ON a.vec_id = n.anchor_id AND a.bucket = m.bucket
    WHERE m.vec_id <> n.anchor_id
      AND {_sql_cos('m.embedding', 'a.embedding')} >= {_SEM_DUP_COS}
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped: prune members of an embedding
    cluster that sit within cosine _SEM_DUP_COS of the cluster
    representative. Clusters = deterministic sign-LSH buckets (bits sized
    to the corpus in-plan, as q_dedup_embedding); representative = the
    bucket's min-vec_id anchor, so selection is exact and order-free.
    Output: the DROP list (member, its anchor, bucket population, cosine).

    Plan shape: one aggregate on bucket (min + count), one join to pull the
    anchor vector, one member↔anchor join — every member is scored against
    exactly ONE anchor, so the pass is O(n) pairs TOTAL (vs q_dedup_embedding's
    O(n·bucket) all-pairs-within-bucket) — the cheap first pass a 100 TB
    curation run does before any pairwise pass. Anchor rows are one per
    bucket (~n/32): Spark broadcasts them when small, SMJ otherwise — left
    to AQE. Cosines are sequential folds (_dot), bitwise equal to the
    oracle's list_reduce."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    e = emb.join(broadcast(lsh_bits_df(emb))).select(
        "vec_id",
        "embedding",
        _norm("embedding").alias("nrm"),
        _sign_bucket_spark("embedding", "lsh_bits").alias("bucket"),
    )
    anchors = e.groupBy("bucket").agg(
        F.min("vec_id").alias("anchor_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    anchor_vecs = anchors.join(
        e.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("anchor_emb"),
            F.col("nrm").alias("anchor_nrm"),
            "bucket",
        ),
        ["bucket", "anchor_id"],
    )
    cos = _dot("embedding", "anchor_emb") / (F.col("nrm") * F.col("anchor_nrm"))
    return (
        e.join(anchor_vecs, "bucket")
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select("vec_id", "anchor_id", "n_members", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= _SEM_DUP_COS)
    )


# ---------------------------------------------------------------------------
# q_knn_graph — bucketed k-NN graph (top-k neighbors per vector)
# ---------------------------------------------------------------------------
# The building block embedding-curation pipelines share (SemDeDup pruning,
# density estimation, label propagation all start from a k-NN graph).
# Candidates are restricted to each vector's sign-LSH bucket — the same
# corpus-sized blocking q_dedup_embedding uses, so candidate volume stays
# ~n·bucket_size, never all-pairs — then ranked by exact cosine with a
# per-vector window. Both the bucket function and the ranking are
# deterministic in-plan expressions, so the whole approximate graph is
# SQL-expressible and hash-checked against DuckDB. Vectors whose bucket is
# a singleton have no candidates and are absent, by contract.
_KNN_K = 3


@register(
    "q_knn_graph",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM nz, nb
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {_sql_cos('a.embedding', 'b.embedding')} AS cosine_sim
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT vec_id, neighbor_id, cosine_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS nn_rank
      FROM pairs
    )
    SELECT vec_id, neighbor_id, nn_rank, cosine_sim
    FROM ranked WHERE nn_rank <= {_KNN_K}
    """,
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} neighbor graph within sign-LSH buckets.

    Plan: one bucket equi-join (candidates), one shuffle on vec_id for the
    ranking window — per-vector partitions are bucket-sized, so no fat
    reducer. Norms are folded once per vector scan-side (identical doubles
    to the oracle's per-pair form, see q_dedup_embedding). Ties broken by
    neighbor_id so row_number is total-ordered and reproducible.
    """
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    e = emb.join(broadcast(lsh_bits_df(emb))).select(
        "vec_id",
        "embedding",
        _norm("embedding").alias("nrm"),
        _sign_bucket_spark("embedding", "lsh_bits").alias("bucket"),
    )
    a = e.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    cos = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", cos.alias("cosine_sim"))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= _KNN_K)
        .select("vec_id", "neighbor_id", "nn_rank", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# q_ann_recall — recall@k of the LSH index against exact brute force
# ---------------------------------------------------------------------------
# The evaluation every ANN deployment runs continuously: what fraction of
# the TRUE top-k does the index return? Both sides are deterministic,
# oracle-checked queries already (q_similarity_topk, q_similarity_ann_lsh),
# so their composition — a semi-join of the two top-k id sets and one
# integer division — is itself exactly SQL-expressible: an index-quality
# monitor with a correctness proof. At scale this runs over a sampled query
# set instead of one vector; the per-query plan is unchanged.
@register(
    "q_ann_recall",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM nz, nb
    ),
    q AS (SELECT embedding AS qe, bucket AS qb FROM e WHERE vec_id = 0),
    exact AS (
      SELECT x.vec_id
      FROM nz x, (SELECT embedding AS qe FROM nz WHERE vec_id = 0) qq
      WHERE x.vec_id <> 0
      ORDER BY {_sql_cos('x.embedding', 'qq.qe')} DESC, x.vec_id ASC
      LIMIT {_TOPK}
    ),
    approx AS (
      SELECT e.vec_id
      FROM e, q
      WHERE bit_count(xor(e.bucket, q.qb)) <= {_LSH_PROBE_HAMMING}
        AND e.vec_id <> 0
      ORDER BY {_sql_cos('e.embedding', 'q.qe')} DESC, e.vec_id ASC
      LIMIT {_TOPK}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           COUNT(a.vec_id) / COUNT(*) AS recall
    FROM exact x LEFT JOIN approx a USING (vec_id)
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of multi-probe sign-LSH vs exact cosine top-k, as one
    lazy plan (no driver-side set math): exact top-k LEFT-joined to the
    approx top-k on vec_id, hits counted, one integer division — bitwise
    identical in any engine."""
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    approx = q_similarity_ann_lsh(spark, sf_dir).select("vec_id").withColumn(
        "h", F.lit(1)
    )
    flagged = exact.join(approx, "vec_id", "left")
    return flagged.agg(
        F.count(F.lit(1)).alias("k"),
        F.count("h").alias("n_hits"),
        (F.count("h") / F.count(F.lit(1))).alias("recall"),
    )


# ---------------------------------------------------------------------------
# q_topk_batch — exact top-k for a BATCH of query vectors in one corpus pass
# ---------------------------------------------------------------------------
# The retrieval shape production systems actually run: score a batch of
# queries (here vec_id < 5) against the corpus in ONE scan — broadcast the
# query set, cosine per (corpus row × query), per-query ranking window.
# Catalyst compiles the rank filter to WindowGroupLimit, so each shuffle
# partition keeps only k rows per query before the final exchange. At 100 TB
# the corpus is scanned once regardless of batch size — the per-query cost
# amortizes to corpus_bytes / batch — vs q_similarity_topk's one-scan-per-
# query baseline.
_BATCH_QUERIES = 5


@register(
    "q_topk_batch",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    qs AS (
      SELECT vec_id AS query_id, embedding AS qe
      FROM nz WHERE vec_id < {_BATCH_QUERIES}
    ),
    scored AS (
      SELECT qs.query_id, e.vec_id,
             {_sql_cos('e.embedding', 'qs.qe')} AS cosine_sim
      FROM nz e, qs
      WHERE e.vec_id >= {_BATCH_QUERIES}
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, vec_id ASC) AS INT) AS nn_rank
      FROM scored
    )
    SELECT query_id, vec_id, nn_rank, cosine_sim
    FROM ranked WHERE nn_rank <= {_TOPK}
    """,
)
def q_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k for {_BATCH_QUERIES} query vectors in one corpus scan:
    broadcast query set, per-pair cosine (per-vector norms folded once
    scan-side), per-query row_number ≤ k with vec_id tie-break."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < _BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= _BATCH_QUERIES).select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    cos = _dot("embedding", "q_emb") / (F.col("nrm") * F.col("q_nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        corpus.join(broadcast(qs))
        .select("query_id", "vec_id", cos.alias("cosine_sim"))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= _TOPK)
        .select("query_id", "vec_id", "nn_rank", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# q_mrr_eval — mean-reciprocal-rank retrieval quality without a global sort
# ---------------------------------------------------------------------------
@register(
    "q_mrr_eval",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    qs AS (
      SELECT vec_id AS query_id, label AS q_label, embedding AS qe
      FROM nz WHERE vec_id < {_BATCH_QUERIES}
    ),
    scored AS (
      SELECT qs.query_id, qs.q_label, e.vec_id, e.label,
             {_sql_cos('e.embedding', 'qs.qe')} AS s
      FROM nz e, qs
      WHERE e.vec_id >= {_BATCH_QUERIES}
    ),
    hit0 AS (
      SELECT query_id, MAX(s) AS hit_s
      FROM scored WHERE label = q_label
      GROUP BY query_id
    ),
    hit AS (
      SELECT s.query_id, hit0.hit_s, MIN(s.vec_id) AS hit_id
      FROM scored s JOIN hit0 USING (query_id)
      WHERE s.label = s.q_label AND s.s = hit0.hit_s
      GROUP BY s.query_id, hit0.hit_s
    )
    SELECT s.query_id, ANY_VALUE(s.q_label) AS q_label,
           CAST(COUNT(*) FILTER (
             WHERE s.s > hit.hit_s
                OR (s.s = hit.hit_s AND s.vec_id <= hit.hit_id)
           ) AS BIGINT) AS first_hit_rank,
           1.0 / COUNT(*) FILTER (
             WHERE s.s > hit.hit_s
                OR (s.s = hit.hit_s AND s.vec_id <= hit.hit_id)
           ) AS reciprocal_rank
    FROM scored s JOIN hit USING (query_id)
    GROUP BY s.query_id
    """,
)
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first same-label neighbor for each of the
    {q} fixed query vectors — the retrieval-eval metric MRR decomposed per
    query (complements q_ndcg's graded relevance and q_ann_recall's
    exact-vs-approx agreement with the classic 'how deep is the first
    relevant hit' number).

    Scale shape — rank WITHOUT a global sort: ranking the whole corpus per
    query (row_number over N) is a per-query total sort a 100 TB corpus
    can't afford; instead the best same-label neighbor is found with one
    max aggregate, and its rank is recovered as 1 + |better pairs| via a
    count_if against the broadcast 1-row-per-query hit table — two hash
    aggregates over the same broadcast-scored scan, no sort anywhere (the
    oracle mirrors the same count formulation; the tie-break is the
    (cosine DESC, vec_id ASC) order every ranking query here pins).
    reciprocal_rank is ONE division of an exact BIGINT rank."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < _BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= _BATCH_QUERIES).select(
        "vec_id", "label", "embedding", _norm("embedding").alias("nrm")
    )
    cos = _dot("embedding", "q_emb") / (F.col("nrm") * F.col("q_nrm"))
    scored = corpus.join(broadcast(qs)).select(
        "query_id", "q_label", "vec_id", "label", cos.alias("s")
    )
    hit = (
        scored.filter(F.col("label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(
            F.max_by("vec_id", F.struct(F.col("s"), -F.col("vec_id"))).alias(
                "hit_id"
            ),
            F.max("s").alias("hit_s"),
        )
    )
    better = F.count_if(
        (F.col("s") > F.col("hit_s"))
        | ((F.col("s") == F.col("hit_s")) & (F.col("vec_id") <= F.col("hit_id")))
    )
    return (
        scored.join(broadcast(hit), "query_id")
        .groupBy("query_id")
        .agg(
            F.any_value("q_label").alias("q_label"),
            better.alias("first_hit_rank"),
            (F.lit(1.0) / better).alias("reciprocal_rank"),
        )
    )


q_mrr_eval.__doc__ = q_mrr_eval.__doc__.format(q=_BATCH_QUERIES)


# ---------------------------------------------------------------------------
# q_similarity_ann_pq — product-quantization ANN over the trained-index core
# ---------------------------------------------------------------------------
def pq_oracle_sql(sf_dir: str) -> str:
    """Full DuckDB oracle for q_similarity_ann_pq: retrains the identical
    codebooks (see the trained-index core), then mirrors the Spark plan —
    codeword argmin per subspace → literal-LUT ADC → shortlist →
    exact-cosine re-rank (_duck_adc_sql)."""
    _, embs, q_emb = _oracle_sample(sf_dir)
    return f"""
    WITH {_SQL_NZ_CTE},
    {_duck_adc_sql(_pq_train(embs), q_emb, "nz")}"""


@register("q_similarity_ann_pq", oracle_factory=pq_oracle_sql)
def q_similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (product-quantization) ANN: per-subspace k-means codebooks become
    LITERAL arrays in the plan; encoding is a scan-side argmin projection
    per subspace (no join, no shuffle), and query scoring is pure table
    lookup — the ADC sum indexes four 16-double literal LUTs by the
    vector's codes. An ADC shortlist of {_PQ_SHORTLIST} then gets exactly
    one exact-cosine pass (asymmetric re-rank).

    At 100 TB: this is the memory-scale path IVF alone doesn't give — each
    vector compresses 64 floats → 4 bytes of codes, so the scored
    representation of a 10⁹-vector corpus fits in executor memory, and the
    scan does 4 array lookups + 3 adds per vector instead of 64 multiplies.
    Codes would be precomputed once at ingest (a materialized column),
    re-ranking reads full vectors for only the shortlist. Composes with
    IVF (IVF-PQ) by running the same encoding inside probed cells."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    _, _, sample = _train_sample(emb)
    books = _pq_train(sample)
    q_emb = _query_vector(emb)
    coded = emb.select("vec_id", "label", "embedding", *_pq_code_cols(books))
    return _adc_topk(coded.filter(F.col("vec_id") != 0), books, q_emb)


# ---------------------------------------------------------------------------
# q_similarity_ann_ivfpq — the production index shape: IVF cell pruning +
# PQ-ADC scoring + exact re-rank, fully oracle-checked like its two parts
# ---------------------------------------------------------------------------
def ivfpq_oracle_sql(sf_dir: str) -> str:
    """Oracle for the composed index: retrain the SAME IVF centroids and
    PQ codebooks the Spark query trains, then mirror the plan —
    literal-centroid cell argmax → nprobe filter → _duck_adc_sql over the
    surviving cells."""
    k, embs, q_emb = _oracle_sample(sf_dir)
    C = _kmeans_unit(embs, k)
    cell_rows = ",\n      ".join(
        f"({j}, {_duck_lit_array(C[j].tolist())})" for j in range(len(C))
    )
    probe_list = ",".join(str(p) for p in _ivf_probe_cells(C, q_emb))
    return f"""
    WITH {_SQL_NZ_CTE},
    cell AS MATERIALIZED (VALUES {cell_rows}),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, c.col0 AS j,
             {_sql_dot('e.embedding', 'c.col1')} AS s
      FROM nz e CROSS JOIN cell c
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, label, embedding
      FROM (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY s DESC, j ASC) AS rn,
              first_value(j) OVER
              (PARTITION BY vec_id ORDER BY s DESC, j ASC) AS cell_id
            FROM scored)
      WHERE rn = 1 AND cell_id IN ({probe_list}) AND vec_id <> 0
    ),
    {_duck_adc_sql(_pq_train(embs), q_emb, "assigned")}"""


@register("q_similarity_ann_ivfpq", oracle_factory=ivfpq_oracle_sql)
def q_similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the index structure production vector stores actually ship
    (FAISS IVFPQ with by_residual=false): IVF centroids prune the corpus
    to the query's nprobe cells, PQ codes score ONLY the survivors by
    table lookup, and an exact-cosine pass re-ranks the ADC shortlist.
    Composes q_similarity_ann_ivf's literal-centroid cell argmax with
    q_similarity_ann_pq's literal-codeword encoding on one training
    sample.

    The 100 TB accounting: cells cut the scored fraction to ~nprobe/k of
    the corpus, PQ cuts per-vector scoring to 4 lookups + 3 adds over
    4-byte codes, and full 256-byte vectors are read only for the
    {_PQ_SHORTLIST}-row shortlist — each multiplier independent, all
    scan-side projections with zero shuffles before the final top-k."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    _, k, sample = _train_sample(emb)
    C = _kmeans_unit(sample, k)
    books = _pq_train(sample)
    q_emb = _query_vector(emb)
    assigned = emb.select(
        "vec_id", "label", "embedding", ivf_cell_col(C).alias("cell")
    ).filter(_in_probe_cells(C, q_emb))
    coded = assigned.select("vec_id", "label", "embedding", *_pq_code_cols(books))
    return _adc_topk(coded, books, q_emb)


# ---------------------------------------------------------------------------
# q_similarity_ann_ivfpq_probe — the amortized-index ANN headline (round 11)
# ---------------------------------------------------------------------------
# Persisted-index cache root: one subdir per source corpus, keyed by the
# sanitized sf_dir path, invalidated on the source parquet's (size, mtime).
# Overridable for tests and sweeps; defaults to the user's cache
# directory, never into the source tree.
_ANN_INDEX_ENV = "SPARK_GRAFT_ANN_INDEX_DIR"


def _ann_index_root() -> str:
    import os

    return os.environ.get(
        _ANN_INDEX_ENV, os.path.expanduser("~/.cache/spark_graft/annindex")
    )


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/load-many IVF-PQ index for ``sf_dir``'s embeddings —
    the maintained artifact q_similarity_ann_ivfpq_probe probes.

    The index is a pure function of the corpus (the trained-index core),
    so building it lazily here yields the same cells/codes as the one-shot
    q_similarity_ann_ivfpq plan and the SAME DuckDB oracle stays exact.

    Layout: ``<root>/<key>/data`` is the coded corpus
    (vec_id, label, embedding, c0..c{M-1}) written ``partitionBy(cell)``
    — so a probe's nprobe-cell filter becomes PARTITION PRUNING at the
    scan, reading ~nprobe/k of the corpus and nothing else — and
    ``<root>/<key>/meta.json`` carries n/k/centroids/codebooks plus the
    source parquet's (size, mtime) for staleness detection. Writes land
    in a tmp dir then one atomic rename; a concurrent builder losing the
    race just reuses the winner's index."""
    import json
    import os
    import shutil

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = src.strip("/").replace("/", "__")
    root = _ann_index_root()
    idx_dir = os.path.join(root, key)
    meta_path = os.path.join(idx_dir, "meta.json")

    def fresh() -> bool:
        if not os.path.exists(meta_path):
            return False
        with open(meta_path) as f:
            meta = json.load(f)
        return (meta["src_size"], meta["src_mtime"]) == (st.st_size, st.st_mtime)

    if fresh():
        return idx_dir
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    n, k, sample = _train_sample(emb)
    C = _kmeans_unit(sample, k)
    books = _pq_train(sample)
    coded = emb.select(
        "vec_id",
        "label",
        "embedding",
        ivf_cell_col(C).alias("cell"),
        *_pq_code_cols(books),
    )
    os.makedirs(root, exist_ok=True)
    tmp = f"{idx_dir}.tmp.{os.getpid()}"
    coded.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(tmp, "data")
    )
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(
            {
                "src_size": st.st_size,
                "src_mtime": st.st_mtime,
                "n": n,
                "k": int(len(C)),
                "dim": len(sample.iloc[0]),
                "centroids": C.tolist(),
                "books": [b.tolist() for b in books],
            },
            f,
        )
    try:
        os.rename(tmp, idx_dir)
    except OSError:
        # lost the build race (or a stale index sits there): if the winner's
        # index is fresh, use it; otherwise replace it with ours
        if fresh():
            shutil.rmtree(tmp, ignore_errors=True)
            return idx_dir
        shutil.rmtree(idx_dir, ignore_errors=True)
        os.rename(tmp, idx_dir)
    return idx_dir


@register("q_similarity_ann_ivfpq_probe", oracle_factory=ivfpq_oracle_sql)
def q_similarity_ann_ivfpq_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ANN query as a production vector store runs it (round-11
    VERDICT #2): PROBE a maintained IVF-PQ index instead of paying the
    one-shot build every execution. q_similarity_ann_ivfpq measures the
    honest build+query composition — whose √n-centroid assignment term is
    n^1.5 and was the repo's one perf-weak op (exponent 1.132 over four
    decades) — while this query answers from the persisted artifact
    (:func:`ensure_ivfpq_index`; first run builds it, every later run —
    and every warm timed run in the sweeps — only probes).

    Probe cost, and why the exponent collapses: the nprobe-cell filter is
    PARTITION PRUNING on the index layout (cells are directories), so the
    scan reads ~nprobe/k ≈ 2/√n of the corpus — O(√n) rows; ADC scoring
    is 4 element_at lookups over the STORED codes (assignment was paid at
    build time); the shortlist re-rank touches {_PQ_SHORTLIST} full
    vectors. Driver-side work is k·dim numbers (probe-cell argsort + LUT
    render). Identical output to the one-shot plan — same deterministic
    centroids/codebooks/assignment expressions — so the SAME generated
    DuckDB oracle value-checks it."""
    import json
    import os

    import numpy as np

    idx_dir = ensure_ivfpq_index(spark, sf_dir)
    with open(os.path.join(idx_dir, "meta.json")) as f:
        meta = json.load(f)
    # json round-trips float64 exactly (repr-based), so these are the
    # build's centroids/codebooks bit-for-bit and the probe cells and LUT
    # literals equal the one-shot plan's
    C = np.asarray(meta["centroids"])
    books = [np.asarray(b) for b in meta["books"]]
    idx = spark.read.parquet(os.path.join(idx_dir, "data"))
    # the query vector comes from the SINGLE-FILE embeddings table, not the
    # cell-partitioned index (identical rows by construction — the index
    # data IS _nonzero(embeddings) plus derived columns): a take(1) against
    # the ~k-directory index paid ~1.4 s of first-touch listing +
    # multi-partition probing per fresh session, where the raw table is one
    # footer-warmed file (guide §6 small-files/listing cost; measured
    # first-run 4.1 → 2.9 s).
    q_emb = _query_vector(_nonzero(load_table(spark, sf_dir, "embeddings")))
    return _adc_topk(idx.filter(_in_probe_cells(C, q_emb)), books, q_emb)


# ---------------------------------------------------------------------------
# q_hard_negatives — bucket-bounded highest-cosine cross-label neighbors
# ---------------------------------------------------------------------------
_HARD_NEG_K = 2  # hard negatives kept per anchor


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM nz),
    e AS (
      SELECT vec_id, label, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM nz, nb
    ),
    cand AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS neg_id, b.label AS neg_label,
             {_sql_cos('a.embedding', 'b.embedding')} AS cosine_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_sql_cos('a.embedding', 'b.embedding')} DESC, b.vec_id
             ) AS rn
      FROM e a JOIN e b
        ON a.bucket = b.bucket AND a.label <> b.label
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, cosine_sim
    FROM cand WHERE rn <= {_HARD_NEG_K}
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    {k} most similar vectors carrying a DIFFERENT label — the examples a
    random sampler (q_negative_sampling) almost never draws and the ones
    that actually move an embedding model. Candidates are bounded to the
    anchor's sign-LSH bucket (the q_dedup_embedding blocking: bit count
    derived from corpus size in-plan, so expected bucket occupancy stays
    constant as the corpus grows — never the all-pairs anchor x corpus
    scan), then ranked by exact cosine with a per-anchor window. An
    anchor whose bucket holds no cross-label vector emits nothing — the
    documented LSH recall trade, surfaced by count, never a wrong pair.
    At 100 TB the bucket equi-join hash-partitions by bucket id and the
    window sorts only within (anchor, bucket)-bounded candidate sets."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    e = emb.join(broadcast(lsh_bits_df(emb))).select(
        "vec_id",
        "label",
        "embedding",
        _norm("embedding").alias("nrm"),
        _sign_bucket_spark("embedding", "lsh_bits").alias("bucket"),
    )
    a = e.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    cos = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    cand = (
        a.join(b, ["bucket"])
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .select(
            "anchor_id", "anchor_label", "neg_id", "neg_label",
            cos.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neg_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HARD_NEG_K)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "cosine_sim")
    )


q_hard_negatives.__doc__ = q_hard_negatives.__doc__.format(k=_HARD_NEG_K)


# ---------------------------------------------------------------------------
# q_triplet_margin — hardest-positive / hardest-negative margins per anchor
# ---------------------------------------------------------------------------
_SEMI_HARD_BAND = 0.2  # semi-hard negatives: within this cosine of the positive


@register(
    "q_triplet_margin",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    qs AS (
      SELECT vec_id AS anchor_id, label AS q_label, embedding AS qe
      FROM nz WHERE vec_id < {_BATCH_QUERIES}
    ),
    scored AS (
      SELECT qs.anchor_id, qs.q_label, e.label,
             {_sql_cos('e.embedding', 'qs.qe')} AS s
      FROM nz e, qs
      WHERE e.vec_id >= {_BATCH_QUERIES}
    ),
    pos AS (
      SELECT anchor_id, MAX(s) AS hardest_pos
      FROM scored WHERE label = q_label GROUP BY anchor_id
    )
    SELECT s.anchor_id, ANY_VALUE(s.q_label) AS q_label,
           ANY_VALUE(p.hardest_pos) AS hardest_pos,
           MAX(s.s) FILTER (WHERE s.label <> s.q_label) AS hardest_neg,
           ANY_VALUE(p.hardest_pos)
             - MAX(s.s) FILTER (WHERE s.label <> s.q_label) AS margin,
           CAST(COUNT(*) FILTER (
             WHERE s.label <> s.q_label
               AND s.s > p.hardest_pos - {_SEMI_HARD_BAND}
               AND s.s < p.hardest_pos
           ) AS BIGINT) AS n_semi_hard
    FROM scored s JOIN pos p USING (anchor_id)
    GROUP BY s.anchor_id
    """,
)
def q_triplet_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-mining audit (FaceNet, Schroff et al. 2015): per anchor,
    the hardest positive (max same-label cosine), the hardest negative
    (max cross-label cosine), their margin, and the count of SEMI-HARD
    negatives — negatives inside the (pos − {band}, pos) band, the ones
    triplet training actually wants (harder than the positive is
    degenerate, far easier contributes no gradient). Margin < 0 flags
    anchors whose class structure the embedding hasn't separated —
    complements q_hard_negatives (which emits the negatives themselves)
    with the per-anchor health summary.

    Scale shape: one broadcast-scored corpus scan (fixed {q}-anchor build
    side, the q_topk_batch discipline) feeding one conditional aggregate;
    the hardest-positive table is 1 row per anchor, broadcast back for
    the band count. max/count against bitwise-identical fold-order
    cosines (the _dot contract), so both engines agree on every
    comparison."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < _BATCH_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= _BATCH_QUERIES).select(
        "label", "embedding", _norm("embedding").alias("nrm")
    )
    cos = _dot("embedding", "q_emb") / (F.col("nrm") * F.col("q_nrm"))
    scored = corpus.join(broadcast(qs)).select(
        "anchor_id", "q_label", "label", cos.alias("s")
    )
    pos = (
        scored.filter(F.col("label") == F.col("q_label"))
        .groupBy("anchor_id")
        .agg(F.max("s").alias("hardest_pos"))
    )
    is_neg = F.col("label") != F.col("q_label")
    return (
        scored.join(broadcast(pos), "anchor_id")
        .groupBy("anchor_id")
        .agg(
            F.any_value("q_label").alias("q_label"),
            F.any_value("hardest_pos").alias("hardest_pos"),
            F.max(F.when(is_neg, F.col("s"))).alias("hardest_neg"),
            (
                F.any_value("hardest_pos") - F.max(F.when(is_neg, F.col("s")))
            ).alias("margin"),
            F.count_if(
                is_neg
                & (F.col("s") > F.col("hardest_pos") - _SEMI_HARD_BAND)
                & (F.col("s") < F.col("hardest_pos"))
            ).alias("n_semi_hard"),
        )
    )


q_triplet_margin.__doc__ = q_triplet_margin.__doc__.format(
    band=_SEMI_HARD_BAND, q=_BATCH_QUERIES
)
