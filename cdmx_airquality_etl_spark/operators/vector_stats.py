"""Vector / feature-statistics batch over the embedding corpus: per-dim
moments, per-label centroids, dimension covariances, norm histograms, and
centroid-assignment confusion — the feature-health layer an embedding
pipeline runs before trusting an ANN index.

Lineage: complements the similarity surface (operators/similarity.py —
top-k, LSH/IVF/PQ, recall monitor) with the statistics that size those
indexes: which dimensions carry variance (IVF/PQ subspace choice), how
norms distribute (normalization audit), and how well exact label centroids
separate classes (the upper bound on any quantized index's accuracy).

Determinism policy: float components quantize by power-of-two fixed point —
w = floor(x · 2^s) — because a power-of-two multiply is EXACT on the
float's mantissa and floor is unambiguous, unlike decimal rounding of
floats whose tie behavior engines may disagree on. All moment sums are
then exact BIGINTs; dot products reuse the similarity batch's
order-stable fold."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..sources.parquet import load_table, register_duck_view
from .similarity import _SQL_NZ_CTE, _dot, _nonzero, _sql_dot

_Q_SHIFT = 16  # fixed-point scale 2^16 for moment quantization
_Q = 1 << _Q_SHIFT
_COV_DIMS = 8  # leading dims for the covariance block
_NORM_BIN = 4.0  # squared-norm histogram bin width


# ---------------------------------------------------------------------------
# q_feature_moments — per-dimension fixed-point mean/variance/min/max
# ---------------------------------------------------------------------------
@register(
    "q_feature_moments",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    comp AS (
      SELECT dim - 1 AS dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * {_Q}) AS BIGINT) AS w
      FROM nz, unnest(range(1, len(embedding) + 1)) AS t(dim)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(w) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * {_Q}.0) AS DOUBLE) AS mean,
           CAST((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(w * w) AS DOUBLE)
                 - CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE))
                / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) * {_Q}.0 * {_Q}.0)
                AS DOUBLE) AS variance,
           CAST(CAST(MIN(w) AS DOUBLE) / {_Q}.0 AS DOUBLE) AS min_q,
           CAST(CAST(MAX(w) AS DOUBLE) / {_Q}.0 AS DOUBLE) AS max_q
    FROM comp GROUP BY dim
    """,
)
def q_feature_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding matrix in 2^{s}-fixed-point:
    mean, population variance, min and max of the quantized components.
    The explode is one scan producing (dim, w) pairs; the aggregate is a
    single map-combined shuffle keyed by dim — 64 output rows at any
    corpus size. Variance assembles as (nΣw² − (Σw)²)/n² over exact
    BIGINTs (Σw² ≤ 2^40·N — safe beyond 10^8 rows), divided once by the
    squared scale. This is the statistic PQ subspace allocation reads."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "dim",
        F.floor(F.col("x").cast("double") * _Q).cast("bigint").alias("w"),
    )
    n = F.count(F.lit(1))
    sw = F.sum("w")
    sww = F.sum(F.col("w") * F.col("w"))
    return comp.groupBy("dim").agg(
        n.alias("n"),
        (sw.cast("double") / (n.cast("double") * F.lit(float(_Q)))).alias("mean"),
        (
            (n.cast("double") * sww.cast("double") - sw.cast("double") * sw.cast("double"))
            / (n.cast("double") * n.cast("double") * F.lit(float(_Q)) * F.lit(float(_Q)))
        ).alias("variance"),
        (F.min("w").cast("double") / F.lit(float(_Q))).alias("min_q"),
        (F.max("w").cast("double") / F.lit(float(_Q))).alias("max_q"),
    )


q_feature_moments.__doc__ = q_feature_moments.__doc__.format(s=_Q_SHIFT)


# ---------------------------------------------------------------------------
# q_label_centroids — exact fixed-point class centroids
# ---------------------------------------------------------------------------
@register(
    "q_label_centroids",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    comp AS (
      SELECT label, dim - 1 AS dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * {_Q}) AS BIGINT) AS w
      FROM nz, unnest(range(1, len(embedding) + 1)) AS t(dim)
    )
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(w) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * {_Q}.0) AS DOUBLE) AS centroid
    FROM comp GROUP BY label, dim
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus (label × dim grid, exact
    fixed-point means) — the supervised twin of IVF's trained centroids
    and the input to q_centroid_confusion. One explode + one hash
    aggregate on (label, dim); output is |labels|·d rows regardless of
    corpus size."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "label", "dim",
        F.floor(F.col("x").cast("double") * _Q).cast("bigint").alias("w"),
    )
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("w").cast("double") / (F.count(F.lit(1)).cast("double") * F.lit(float(_Q)))
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# q_dim_covariance — covariance block over the leading dimensions
# ---------------------------------------------------------------------------
@register(
    "q_dim_covariance",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    comp AS (
      SELECT vec_id, dim - 1 AS dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * {_Q}) AS BIGINT) AS w
      FROM nz, unnest(range(1, {_COV_DIMS} + 1)) AS t(dim)
    ),
    prod AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.w) AS BIGINT) AS si,
             CAST(SUM(b.w) AS BIGINT) AS sj,
             CAST(SUM(a.w * b.w) AS BIGINT) AS sij
      FROM comp a JOIN comp b
        ON a.vec_id = b.vec_id AND a.dim <= b.dim
      GROUP BY a.dim, b.dim
    )
    SELECT dim_i, dim_j,
           CAST((CAST(n AS DOUBLE) * CAST(sij AS DOUBLE)
                 - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {_Q}.0 * {_Q}.0)
                AS DOUBLE) AS cov
    FROM prod
    """,
)
def q_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance block over the leading {d} embedding dimensions
    (upper triangle incl. diagonal) in exact fixed-point: cov(i,j) =
    (nΣwᵢwⱼ − ΣwᵢΣwⱼ)/n², descaled by the squared fixed-point factor.
    The per-vector self-join is bounded by
    the DIM BLOCK ({d}·({d}+1)/2 pairs per vector, constant), so the plan
    is linear in corpus size — the full d×d matrix at d=10³ would instead
    use a block-partitioned matrix multiply. Diagonal entries equal
    q_feature_moments' variances, pinned by tests."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        "vec_id", F.posexplode(F.slice(F.col("embedding"), 1, _COV_DIMS)).alias("dim", "x")
    ).select(
        "vec_id", "dim",
        F.floor(F.col("x").cast("double") * _Q).cast("bigint").alias("w"),
    )
    a = comp.alias("a")
    b = comp.alias("b")
    prod = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.dim") <= F.col("b.dim")),
        )
        .groupBy(F.col("a.dim").alias("dim_i"), F.col("b.dim").alias("dim_j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a.w").alias("si"),
            F.sum("b.w").alias("sj"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("sij"),
        )
    )
    cov = (
        F.col("n").cast("double") * F.col("sij").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("n").cast("double")
        * F.lit(float(_Q)) * F.lit(float(_Q))
    )
    return prod.select("dim_i", "dim_j", cov.alias("cov"))


q_dim_covariance.__doc__ = q_dim_covariance.__doc__.format(d=_COV_DIMS)


# ---------------------------------------------------------------------------
# q_norm_histogram — squared-norm distribution of the corpus
# ---------------------------------------------------------------------------
@register(
    "q_norm_histogram",
    oracle=f"""
    WITH {_SQL_NZ_CTE}
    SELECT CAST(floor({_sql_dot('embedding', 'embedding')} / {_NORM_BIN}) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN({_sql_dot('embedding', 'embedding')}) AS DOUBLE) AS min_sq_norm,
           CAST(MAX({_sql_dot('embedding', 'embedding')}) AS DOUBLE) AS max_sq_norm
    FROM nz
    GROUP BY 1
    """,
)
def q_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared-norm histogram of the (finite, nonzero) embedding corpus —
    the normalization audit: a corpus meant to be unit-normalized shows
    one bin; spread reveals un-normalized or corrupt batches before they
    skew cosine rankings. Norms come from the similarity batch's
    order-stable fold (deterministic doubles), binned by floor division —
    bin edges are unambiguous in both engines. One scan, one tiny
    aggregate."""
    nz = _nonzero(load_table(spark, sf_dir, "embeddings"))
    d = _dot("embedding", "embedding")
    return nz.groupBy(
        F.floor(d / _NORM_BIN).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(d).cast("double").alias("min_sq_norm"),
        F.max(d).cast("double").alias("max_sq_norm"),
    )


# ---------------------------------------------------------------------------
# q_centroid_confusion — nearest-centroid assignment vs true labels
# ---------------------------------------------------------------------------
# Shared CTE chain deriving the nearest-centroid confusion matrix — used
# verbatim by q_centroid_confusion and as the input of q_cohen_kappa, so
# the two can never disagree about the assignment rule.
_SQL_CONF_CTES = f"""{_SQL_NZ_CTE},
    comp AS (
      SELECT label, dim - 1 AS dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * {_Q}) AS BIGINT) AS w
      FROM nz, unnest(range(1, len(embedding) + 1)) AS t(dim)
    ),
    cent AS (
      SELECT label AS c_label, dim,
             CAST(CAST(SUM(w) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * {_Q}.0) AS DOUBLE) AS c
      FROM comp GROUP BY label, dim
    ),
    cvec AS (
      SELECT c_label, list(c ORDER BY dim) AS cv FROM cent GROUP BY c_label
    ),
    scored AS (
      SELECT e.vec_id, e.label AS true_label, cvec.c_label,
             {_sql_dot('e.embedding', 'cvec.cv')} AS dp
      FROM nz e CROSS JOIN cvec
    ),
    best AS (
      SELECT vec_id, true_label, c_label AS assigned_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, c_label) AS rnk
      FROM scored
    ),
    conf AS (
      SELECT true_label, assigned_label, CAST(COUNT(*) AS BIGINT) AS n
      FROM best WHERE rnk = 1
      GROUP BY true_label, assigned_label
    )"""


@register(
    "q_centroid_confusion",
    oracle=f"""
    WITH {_SQL_CONF_CTES}
    SELECT true_label, assigned_label, n FROM conf
    """,
)
def q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix: every vector is
    assigned to the label whose EXACT centroid (fixed-point mean, shared
    derivation with q_label_centroids) maximizes the dot product, then
    assignments cross-tabulate against true labels — the upper bound any
    IVF/PQ quantization of this corpus can reach, and the diagnostic that
    says whether poor ANN recall is the index's fault or the embedding's.
    Scoring is vectors × |labels| dot products (the literal-centroid
    broadcast pattern of q_similarity_ann_ivf); the argmax is a
    per-vector window over |labels| rows with a label tiebreak."""
    nz = _nonzero(load_table(spark, sf_dir, "embeddings"))
    comp = nz.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "label", "dim",
        F.floor(F.col("x").cast("double") * _Q).cast("bigint").alias("w"),
    )
    cent = comp.groupBy(F.col("label").alias("c_label"), F.col("dim")).agg(
        (
            F.sum("w").cast("double") / (F.count(F.lit(1)).cast("double") * F.lit(float(_Q)))
        ).alias("c")
    )
    cvec = cent.groupBy("c_label").agg(
        F.array_sort(F.collect_list(F.struct("dim", "c"))).c.alias("cv")
    )
    scored = nz.select("vec_id", F.col("label").alias("true_label"), "embedding").crossJoin(
        F.broadcast(cvec)
    ).select(
        "vec_id", "true_label", "c_label",
        _dot("embedding", "cv").alias("dp"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dp").desc(), "c_label")
    best = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1)
    return best.groupBy(
        "true_label", F.col("c_label").alias("assigned_label")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# q_cohen_kappa — chance-corrected agreement of the centroid classifier
# ---------------------------------------------------------------------------
@register(
    "q_cohen_kappa",
    oracle=f"""
    WITH {_SQL_CONF_CTES},
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN true_label = assigned_label THEN n ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM conf
    ),
    rows_ AS (
      SELECT true_label AS k, CAST(SUM(n) AS BIGINT) AS r
      FROM conf GROUP BY true_label
    ),
    cols_ AS (
      SELECT assigned_label AS k, CAST(SUM(n) AS BIGINT) AS c
      FROM conf GROUP BY assigned_label
    ),
    pe_ AS (
      SELECT CAST(SUM(r * c) AS BIGINT) AS pe_num
      FROM rows_ JOIN cols_ USING (k)
    )
    SELECT n_total, n_agree,
           CAST(n_agree AS DOUBLE) / n_total AS po,
           CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * n_total) AS pe,
           (CAST(n_agree AS DOUBLE) / n_total
            - CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * n_total))
           / (1.0 - CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * n_total))
             AS kappa
    FROM tot, pe_
    """,
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the nearest-centroid assignment and the true
    labels — the chance-corrected summary of q_centroid_confusion (raw
    accuracy flatters a classifier on an imbalanced label set; kappa
    subtracts the agreement a label-marginal-matching random assigner
    would get). Built FROM q_centroid_confusion's DataFrame, so the
    assignment rule is shared by construction. All marginals are exact
    BIGINTs; po/pe/kappa are single correctly-rounded double expressions
    over them, bitwise-identical in both engines. The whole computation
    past the confusion matrix is label-cardinality work (|labels|² rows);
    the final crossJoin attaches two scalar aggregates — bounded builds
    under the plan-shape gate."""
    # Σ_k row_k·col_k ≡ Σ_conf-rows n·col(true_label): attaching the
    # column marginal to each confusion cell lets ONE final scalar
    # aggregate produce n_total, n_agree AND pe_num — the confusion
    # subtree (the expensive part: corpus scoring + argmax window) is
    # evaluated twice instead of four times, and no crossJoin is needed.
    # The identity is exact integer arithmetic, so the hash equals the
    # oracle's marginal-join formulation.
    conf = q_centroid_confusion(spark, sf_dir)
    cols_ = conf.groupBy(F.col("assigned_label").alias("k")).agg(
        F.sum("n").cast("long").alias("c")
    )
    # left join + coalesce: a label never assigned has col marginal 0 but
    # its true-side rows must still count toward n_total/n_agree
    joined = conf.join(
        F.broadcast(cols_), conf.true_label == cols_.k, "left"
    ).select("true_label", "assigned_label", "n", F.coalesce("c", F.lit(0)).alias("c"))
    agg = joined.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.when(F.col("true_label") == F.col("assigned_label"), F.col("n"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_agree"),
        F.sum(F.col("n") * F.col("c")).cast("long").alias("pe_num"),
    )
    po = F.col("n_agree").cast("double") / F.col("n_total")
    pe = F.col("pe_num").cast("double") / (
        F.col("n_total").cast("double") * F.col("n_total")
    )
    return agg.select(
        "n_total",
        "n_agree",
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# q_scalar_quantization — int8 per-dimension quantization audit
# ---------------------------------------------------------------------------
@register(
    "q_scalar_quantization",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    comp AS (
      SELECT vec_id, dim - 1 AS dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * {_Q}) AS BIGINT) AS w
      FROM nz, unnest(range(1, len(embedding) + 1)) AS t(dim)
    ),
    rng AS (
      SELECT dim, CAST(MIN(w) AS BIGINT) AS wmin, CAST(MAX(w) AS BIGINT) AS wmax
      FROM comp GROUP BY dim
    ),
    coded AS (
      SELECT c.vec_id, c.dim, c.w, r.wmin, r.wmax,
             CASE WHEN r.wmax = r.wmin THEN 0
                  ELSE CAST(floor(CAST((c.w - r.wmin) * 255 AS DOUBLE)
                                  / (r.wmax - r.wmin)) AS BIGINT)
             END AS code
      FROM comp c JOIN rng r USING (dim)
    ),
    resid AS (
      SELECT vec_id, dim,
             (w - wmin) * 255 - code * (wmax - wmin) AS r
      FROM coded
    )
    SELECT d.dim,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST((r.wmax - r.wmin) AS DOUBLE) / {_Q} AS value_range,
           CAST(SUM(d.r * d.r) AS DOUBLE)
             / (COUNT(*) * 255.0 * 255.0 * {_Q}.0 * {_Q}.0) AS mean_sq_err,
           CAST(MAX(abs(d.r)) AS DOUBLE) / (255.0 * {_Q}.0) AS max_abs_err
    FROM resid d JOIN rng r USING (dim)
    GROUP BY d.dim, r.wmin, r.wmax
    """,
)
def q_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit — the compression every
    billion-vector ANN index applies before PQ: per dimension, learn the
    corpus [min, max] range, map each component to a 0..255 code, and
    measure the dequantization error that the quantizer would inject into
    similarity scores. Everything is exact fixed-point integer math: the
    residual r = 255·(w − wmin) − code·(wmax − wmin) is a BIGINT, so the
    per-dim error sums are exact and the final doubles are single
    correctly-rounded divisions (the q_unigram_lm policy). Plan shape:
    one posexplode scan, a 64-row per-dim range aggregate broadcast back,
    then one per-dim re-aggregate — quantization itself is map-side; at
    100 TB the only shuffles are keyed on the constant-cardinality dim."""
    nz = _nonzero(load_table(spark, sf_dir, "embeddings"))
    comp = nz.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "vec_id", "dim",
        F.floor(F.col("x").cast("double") * _Q).cast("bigint").alias("w"),
    )
    rng = comp.groupBy("dim").agg(
        F.min("w").cast("bigint").alias("wmin"),
        F.max("w").cast("bigint").alias("wmax"),
    )
    coded = comp.join(F.broadcast(rng), "dim").withColumn(
        "code",
        F.when(F.col("wmax") == F.col("wmin"), F.lit(0).cast("bigint")).otherwise(
            F.floor(
                ((F.col("w") - F.col("wmin")) * F.lit(255)).cast("double")
                / (F.col("wmax") - F.col("wmin"))
            ).cast("bigint")
        ),
    )
    resid = coded.withColumn(
        "r",
        (F.col("w") - F.col("wmin")) * F.lit(255)
        - F.col("code") * (F.col("wmax") - F.col("wmin")),
    )
    scale = 255.0 * float(_Q)
    return resid.groupBy("dim", "wmin", "wmax").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.col("r") * F.col("r")).cast("double").alias("sse"),
        F.max(F.abs(F.col("r"))).cast("double").alias("max_r"),
    ).select(
        "dim",
        "n_vectors",
        ((F.col("wmax") - F.col("wmin")).cast("double") / F.lit(float(_Q))).alias(
            "value_range"
        ),
        (F.col("sse") / (F.col("n_vectors") * F.lit(scale) * F.lit(scale))).alias(
            "mean_sq_err"
        ),
        (F.col("max_r") / F.lit(scale)).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# q_class_weights — inverse-frequency training weights per label
# ---------------------------------------------------------------------------
@register(
    "q_class_weights",
    oracle="""
    WITH counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
      FROM embeddings GROUP BY label
    ),
    tot AS (
      SELECT CAST(SUM(n_label) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_classes
      FROM counts
    )
    SELECT label, n_label,
           CAST(n_label AS DOUBLE) / n_total AS frequency,
           CAST(n_total AS DOUBLE) / (n_classes * n_label) AS class_weight
    FROM counts, tot
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class weights (sklearn's 'balanced' heuristic: w_k =
    N / (K · n_k)) for the labeled embedding corpus — what a trainer
    multiplies into the loss so rare labels aren't drowned, and the
    companion table to q_cohen_kappa's imbalance correction. One
    label-cardinality hash aggregate plus a broadcast scalar attach;
    both ratios are single correctly-rounded divisions of exact
    BIGINTs."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_label")
    )
    tot = counts.agg(
        F.sum("n_label").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "label",
        "n_label",
        (F.col("n_label").cast("double") / F.col("n_total")).alias("frequency"),
        (
            F.col("n_total").cast("double") / (F.col("n_classes") * F.col("n_label"))
        ).alias("class_weight"),
    )


# ---------------------------------------------------------------------------
# q_slice_recall — per-class recall of the centroid classifier
# ---------------------------------------------------------------------------
@register(
    "q_slice_recall",
    oracle=f"""
    WITH {_SQL_CONF_CTES}
    SELECT true_label,
           CAST(SUM(n) AS BIGINT) AS n_class,
           CAST(SUM(CASE WHEN true_label = assigned_label THEN n ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN true_label = assigned_label THEN n ELSE 0 END)
                AS DOUBLE) / SUM(n) AS recall
    FROM conf
    GROUP BY true_label
    """,
)
def q_slice_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class recall of the nearest-centroid classifier — the sliced
    view between q_centroid_confusion's full matrix and q_cohen_kappa's
    single scalar: WHICH labels the embedding space actually separates
    (the slice-based evaluation that catches a class regression a global
    accuracy hides). One label-cardinality rollup of the shared
    confusion derivation; counts exact, recall one correctly-rounded
    division."""
    conf = q_centroid_confusion(spark, sf_dir)
    correct = F.sum(
        F.when(F.col("true_label") == F.col("assigned_label"), F.col("n")).otherwise(
            F.lit(0)
        )
    )
    return conf.groupBy("true_label").agg(
        F.sum("n").cast("long").alias("n_class"),
        correct.cast("long").alias("n_correct"),
        (correct.cast("double") / F.sum("n")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# q_pca_top_component — power iteration on exact covariance sufficient stats
# ---------------------------------------------------------------------------
_PCA_DIMS = 8  # leading subspace (matches the q_dim_covariance block)
_PCA_ITERS = 24  # fixed power-iteration count (no data-dependent stopping)
_PCA_LSHIFT = 20  # loading fixed-point scale 2^20 for the projection pass
_PCA_L = 1 << _PCA_LSHIFT


def _pca_cov_from_stats(stats):
    """(n, {(i,j): (si, sj, sij)}) -> dense DxD covariance, computed with
    ONE fixed-shape double expression per entry over exact BIGINT inputs —
    both engines' sufficient statistics are identical integers, so this
    matrix (and everything iterated from it) is bitwise-identical however
    the stats were aggregated."""
    n, pairs = stats
    d = _PCA_DIMS
    c = [[0.0] * d for _ in range(d)]
    for (i, j), (si, sj, sij) in pairs.items():
        cov = (float(n) * float(sij) - float(si) * float(sj)) / (
            float(n) * float(n) * float(_Q) * float(_Q)
        )
        c[i][j] = cov
        c[j][i] = cov
    return c


def _pca_power(c):
    """Fixed-iteration power method -> (loadings, eigenvalue, trace).
    Deterministic: fixed init, fixed iteration count, fixed reduction
    shapes; IEEE double ops on identical inputs give identical outputs in
    any process."""
    import math

    d = len(c)
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(_PCA_ITERS):
        u = [sum(c[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = math.sqrt(sum(x * x for x in u))
        if nrm == 0.0:
            break
        v = [x / nrm for x in u]
    lam = sum(v[i] * sum(c[i][j] * v[j] for j in range(d)) for i in range(d))
    trace = sum(c[i][i] for i in range(d))
    return v, lam, trace


def _pca_train_spark(spark: SparkSession, sf_dir: str):
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding"), 1, _PCA_DIMS)).alias(
            "dim", "x"
        ),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * _Q).cast("bigint").alias("w"),
    )
    a, b = comp.alias("a"), comp.alias("b")
    prod = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.dim") <= F.col("b.dim")),
        )
        .groupBy(
            F.col("a.dim").alias("i"), F.col("b.dim").alias("j")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a.w").cast("long").alias("si"),
            F.sum("b.w").cast("long").alias("sj"),
            F.sum(F.col("a.w") * F.col("b.w")).cast("long").alias("sij"),
        )
    )
    rows = prod.collect()  # bounded: D(D+1)/2 = 36 rows, data-size-free
    n = max(r["n"] for r in rows)
    pairs = {(r["i"], r["j"]): (r["si"], r["sj"], r["sij"]) for r in rows}
    return n, pairs


def _pca_train_duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        register_duck_view(con, sf_dir, "embeddings")
        rows = con.sql(
            f"""
            WITH {_SQL_NZ_CTE},
            comp AS (
              SELECT vec_id, dim - 1 AS dim,
                     CAST(floor(CAST(embedding[dim] AS DOUBLE) * {_Q})
                          AS BIGINT) AS w
              FROM nz, unnest(range(1, {_PCA_DIMS} + 1)) AS t(dim)
            )
            SELECT a.dim AS i, b.dim AS j,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a.w) AS BIGINT) AS si,
                   CAST(SUM(b.w) AS BIGINT) AS sj,
                   CAST(SUM(a.w * b.w) AS BIGINT) AS sij
            FROM comp a JOIN comp b
              ON a.vec_id = b.vec_id AND a.dim <= b.dim
            GROUP BY a.dim, b.dim
            """
        ).fetchall()
    finally:
        con.close()
    if not rows:
        raise ValueError("PCA oracle: no usable embeddings after the guard")
    n = max(r[2] for r in rows)
    pairs = {(r[0], r[1]): (r[3], r[4], r[5]) for r in rows}
    return n, pairs


def _pca_loadings_int(v):
    import math

    return [int(math.floor(x * _PCA_L)) for x in v]


def pca_oracle_sql(sf_dir: str) -> str:
    """Rendered DuckDB oracle: retrains the component from the parquet via
    the identical exact-integer sufficient statistics and emits the same
    literal-loading projection the Spark side runs (the IVF/PQ
    generated-oracle convention, registry.py ORACLE_FACTORIES)."""
    v, lam, trace = _pca_power(_pca_cov_from_stats(_pca_train_duck(sf_dir)))
    lv = _pca_loadings_int(v)
    score = " + ".join(
        f"CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * {_Q}) AS BIGINT)"
        f" * {lv[d]}"
        for d in range(_PCA_DIMS)
    )
    ratio = lam / trace if trace != 0.0 else 0.0
    return f"""
    WITH {_SQL_NZ_CTE},
    scored AS (
      SELECT label, CAST({score} AS HUGEINT) AS s FROM nz
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * {float(_Q) * float(_PCA_L)!r})
             AS mean_score,
           CAST({lam!r} AS DOUBLE) AS eigenvalue,
           CAST({ratio!r} AS DOUBLE) AS explained_ratio
    FROM scored
    GROUP BY label
    """


@register("q_pca_top_component", oracle_factory=pca_oracle_sql)
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the leading {d}-dim embedding subspace —
    trained by {it} fixed power-iteration steps on the EXACT covariance
    sufficient statistics (the q_dim_covariance integer grid), then pushed
    back down as a distributed projection: per-label mean component score,
    with the eigenvalue and explained-variance ratio as audit columns.
    This is the embedding-drift / index-subspace primitive (is one
    component dominating? did a model update rotate the space?) and the
    engine's demonstration of the train-then-score idiom for iterative
    algorithms the IVF/PQ family also uses.

    Scale shape: training reduces the corpus to D(D+1)/2 = {np} BIGINT
    sufficient-statistic rows (one bounded hash aggregate over the
    component self-join at fixed D — map-side combinable, shuffle is 36
    rows), the {it}-step iteration runs on that 8x8 driver matrix (a
    data-size-independent driver step, like the IVF centroid train), and
    scoring is ONE scan with a literal-coefficient integer dot product —
    Σ lv_d·w_d stays in int64 (|lv|≤2^{ls}, |w|≤2^{qs} ⇒ |term|≤2^36,
    D=8 ⇒ |s|≤2^39), summed per label in DECIMAL(38,0) (exact past 1e12
    rows/label) with ONE final double division. Cross-engine equality
    holds because both engines aggregate the SAME integers and both
    iterate the SAME doubles (_pca_cov_from_stats/_pca_power are shared
    by the Spark path and the oracle factory)."""
    v, lam, trace = _pca_power(
        _pca_cov_from_stats(_pca_train_spark(spark, sf_dir))
    )
    lv = _pca_loadings_int(v)
    ratio = lam / trace if trace != 0.0 else 0.0
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    term = lambda d: (  # noqa: E731
        F.floor(
            F.element_at("embedding", d + 1).cast("double") * _Q
        ).cast("long")
        * F.lit(lv[d])
    )
    score = term(0)
    for d in range(1, _PCA_DIMS):
        score = score + term(d)
    return (
        emb.select("label", score.cast("decimal(38,0)").alias("s"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum("s").cast("double")
                / (
                    F.count(F.lit(1)).cast("double")
                    * F.lit(float(_Q) * float(_PCA_L))
                )
            ).alias("mean_score"),
        )
        .select(
            "label",
            "n_vecs",
            "mean_score",
            F.lit(lam).cast("double").alias("eigenvalue"),
            F.lit(ratio).cast("double").alias("explained_ratio"),
        )
    )


q_pca_top_component.__doc__ = q_pca_top_component.__doc__.format(
    d=_PCA_DIMS,
    it=_PCA_ITERS,
    np=_PCA_DIMS * (_PCA_DIMS + 1) // 2,
    ls=_PCA_LSHIFT,
    qs=_Q_SHIFT,
)


# ---------------------------------------------------------------------------
# q_random_projection — Johnson–Lindenstrauss distortion audit
# ---------------------------------------------------------------------------
_JL_DIM = 64  # corpus embedding dimensionality
_JL_K = 16  # target dimensionality of the sketch
_JL_BUCKET = 0.125  # distortion-ratio histogram bin width (2^-3: exact)


def _jl_signs() -> list[list[int]]:
    """The ±1 Achlioptas projection matrix, derived from md5 so both
    engines see the SAME literal rows: sign(i, j) = +1 iff the j-th hex
    nibble of md5('jl:<i>') chains is even. Pure stdlib, computed once at
    import, rendered as literals into the Spark expression and the oracle
    SQL alike (the q_bootstrap_ci rendered-constant convention)."""
    import hashlib

    rows = []
    for i in range(_JL_K):
        hexs = ""
        blk = 0
        while len(hexs) < _JL_DIM:
            hexs += hashlib.md5(f"jl:{i}:{blk}".encode()).hexdigest()
            blk += 1
        rows.append([1 if int(c, 16) % 2 == 0 else -1 for c in hexs[:_JL_DIM]])
    return rows


_JL_ROWS = _jl_signs()


def _jl_spark_y(i: int) -> str:
    arr = ", ".join(f"{s}.0D" for s in _JL_ROWS[i])
    return (
        f"aggregate(zip_with(embedding, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + v)"
    )


def _jl_sql_y(i: int) -> str:
    arr = ", ".join(f"{s}.0" for s in _JL_ROWS[i])
    return (
        f"list_reduce(list_transform(range(1, {_JL_DIM} + 1), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ([{arr}][i])), "
        f"(acc, x) -> acc + x)"
    )


@register(
    "q_random_projection",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    proj AS (
      SELECT {_sql_dot('embedding', 'embedding')} AS ss_x,
             {' + '.join(f'({_jl_sql_y(i)} * {_jl_sql_y(i)})' for i in range(_JL_K))}
               AS ss_y
      FROM nz
    ),
    ratio AS (
      SELECT ss_y / ({_JL_K}.0 * ss_x) AS r FROM proj
    )
    SELECT CAST(floor(r / {_JL_BUCKET}) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           MIN(r) AS min_ratio, MAX(r) AS max_ratio
    FROM ratio GROUP BY 1
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distortion audit: project every embedding
    through a fixed ±1 sign matrix (Achlioptas 2003's database-friendly
    JL variant) from {d} to {k} dims and histogram the norm-distortion
    ratio ‖Px‖² / (k·‖x‖²), whose expectation is exactly 1. This is the
    go/no-go check before swapping an ANN index onto sketched vectors:
    the histogram's spread IS the recall you give up. Complements
    q_scalar_quantization (precision loss per component) with the loss
    per *dimension drop*.

    Scale shape: pure map-side arithmetic — {k} order-stable folds per
    row (the _dot contract), zero joins, one tiny hash aggregate (≈ a
    dozen buckets). On 100 TB this is a single scan at full codegen
    throughput; the sign matrix is {k}×{d} rendered literals, not data.
    Determinism: both engines fold the same literals in the same order →
    bitwise-identical doubles; the bucket edge is a power of two, so
    floor(r/2⁻³) agrees; min/max are order-independent."""
    emb = _nonzero(load_table(spark, sf_dir, "embeddings"))
    ys = [F.expr(_jl_spark_y(i)).alias(f"y{i}") for i in range(_JL_K)]
    proj = emb.select(_dot("embedding", "embedding").alias("ss_x"), *ys)
    ss_y = proj["y0"] * proj["y0"]
    for i in range(1, _JL_K):
        ss_y = ss_y + proj[f"y{i}"] * proj[f"y{i}"]
    ratio = proj.select(
        (ss_y / (float(_JL_K) * F.col("ss_x"))).alias("r")
    )
    return ratio.groupBy(
        F.floor(F.col("r") / _JL_BUCKET).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("r").alias("min_ratio"),
        F.max("r").alias("max_ratio"),
    )


q_random_projection.__doc__ = q_random_projection.__doc__.format(
    d=_JL_DIM, k=_JL_K
)
