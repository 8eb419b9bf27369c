"""Statistical-test and model-evaluation batch: OLS regression, chi-square
independence, binned two-sample KS, rank-based AUC, Gini impurity, Benford
digit audit, and NDCG ranking quality.

These are the evaluation primitives a data-curation platform runs on top of
its corpus metrics (complements q_ab_welch / q_theil_sen / q_corr_manual in
the robust/analytics batches). Lineage: the reference's consumers chart
pollutant trends over time (SURVEY §2B reporting surface) — trend slope,
distribution drift, and category independence are the statistical layer of
that same reporting.

Determinism policy (SURVEY.md §5.1): every statistic reduces through EXACT
sufficient statistics — BIGINT counts/sums (values scaled to integer cents)
or DECIMAL sums — and applies floating-point operations only in a final
fixed-shape expression over those exact scalars, so partial-aggregation
order can never move a bit. No libm call (ln/log/exp) enters a compared
value except as a driver-rendered literal (the q_bm25 idf pattern): Python
computes the constant once and the SAME literal text is rendered into the
Spark expression and the DuckDB SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from .fanout import fan_out_scan
from ..sources.parquet import load_table
from .similarity import _SQL_NZ_CTE, _dot, _nonzero, _sql_cos

_KS_BINS = 256
_KS_LO, _KS_HI = 0.0, 330.0  # corpus value domain is [0.03, 327.53]
_NDCG_K = 10
# driver-rendered discount literals 1/log2(i+1), i = 1..k — the bm25-idf
# pattern: one Python float each, identical text in both engines
_NDCG_DISC = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
# Benford expected shares log10(1 + 1/d), d = 1..9, as literals
_BENFORD = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def _exact_moment_diff(a1: str, a2: str, b1: str, b2: str):
    """Exact DECIMAL ``a1·a2 − b1·b2`` over BIGINT sum columns — the scalar
    moment combination of q_ols_group (and the shape the round-8 sf1 sweep
    caught overflowing in plain long arithmetic): (19,0)×(19,0) products
    cast to (37,0), difference in (38,0), ONE cast to double, mirroring the
    oracle's ladder text-for-text.

    Under Spark's default non-ANSI mode a decimal(37,0) overflow returns
    NULL where DuckDB would error — past the analyzed ~10^12-row-group
    envelope that would silently NULL the slope/r2 instead of failing
    (round-8 ADVICE #3). The inputs are non-null sums, so a NULL diff can
    only mean overflow: raise loudly instead."""
    p = lambda u, v: (
        F.col(u).cast("decimal(19,0)") * F.col(v).cast("decimal(19,0)")
    ).cast("decimal(37,0)")
    d = p(a1, a2) - p(b1, b2)
    overflow = (
        d.isNull()
        & F.col(a1).isNotNull()
        & F.col(a2).isNotNull()
        & F.col(b1).isNotNull()
        & F.col(b2).isNotNull()
    )
    return (
        F.when(
            overflow,
            F.raise_error(
                F.lit(
                    "exact_moment_diff: decimal(37,0) combination "
                    "overflowed — group is beyond the analyzed ~10^12-row "
                    "envelope; widen the DECIMAL ladder in BOTH engines "
                    "before trusting any output"
                )
            ).cast("double"),
        )
        .otherwise(d.cast("double"))
    )


# ---------------------------------------------------------------------------
# q_ols_group — per-group least-squares trend from exact sufficient stats
# ---------------------------------------------------------------------------
@register(
    "q_ols_group",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT)   AS n,
             CAST(SUM(x) AS BIGINT)     AS sx,
             CAST(SUM(yc) AS BIGINT)    AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * yc) AS BIGINT) AS sxy,
             CAST(SUM(yc * yc) AS BIGINT) AS syy
      FROM pts GROUP BY event_type
    ),
    -- the scalar combinations n*s2 - s1*s1 overflow BIGINT at sf1 row
    -- counts (~1e21), so they run in exact DECIMAL: (19,0)x(19,0)
    -- products cast to (37,0), difference in (38,0), ONE cast to double
    d AS (
      SELECT event_type, n, sx, sy,
             CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
                       AS DECIMAL(37,0))
                - CAST(CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
                       AS DECIMAL(37,0)) AS DOUBLE) AS num,
             CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
                       AS DECIMAL(37,0))
                - CAST(CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))
                       AS DECIMAL(37,0)) AS DOUBLE) AS den,
             CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
                       AS DECIMAL(37,0))
                - CAST(CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
                       AS DECIMAL(37,0)) AS DOUBLE) AS den2
      FROM s
    )
    SELECT event_type, n,
           CAST(num / den / 100.0 AS DOUBLE) AS slope,
           CAST((CAST(sy AS DOUBLE) / 100.0
                 - (num / den / 100.0) * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE) AS DOUBLE) AS intercept,
           CAST(num * num / (den * den2) AS DOUBLE) AS r2
    FROM d
    """,
)
def q_ols_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value on day index. The regression reduces to
    five EXACT integer sums (x as epoch day, y scaled to cents — the corpus
    stores 2-decimal values) in ONE map-side-combined aggregate; slope,
    intercept and R² are then a fixed expression over those scalars —
    bit-identical across engines and partitionings. At 100 TB this is the
    canonical "trend per segment" plan: one shuffle keyed by the group, no
    window, no second pass. Magnitude check: x ≤ ~21k days, yc ≤ ~33k ⇒
    the five SUMS are BIGINT-safe to trillions of rows, but the scalar
    combinations n·sxy − sx·sy are NOT (the round-8 sf1 sweep caught the
    long overflow at ~1e21): they run in exact DECIMAL — (19,0)×(19,0)
    products cast to (37,0), difference in (38,0), one cast to double —
    identical in both engines, overflow-safe past 10^12-row groups."""
    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint")
    yc = F.round(F.col("value") * 100).cast("bigint")
    s = (
        ev.select("event_type", x.alias("x"), yc.alias("yc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("yc")).alias("sxy"),
            F.sum(F.col("yc") * F.col("yc")).alias("syy"),
        )
    )
    num = _exact_moment_diff("n", "sxy", "sx", "sy")
    den = _exact_moment_diff("n", "sxx", "sx", "sx")
    den2 = _exact_moment_diff("n", "syy", "sy", "sy")
    slope = num / den / F.lit(100.0)
    intercept = (
        F.col("sy").cast("double") / F.lit(100.0) - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    r2 = num * num / (den * den2)
    return s.select(
        "event_type", "n",
        slope.alias("slope"), intercept.alias("intercept"), r2.alias("r2"),
    )


# ---------------------------------------------------------------------------
# q_chi_square — independence of event type × day-of-week
# ---------------------------------------------------------------------------
@register(
    "q_chi_square",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS BIGINT) AS dow
      FROM events
    ),
    obs AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o FROM base GROUP BY 1, 2),
    rt  AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS r FROM base GROUP BY 1),
    ct  AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    cells AS (
      SELECT rt.event_type, ct.dow, rt.r, ct.c, tot.n,
             COALESCE(obs.o, 0) AS o
      FROM rt CROSS JOIN ct CROSS JOIN tot
      LEFT JOIN obs ON obs.event_type = rt.event_type AND obs.dow = ct.dow
    )
    SELECT CAST(SUM(CAST(
             CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
             / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
           AS DECIMAL(28,10))) AS DOUBLE) AS chi2,
           CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
    FROM cells
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square for independence of event type × day-of-week.
    Each cell's term uses the algebraic form (oN − rc)²/(rcN) over EXACT
    integer marginals, so expected counts are never materialized as
    rounded floats; day-of-week is epoch-day mod 7 (identical in both
    engines — no locale-dependent dayofweek()). The dense grid comes from
    crossing the two marginal aggregates (|types| × 7 rows) and
    left-joining observed — zero-count cells still contribute. Per-cell
    doubles round to DECIMAL(28,10) before the final sum so the statistic
    is addition-order-independent. At 100 TB: three cheap aggregates over
    one scan + a constant-size grid."""
    ev = load_table(spark, sf_dir, "events")
    dow = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) % 7
    ).cast("bigint")
    base = ev.select("event_type", dow.alias("dow"))
    obs = base.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    rt = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("r"))
    ct = base.groupBy("dow").agg(F.count(F.lit(1)).alias("c"))
    tot = base.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["event_type", "dow"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    diff = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    term = diff * diff / (
        F.col("r").cast("double") * F.col("c").cast("double") * F.col("n").cast("double")
    )
    return cells.agg(
        F.sum(term.cast("decimal(28,10)")).cast("double").alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).cast("bigint").alias("dof"),
    )


# ---------------------------------------------------------------------------
# q_ks_binned — binned two-sample Kolmogorov-Smirnov distance
# ---------------------------------------------------------------------------
@register(
    "q_ks_binned",
    oracle=f"""
    WITH b AS (
      SELECT LEAST(CAST(floor(value * {_KS_BINS}.0 / {_KS_HI}) AS BIGINT), {_KS_BINS - 1}) AS bin,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ),
    c AS (
      SELECT bin,
             SUM(n1) OVER (ORDER BY bin) AS c1,
             SUM(n2) OVER (ORDER BY bin) AS c2,
             (SELECT SUM(n1) FROM b) AS t1,
             (SELECT SUM(n2) FROM b) AS t2
      FROM b
    )
    SELECT CAST(MAX(t1) AS BIGINT) AS n_click,
           CAST(MAX(t2) AS BIGINT) AS n_view,
           CAST(CAST(MAX(abs(c1 * t2 - c2 * t1)) AS DOUBLE)
                / (CAST(MAX(t1) AS DOUBLE) * CAST(MAX(t2) AS DOUBLE)) AS DOUBLE) AS ks_d
    FROM c
    """,
)
def q_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distance between the click and view value
    distributions, over a fixed 256-bin quantization of the value domain.
    The binned ECDF is the scale-correct formulation: an exact-rank KS
    needs a global sort of both samples, while binning reduces 100 TB to a
    256-row cumulative — and the bin-granular D equals the exact D of the
    binned distributions (the estimator a production drift monitor runs).
    The max |F1−F2| is computed in cross-multiplied INTEGER space
    (|c1·N2 − c2·N1|) with ONE final double division, so no per-bin float
    CDF is ever compared. The window runs over ≤256 aggregated rows —
    single-partition is fine and documented."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    bin_ = F.least(
        F.floor(F.col("value") * _KS_BINS / _KS_HI).cast("bigint"),
        F.lit(_KS_BINS - 1),
    )
    b = ev.groupBy(bin_.alias("bin")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n2"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = b.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    c = (
        b.withColumn("c1", F.sum("n1").over(w))
        .withColumn("c2", F.sum("n2").over(w))
        .crossJoin(F.broadcast(tot))
    )
    return c.agg(
        F.max("t1").alias("n_click"),
        F.max("t2").alias("n_view"),
        (
            F.max(F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1"))).cast("double")
            / (F.max("t1").cast("double") * F.max("t2").cast("double"))
        ).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# q_auc_rank — Mann-Whitney AUC from grouped score counts, exact integers
# ---------------------------------------------------------------------------
@register(
    "q_auc_rank",
    oracle="""
    WITH s AS (
      SELECT CAST(n_chars AS BIGINT) AS score,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT score, pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
      FROM s
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(CAST(SUM(pos * (2 * neg_below + neg)) AS DOUBLE)
                / (2.0 * CAST(SUM(pos) AS DOUBLE) * CAST(SUM(neg) AS DOUBLE)) AS DOUBLE) AS auc
    FROM c
    """,
)
def q_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of document length as a predictor of lang = 'en', via the
    Mann-Whitney rank statistic with midrank tie handling — computed from
    GROUPED score counts, never per-row ranks: AUC·2PN = Σ_s pos_s ·
    (2·neg_below(s) + neg_s), all BIGINT-exact, one final double division.
    The window runs over distinct scores (≤ a few thousand lengths), not
    over documents — the plan that survives 100 TB where a global
    row_number() rank would not. This is the estimator-quality primitive
    for any score column (quality, perplexity, toxicity) against any
    binary label."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy(F.col("n_chars").cast("bigint").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("neg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = s.withColumn("neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    return c.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        (
            F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))).cast("double")
            / (F.lit(2.0) * F.sum("pos").cast("double") * F.sum("neg").cast("double"))
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# q_gini_sources — Gini impurity / concentration of langs per source
# ---------------------------------------------------------------------------
@register(
    "q_gini_sources",
    oracle="""
    WITH cnt AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS k
      FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(CAST(MAX(k) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS DOUBLE) AS max_share,
           CAST(1.0 - CAST(SUM(k * k) AS DOUBLE)
                      / (CAST(SUM(k) AS DOUBLE) * CAST(SUM(k) AS DOUBLE)) AS DOUBLE) AS gini
    FROM cnt GROUP BY source
    """,
)
def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix concentration per source: Gini impurity 1 − Σp², the
    split-quality / diversity measure, computed as 1 − Σk²/N² over exact
    integer counts (no per-class float shares are summed — the entropy
    variant is deliberately NOT offered in compared output because ln() is
    not correctly rounded across libms; Gini carries the same signal with
    exact arithmetic). Two nested hash aggregates, both map-combined."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("k"))
    return cnt.groupBy("source").agg(
        F.sum("k").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        (F.max("k").cast("double") / F.sum("k").cast("double")).alias("max_share"),
        (
            F.lit(1.0)
            - F.sum(F.col("k") * F.col("k")).cast("double")
            / (F.sum("k").cast("double") * F.sum("k").cast("double"))
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q_benford — leading-digit audit of order totals vs Benford's law
# ---------------------------------------------------------------------------
@register(
    "q_benford",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
             (SELECT COUNT(*) FROM d) AS tot
      FROM d GROUP BY digit
    ),
    exp AS (
      SELECT * FROM (VALUES
        {", ".join(f"({i + 1}, CAST({p!r} AS DOUBLE))" for i, p in enumerate(_BENFORD))}
      ) AS t(digit, expected)
    )
    SELECT exp.digit, COALESCE(obs.n, 0) AS n,
           CAST(CAST(COALESCE(obs.n, 0) AS DOUBLE) / CAST(MAX(tot) OVER () AS DOUBLE) AS DOUBLE) AS share,
           expected
    FROM exp LEFT JOIN obs ON obs.digit = exp.digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals against Benford's law —
    the standard synthetic-data / fraud smoke test. The digit extracts
    through DECIMAL(18,2) → string (exact in both engines; no log10() on
    doubles), observed shares are integer-count ratios, and the expected
    shares log10(1+1/d) are driver-rendered Python literals (the bm25-idf
    pattern) so no libm call happens inside either engine. All nine digits
    are emitted even at zero observed count (the audit needs the gaps)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("bigint")
    obs = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = obs.agg(F.sum("n").alias("tot"))
    exp = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(_BENFORD)], "digit bigint, expected double"
    )
    return (
        exp.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("tot").cast("double")
            ).alias("share"),
            "expected",
        )
    )


# ---------------------------------------------------------------------------
# q_ndcg — ranking quality of cosine retrieval against labels
# ---------------------------------------------------------------------------
@register(
    "q_ndcg",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    q AS (SELECT embedding AS qe, label AS ql FROM nz WHERE vec_id = 0),
    ranked AS (
      SELECT row_number() OVER (
               ORDER BY {_sql_cos('e.embedding', 'q.qe')} DESC, e.vec_id
             ) AS rnk,
             CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel
      FROM nz e, q WHERE e.vec_id <> 0
    ),
    disc AS (
      SELECT * FROM (VALUES
        {", ".join(f"({i + 1}, CAST({d!r} AS DOUBLE))" for i, d in enumerate(_NDCG_DISC))}
      ) AS t(rnk, disc)
    ),
    rel_tot AS (SELECT CAST(SUM(rel) AS BIGINT) AS r FROM ranked),
    dcg AS (
      SELECT {sql_exact_sum("rel * disc", 12)} AS dcg
      FROM ranked JOIN disc USING (rnk) WHERE rnk <= {_NDCG_K}
    ),
    idcg AS (
      SELECT {sql_exact_sum("disc", 12)} AS idcg
      FROM disc, rel_tot WHERE rnk <= LEAST(r, {_NDCG_K})
    )
    SELECT dcg.dcg AS dcg, idcg.idcg AS idcg,
           CAST(dcg.dcg / idcg.idcg AS DOUBLE) AS ndcg
    FROM dcg, idcg
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of brute-force cosine retrieval (query = vec_id 0) scored
    against label agreement — the ranking-quality twin of q_ann_recall.
    Discount factors 1/log2(i+1) are driver-rendered literals; DCG terms
    round to DECIMAL(18,12) before summing (≤10 terms, order-free); IDCG
    sums the first min(R, k) discounts where R = total relevant retrieved.
    The rank itself is the same guarded cosine ordering (nonzero/finite
    filter, vec_id tiebreak) the similarity batch pins. At scale the
    row_number window is bounded by top-k pre-selection — here the corpus
    ranking is small; a production run feeds this from q_similarity_topk's
    TakeOrdered output."""
    nz = _nonzero(load_table(spark, sf_dir, "embeddings"))
    q = (
        nz.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qe"), F.col("label").alias("ql"))
    )
    cand = nz.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = _dot("embedding", "qe") / (
        F.sqrt(_dot("embedding", "embedding")) * F.sqrt(_dot("qe", "qe"))
    )
    ranked = cand.select(
        F.row_number()
        .over(Window.orderBy(cos.desc(), F.col("vec_id")))
        .alias("rnk"),
        F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
    )
    disc = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_NDCG_DISC)], "rnk int, disc double"
    )
    rel_tot = ranked.agg(F.sum("rel").alias("r"))
    dcg = (
        ranked.filter(F.col("rnk") <= _NDCG_K)
        .join(F.broadcast(disc), "rnk")
        .agg(
            exact_sum(F.col("rel") * F.col("disc"), 12)
            .alias("dcg")
        )
    )
    idcg = (
        disc.crossJoin(F.broadcast(rel_tot))
        .filter(F.col("rnk") <= F.least(F.col("r"), F.lit(_NDCG_K)))
        .agg(exact_sum(F.col("disc"), 12).alias("idcg"))
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select("dcg", "idcg", (F.col("dcg") / F.col("idcg")).alias("ndcg"))
    )


# ---------------------------------------------------------------------------
# q_cramers_v — contingency chi-square + Cramér's V on an ordered fold
# ---------------------------------------------------------------------------
@register(
    "q_cramers_v",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7)
                  AS BIGINT) AS dow
      FROM events
    ),
    o AS (
      SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
      FROM ev GROUP BY event_type, dow
    ),
    r AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS r FROM ev GROUP BY 1),
    c AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
    grid AS (
      SELECT r.event_type, c.dow, r.r, c.c, tot.n,
             COALESCE(o.o, 0) AS o
      FROM r CROSS JOIN c CROSS JOIN tot
      LEFT JOIN o ON o.event_type = r.event_type AND o.dow = c.dow
    ),
    terms AS (
      SELECT n,
             CAST((o * n - r * c) * (o * n - r * c) AS DOUBLE)
               / (CAST(n AS DOUBLE) * r * c) AS term,
             event_type, dow
      FROM grid
    ),
    folded AS (
      SELECT n,
             list_reduce(
               list_prepend(0.0, list(term ORDER BY event_type, dow)),
               (a, b) -> a + b) AS chi2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_cols
      FROM terms GROUP BY n
    )
    SELECT n, n_rows, n_cols, chi2,
           sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1))) AS cramers_v
    FROM folded
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way contingency chi-square (event_type × day-of-week) with
    Cramér's V — the effect-size companion to q_chi_square's
    goodness-of-fit: V = sqrt(chi2 / (n·min(r−1, c−1))) in [0, 1] says
    HOW associated the two categoricals are, comparable across table
    sizes. Exactness discipline: each cell's term uses the integer
    numerator (o·n − r·c)² over the exact marginal product (DECIMAL past
    ~10^9-row marginals), empty cells enter via the dense marginal grid
    (they contribute r·c/n² — dropping them biases chi2 low), and the
    35 float terms fold in ONE PINNED ORDER on both engines (Spark
    aggregate / DuckDB list_reduce over the (event_type, dow)-sorted
    list — the similarity batch's dot-product rule), so the sum is
    bitwise-identical; sqrt is one correctly-rounded op. Plan: three
    hash aggregates + bounded grid joins; nothing scales past the
    category cardinalities."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) % 7)
        .cast("long")
        .alias("dow"),
    )
    o = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    r = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("r"))
    c = ev.groupBy("dow").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(tot))
        .join(o, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "r",
            "c",
        )
    )
    num = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    terms = grid.select(
        "n",
        "event_type",
        "dow",
        ((num * num).cast("double") / (F.col("n").cast("double") * F.col("r") * F.col("c"))).alias(
            "term"
        ),
    )
    folded = terms.groupBy("n").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("event_type", "dow", "term"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2"),
        F.count_distinct("event_type").cast("long").alias("n_rows"),
        F.count_distinct("dow").cast("long").alias("n_cols"),
    )
    return folded.select(
        "n",
        "n_rows",
        "n_cols",
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (F.col("n") * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1))
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q_bootstrap_ci — deterministic Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------
_BOOT_B = 32  # resamples; 4 per md5 call (32-bit hex slices), 8 md5s per row

# Poisson(1) inverse-CDF thresholds, computed once in Python and rendered
# as literals into BOTH plans (the _bm25_idf convention): weight w is the
# smallest k with cumulative P(X<=k) > u. Tail capped at 9 (P ~ 1e-7).
_POIS_CUM = []
_acc, _term = 0.0, math.exp(-1.0)
for _k in range(9):
    _acc += _term
    _POIS_CUM.append(_acc)
    _term /= _k + 1


def _pois_w_sql(u: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {u} <= {c!r} THEN {k}" for k, c in enumerate(_POIS_CUM)
        )
        + " ELSE 9 END"
    )


# hex slice [o, o+8) of an md5 string -> uniform in [0, 1): 32 bits of
# resolution (2.3e-10, far below the 1e-7 threshold gaps). `h` and `o` are
# SQL expressions, positions are rendered literals.
_SQL_HEX = "0123456789abcdef"


def _sql_hexslice_u(h: str, o: str) -> str:
    terms = " + ".join(
        f"(strpos('{_SQL_HEX}', substr({h}, ({o}) + {p}, 1)) - 1) "
        f"* {16 ** (7 - p)}"
        for p in range(8)
    )
    return f"(({terms}) / 4294967296.0)"


# ---------------------------------------------------------------------------
# round-12 Arrow draw kernel (optimization guide §4.2): the hash-draw
# fan-out these resampling queries share — explode × B rows, one
# conv(hex-slice) per draw — dominated their task time. Measured at
# sf0.1 (single-task kernel, min-of-3): md5×8/row 1.3 s, +32 hex
# substrings 2.1 s, +posexplode 2.4 s, +conv 5.1 s — conv alone is
# bigger than the md5s, and JVM-expression replacements (ascii/instr
# digit parses) measured SLOWER (6.8/8.5 s). The fix moves the kernel
# into a vectorized mapInPandas stage: hashlib's md5 DIGEST BYTES are
# the same bits the hex path sliced — conv(substring(hex, 8i+1, 8),
# 16, 10) == big-endian uint32 of digest[4i:4i+4] — so the uniforms
# are BIT-IDENTICAL (u = uint32 / 2^32, both exact in float64); the
# Poisson inverse-CDF CASE chain is np.searchsorted over the same
# literal thresholds (same <= tie rule); and only per-batch PARTIAL
# AGGREGATES at (group, b) grain cross the Arrow boundary back (guide
# §2.3 "aggregate before you shuffle") — int64 sums of int64, so batch
# boundaries cannot change the final aggregate. Verified frame-identical
# vs the retired JVM chain at sf0.1 and oracle-green at 3 SFs. The
# oracles are untouched: the draw function itself never changed.
# ---------------------------------------------------------------------------


def _md5_u32_rows(ids, n_md5: int, sep: str):
    """len(ids) × 4·n_md5 float64 uniforms: md5(f"{id}{sep}{j}") for
    j < n_md5, each digest yielding four big-endian 32-bit slices / 2^32
    — bit-identical to the conv(substring(md5_hex, 8i+1, 8), 16, 10) /
    4294967296.0 chain the JVM plans used."""
    import hashlib

    import numpy as np

    md5 = hashlib.md5
    join = b"".join
    sufs = [f"{sep}{j}".encode() for j in range(n_md5)]
    out = np.empty((len(ids), 4 * n_md5), dtype=np.float64)
    for r, s in enumerate(ids):
        e = s.encode()
        out[r] = np.frombuffer(
            join(md5(e + suf).digest() for suf in sufs), dtype=">u4"
        )
    out /= 4294967296.0
    return out


def _boot_partials(batches):
    """(event_type, b, Σ w·vc, Σ w) partials per Arrow batch for
    q_bootstrap_ci. Exactness bound: per-batch Σ w·vc ≤ 9 · max|vc| ·
    batch_rows — int64 throughout, far under 2^63."""
    import numpy as np
    import pandas as pd

    cum = np.asarray(_POIS_CUM, dtype=np.float64)
    brange = np.arange(_BOOT_B, dtype=np.int32)
    for pdf in batches:
        if pdf.empty:
            continue
        u = _md5_u32_rows(pdf["eid"].tolist(), _BOOT_B // 4, "#")
        wmat = np.searchsorted(cum, u, side="left").astype(np.int64)
        vc = pdf["vc"].to_numpy(dtype=np.int64)
        codes, uniq = pd.factorize(pdf["event_type"], use_na_sentinel=False)
        et_out, b_out, swc_out, nw_out = [], [], [], []
        for t, et in enumerate(uniq):
            rows = codes == t
            wt = wmat[rows]
            et_out.extend([et] * _BOOT_B)
            b_out.append(brange)
            swc_out.append((wt * vc[rows, None]).sum(axis=0))
            nw_out.append(wt.sum(axis=0))
        yield pd.DataFrame(
            {
                "event_type": et_out,
                "b": np.concatenate(b_out),
                "swc": np.concatenate(swc_out),
                "nw": np.concatenate(nw_out),
            }
        )


def _perm_partials(batches):
    """(b, Σ cents·side₀, n₀, Σ cents·side₁, n₁) partials per Arrow batch
    for q_permutation_test — side 1 iff u ≥ 0.5 (the JVM chain's
    when(u < 0.5, 0).otherwise(1))."""
    import numpy as np
    import pandas as pd

    brange = np.arange(_PERM_B, dtype=np.int32)
    for pdf in batches:
        if pdf.empty:
            continue
        u = _md5_u32_rows(pdf["uid"].tolist(), _PERM_B // 4, "~")
        side1 = u >= 0.5
        cents = pdf["cents"].to_numpy(dtype=np.int64)
        s1 = (side1 * cents[:, None]).sum(axis=0)
        n1 = side1.sum(axis=0).astype(np.int64)
        yield pd.DataFrame(
            {
                "b": brange,
                "s0": int(cents.sum()) - s1,
                "n0": len(pdf) - n1,
                "s1": s1,
                "n1": n1,
            }
        )


def _fdr_partials(batches):
    """(event_type, b, s0, n0, s1, n1) partials per Arrow batch for
    q_fdr_screen. b = -1 carries the observed cohort split; draws are
    keyed on user_id alone, so each unique user in the batch hashes ONCE
    (the JVM chain re-hashed per (type, user) row — md5(user~j) is
    deterministic, so the cached matrix is value-identical)."""
    import numpy as np
    import pandas as pd

    bvals = np.arange(-1, _PERM_B, dtype=np.int32)
    for pdf in batches:
        if pdf.empty:
            continue
        ucodes, uuniq = pd.factorize(pdf["uid"])
        u = _md5_u32_rows(list(uuniq), _PERM_B // 4, "~")
        side1 = np.concatenate(
            [
                (pdf["cohort"].to_numpy(dtype=np.int64) == 1)[:, None],
                (u >= 0.5)[ucodes],
            ],
            axis=1,
        )
        cents = pdf["cents"].to_numpy(dtype=np.int64)
        codes, uniq = pd.factorize(pdf["event_type"], use_na_sentinel=False)
        frames = []
        for t, et in enumerate(uniq):
            rows = codes == t
            sd = side1[rows]
            c = cents[rows]
            s1 = (sd * c[:, None]).sum(axis=0)
            n1 = sd.sum(axis=0).astype(np.int64)
            frames.append(
                pd.DataFrame(
                    {
                        "event_type": et,
                        "b": bvals,
                        "s0": int(c.sum()) - s1,
                        "n0": len(c) - n1,
                        "s1": s1,
                        "n1": n1,
                    }
                )
            )
        yield pd.concat(frames, ignore_index=True)


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc, jj.j,
             md5(event_id || '#' || jj.j) AS h
      FROM events, unnest(range(0, {_BOOT_B // 4})) AS jj(j)
    ),
    draws AS (
      SELECT event_type, vc, (j * 4 + ii.i) AS b,
             {_sql_hexslice_u('h', 'ii.i * 8 + 1')} AS u
      FROM hashed, unnest(range(0, 4)) AS ii(i)
    ),
    weighted AS (
      SELECT event_type, b, vc,
             {_pois_w_sql('u')} AS w
      FROM draws
    ),
    resample_means AS (
      SELECT event_type, b,
             CAST(SUM(w * vc) AS DOUBLE) / 100.0 / SUM(w) AS m
      FROM weighted GROUP BY event_type, b
      HAVING SUM(w) > 0
    ),
    point AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             {sql_exact_sum("value", 6)} / COUNT(*)
               AS mean_value
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.n_events, p.mean_value,
           quantile_disc(r.m, 0.05) AS boot_lo,
           quantile_disc(r.m, 0.95) AS boot_hi
    FROM point p JOIN resample_means r USING (event_type)
    GROUP BY p.event_type, p.n_events, p.mean_value
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for each group's mean — THE
    at-scale bootstrap (Chamandy et al., 'Estimating Uncertainty for
    Massive Data Streams', Google 2012): instead of resampling n rows
    with replacement (a global operation), each row independently enters
    resample b with Poisson(1) multiplicity, which matches multinomial
    resampling to O(1/n) and is embarrassingly parallel. Determinism:
    the multiplicity is the Poisson inverse-CDF of a hash-uniform draw —
    no PRNG, re-runs byte-identical, and the SAME literal thresholds
    render into both engines (the q_global_shuffle / BM25-constant
    convention). One md5 yields FOUR independent 32-bit uniforms (8-hex
    slices), so each row hashes {b}/4 times, not {b}. Round 12: the
    draw kernel (md5 → uniform → Poisson weight → (group, b) partial
    sum) runs vectorized in _boot_partials (guide §4.2) — the JVM
    explode × conv chain it replaces measured 3.8 s at sf0.1 vs 1.7 s,
    with conv() alone costing more than the md5s; uniforms come from
    the same digest BYTES the hex path sliced, so every weight is
    bit-identical. Values ride as exact integer cents (the q_ols_group
    scaling convention): the resample sums are plain BIGINT — Σw·vc ≤
    9 · 33k · rows/group keeps 19 digits of headroom past a trillion
    rows per group — with ONE final double division. The CI picks
    positional members of the {b}-value resample distribution
    (percentile_disc — no interpolation). Plan: a map-side Arrow
    kernel emitting (group, b)-grain partials, one hash aggregate
    merging them, then a group-cardinality quantile — nothing crossing
    an exchange (or the Python boundary) scales past B x groups."""
    events = load_table(spark, sf_dir, "events")
    # round-12: the md5/conv/Poisson draw fan-out runs vectorized inside
    # _boot_partials (bit-identical uniforms from the digest bytes, see
    # the kernel block above); only (type, b)-grain int64 partials cross
    # the Arrow boundary, and this final aggregate merges them exactly.
    # round-13: the kernel's input is the raw single-row-group scan, so
    # the vectorized draw ran in ONE Python task; fan_out_scan
    # (operators/fanout.py) spreads the under-split scan to cluster
    # width. Partials are exact int64 sums keyed on (type, b) — row
    # placement cannot change the merged result. (q_permutation_test / q_fdr_screen keep
    # their shape: their kernel inputs are post-aggregate frames whose
    # 1-partition collapse happens at RUNTIME via AQE coalescing — the
    # static under-split check cannot see it, and an unconditional
    # exchange there would also tax the degraded-host configuration the
    # fan-out gate exists to protect.)
    parts = fan_out_scan(
        events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("vc"),
            F.col("event_id").cast("string").alias("eid"),
        )
    ).mapInPandas(_boot_partials, "event_type string, b int, swc long, nw long")
    resample_means = (
        parts.groupBy("event_type", "b")
        .agg(F.sum("swc").alias("swc"), F.sum("nw").alias("nw"))
        .filter(F.col("nw") > 0)
        .select(
            "event_type",
            (F.col("swc").cast("double") / 100.0 / F.col("nw")).alias("m"),
        )
    )
    point = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            exact_sum(F.col("value"), 6)
            / F.count(F.lit(1))
        ).alias("mean_value"),
    )
    point.join(resample_means, "event_type").createOrReplaceTempView("__boot_ci")
    return spark.sql(
        """
        SELECT event_type, n_events, mean_value,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY m) AS boot_lo,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY m) AS boot_hi
        FROM __boot_ci
        GROUP BY event_type, n_events, mean_value
        """
    )


q_bootstrap_ci.__doc__ = q_bootstrap_ci.__doc__.format(b=_BOOT_B)


# ---------------------------------------------------------------------------
# q_pass_at_k — the unbiased pass@k estimator over per-user attempt sets
# ---------------------------------------------------------------------------
_PASS_K = 3
_PASS_MIN_N = _PASS_K  # the estimator needs at least k attempts


@register(
    "q_pass_at_k",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_attempts,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_correct
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_attempts, n_correct,
           CASE WHEN n_attempts - n_correct < {_PASS_K} THEN 1.0
                ELSE 1.0 - ({' * '.join(f'(CAST(n_attempts - n_correct - {i} AS DOUBLE) / CAST(n_attempts - {i} AS DOUBLE))' for i in range(_PASS_K))})
           END AS pass_at_k
    FROM per_user
    WHERE n_attempts >= {_PASS_MIN_N}
    """,
)
def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, Codex eval,
    eq. 1): given n sampled attempts of which c succeed, pass@k =
    1 − C(n−c, k)/C(n, k) — the probability that at least one of k drawn
    attempts succeeds. THE headline metric of every LLM eval harness,
    here per user over the events stream with 'purchase' as success
    (k = {k}); the plumbing is the point — per-task attempt/success
    counting at corpus scale.

    Scale shape: ONE hash aggregate (conditional count rides the same
    pass), then a per-row closed form; no second pass, no join.
    Determinism: the binomial ratio telescopes to k factors
    (n−c−i)/(n−i), evaluated as the SAME left-to-right double product in
    both engines — never as factorials (which overflow) nor lgamma
    (libm). The n−c < k branch pins the combinatorial zero exactly."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_attempts"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("long")
            .alias("n_correct"),
        )
        .filter(F.col("n_attempts") >= _PASS_MIN_N)
    )
    nf = F.col("n_attempts")
    cf = F.col("n_correct")
    prod = F.lit(1.0)
    for i in range(_PASS_K):
        prod = prod * (
            (nf - cf - F.lit(i)).cast("double") / (nf - F.lit(i)).cast("double")
        )
    return per_user.select(
        "user_id",
        "n_attempts",
        "n_correct",
        F.when(nf - cf < _PASS_K, F.lit(1.0))
        .otherwise(F.lit(1.0) - prod)
        .alias("pass_at_k"),
    )


q_pass_at_k.__doc__ = q_pass_at_k.__doc__.format(k=_PASS_K)


# ---------------------------------------------------------------------------
# q_permutation_test — user-level randomization test for the cohort metric
# ---------------------------------------------------------------------------
_PERM_B = 128  # permutations; p-value resolution 1/(B+1)


@register(
    "q_permutation_test",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             (user_id % 2) AS cohort
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(SUM(CASE WHEN cohort = 0 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN cohort = 1 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS t_obs
      FROM per_user
    ),
    hashed AS (
      SELECT user_id, cents, jj.j,
             md5(user_id || '~' || jj.j) AS h
      FROM per_user, unnest(range(0, {_PERM_B // 4})) AS jj(j)
    ),
    draws AS (
      SELECT user_id, cents, (j * 4 + ii.i) AS b,
             CASE WHEN {_sql_hexslice_u('h', 'ii.i * 8 + 1')} < 0.5
                  THEN 0 ELSE 1 END AS side
      FROM hashed, unnest(range(0, 4)) AS ii(i)
    ),
    perms AS (
      SELECT b,
             CAST(SUM(CASE WHEN side = 0 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN side = 1 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS t_b
      FROM draws GROUP BY b
      HAVING SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) > 0
    )
    SELECT obs.t_obs / 100.0 AS t_obs_usd,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(COUNT(*) FILTER (WHERE abs(t_b) >= abs(obs.t_obs)) AS BIGINT)
             AS n_extreme,
           (1.0 + COUNT(*) FILTER (WHERE abs(t_b) >= abs(obs.t_obs)))
             / (1.0 + COUNT(*)) AS p_value
    FROM perms, obs
    GROUP BY obs.t_obs
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the A/B metric (difference of per-user mean
    spend between the hash cohorts): re-randomize the USER-level
    assignment {b} times and report how often a permuted |T| reaches the
    observed one — the assumption-free companion to q_ab_welch (no
    normality, no variance formula; randomization at the experiment's
    actual unit). p uses the add-one convention (Phipson & Smyth 2010),
    permutations with an empty side are dropped from the denominator.

    Determinism and scale follow q_bootstrap_ci exactly: assignments are
    hash-uniform draws (four 32-bit slices per md5, so each user hashes
    {b}/4 times), user values ride as exact integer cents, each T_b is a
    closed form over BIGINT conditional sums, and the plan is per-user
    aggregate → vectorized Arrow draw kernel emitting b-grain int64
    partials (_perm_partials; round 12, guide §4.2 — replaces the
    {b}x explode + conv chain with bit-identical draws from the digest
    bytes) → hash aggregate on b → one scalar rollup. Nothing scales
    past B x users; the observed statistic is the same closed form both
    engines evaluate bitwise-identically."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"),
    ).withColumn("cohort", F.col("user_id") % 2)

    def side_mean(side_col: Column, side: int) -> Column:
        s = F.sum(F.when(side_col == side, F.col("cents")).otherwise(0)).cast(
            "double"
        )
        n = F.sum(F.when(side_col == side, 1).otherwise(0))
        return s / n

    obs = per_user.agg(
        (side_mean(F.col("cohort"), 0) - side_mean(F.col("cohort"), 1)).alias(
            "t_obs"
        )
    )
    # round-12: draw fan-out vectorized in _perm_partials (bit-identical
    # sides from the md5 digest bytes; B-grain int64 partials cross the
    # Arrow boundary instead of users × B exploded rows — kernel block
    # above). The final per-b sums, casts and divisions are the same
    # expressions the exploded plan aggregated.
    parts = per_user.select(
        F.col("user_id").cast("string").alias("uid"), "cents"
    ).mapInPandas(_perm_partials, "b int, s0 long, n0 long, s1 long, n1 long")
    perms = (
        parts.groupBy("b")
        .agg(
            F.sum("s0").alias("s0"),
            F.sum("n0").alias("n0"),
            F.sum("s1").alias("s1"),
            F.sum("n1").alias("n1"),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "b",
            (
                F.col("s0").cast("double") / F.col("n0")
                - F.col("s1").cast("double") / F.col("n1")
            ).alias("t_b"),
            "n0",
            "n1",
        )
    )
    extreme = F.count_if(F.abs(F.col("t_b")) >= F.abs(F.col("t_obs")))
    return (
        perms.crossJoin(F.broadcast(obs))
        .groupBy("t_obs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_perms"),
            extreme.cast("long").alias("n_extreme"),
            (
                (F.lit(1.0) + extreme) / (F.lit(1.0) + F.count(F.lit(1)))
            ).alias("p_value"),
        )
        .select(
            (F.col("t_obs") / 100.0).alias("t_obs_usd"),
            "n_perms",
            "n_extreme",
            "p_value",
        )
    )


q_permutation_test.__doc__ = q_permutation_test.__doc__.format(b=_PERM_B)


# ---------------------------------------------------------------------------
# q_anova_oneway — one-way ANOVA across order-priority groups
# ---------------------------------------------------------------------------
@register(
    "q_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)
                      * CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS q
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(s) AS BIGINT) AS st,
             CAST(SUM(q) AS BIGINT) AS qt,
             list_reduce(
               list(CAST(s AS DOUBLE) * s / n ORDER BY grp),
               (a, b) -> a + b
             ) AS group_ms
      FROM g
    )
    SELECT k, nt AS n_total,
           group_ms - CAST(st AS DOUBLE) * st / nt AS ss_between,
           CAST(qt AS DOUBLE) - group_ms AS ss_within,
           (group_ms - CAST(st AS DOUBLE) * st / nt)
             / (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / nt) AS eta_sq,
           ((group_ms - CAST(st AS DOUBLE) * st / nt) / (k - 1.0))
             / ((CAST(qt AS DOUBLE) - group_ms) / (nt - k)) AS f_stat
    FROM t
    """,
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the 5 priority groups —
    q_ab_welch's k-group generalization: the between/within sum-of-squares
    split, the effect size η² (variance explained by the grouping), and
    the F statistic. The decomposition identity SS_total = SS_between +
    SS_within is pinned by the invariant test.

    Determinism: per-group (n, Σx, Σx²) are exact BIGINT floor-dollar
    sums from ONE hash aggregate; the only cross-group float sum —
    Σ_g s_g²/n_g — runs as a sequential fold over the key-sorted group
    array (the q_neyman_allocation discipline), so every emitted double
    is reproducible. Plan: map-side-combinable aggregate to 5 rows, a
    5-element fold, one closed form."""
    orders = load_table(spark, sf_dir, "orders")
    usd = F.floor("o_totalprice").cast("long")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(usd).cast("long").alias("s"),
        F.sum(usd * usd).cast("long").alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("q").cast("long").alias("qt"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("grp", (F.col("s").cast("double") * F.col("s") / F.col("n")).alias("ms"))
                    )
                ),
                lambda x: x["ms"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("group_ms"),
    )
    k, nt = F.col("k"), F.col("nt")
    st, qt, gms = F.col("st"), F.col("qt"), F.col("group_ms")
    ssb = gms - st.cast("double") * st / nt
    ssw = qt.cast("double") - gms
    sst = qt.cast("double") - st.cast("double") * st / nt
    return t.select(
        "k",
        nt.alias("n_total"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        (ssb / sst).alias("eta_sq"),
        ((ssb / (k - F.lit(1.0))) / (ssw / (nt - k))).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# q_wilson_ci — score intervals for the reliability bands' pass rates
# ---------------------------------------------------------------------------
_WILSON_Z = 1.959963984540054  # 95% two-sided normal quantile, rendered


@register(
    "q_wilson_ci",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS BIGINT)
               AS hits
      FROM orders GROUP BY 1
    )
    SELECT grp, n, hits,
           CAST(hits AS DOUBLE) / n AS p_hat,
           (CAST(hits AS DOUBLE) / n + {_WILSON_Z!r} * {_WILSON_Z!r} / (2.0 * n)
             - {_WILSON_Z!r} * sqrt(
                 (CAST(hits AS DOUBLE) / n) * (1.0 - CAST(hits AS DOUBLE) / n) / n
                 + {_WILSON_Z!r} * {_WILSON_Z!r} / (4.0 * n * n)))
             / (1.0 + {_WILSON_Z!r} * {_WILSON_Z!r} / n) AS wilson_lo,
           (CAST(hits AS DOUBLE) / n + {_WILSON_Z!r} * {_WILSON_Z!r} / (2.0 * n)
             + {_WILSON_Z!r} * sqrt(
                 (CAST(hits AS DOUBLE) / n) * (1.0 - CAST(hits AS DOUBLE) / n) / n
                 + {_WILSON_Z!r} * {_WILSON_Z!r} / (4.0 * n * n)))
             / (1.0 + {_WILSON_Z!r} * {_WILSON_Z!r} / n) AS wilson_hi
    FROM g
    """,
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for each group's high-value-order rate —
    the binomial CI that behaves at the proportions where the Wald
    interval collapses (p near 0/1, small groups), which is exactly where
    rate metrics live. The z quantile is a rendered double literal, the
    counts are exact BIGINTs from one conditional aggregate, and both
    bounds are single fixed-shape closed forms — the q_power_analysis
    no-libm discipline applied to interval estimation."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("o_totalprice") > 150000.0).cast("long").alias("hits"),
    )
    n = F.col("n")
    p = F.col("hits").cast("double") / n
    z = F.lit(_WILSON_Z)
    z2 = z * z
    center = p + z2 / (F.lit(2.0) * n)
    half = z * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
    denom = F.lit(1.0) + z2 / n
    return g.select(
        "grp",
        "n",
        "hits",
        p.alias("p_hat"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# q_fdr_screen — per-type permutation tests under Benjamini-Hochberg FDR
# ---------------------------------------------------------------------------
_FDR_ALPHA_SQL = "1.0e-1"  # parses as DOUBLE in both engines (bare 0.1 is
_FDR_ALPHA = 0.1  # DECIMAL in DuckDB, which would change the arithmetic)


@register(
    "q_fdr_screen",
    oracle=f"""
    WITH per_ut AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             (user_id % 2) AS cohort
      FROM events GROUP BY event_type, user_id
    ),
    obs AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN cohort = 0 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN cohort = 1 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS t_obs
      FROM per_ut GROUP BY event_type
      HAVING SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) > 0
    ),
    hashed AS (
      SELECT event_type, user_id, cents, jj.j,
             md5(user_id || '~' || jj.j) AS h
      FROM per_ut, unnest(range(0, {_PERM_B // 4})) AS jj(j)
    ),
    draws AS (
      SELECT event_type, cents, (j * 4 + ii.i) AS b,
             CASE WHEN {_sql_hexslice_u('h', 'ii.i * 8 + 1')} < 0.5
                  THEN 0 ELSE 1 END AS side
      FROM hashed, unnest(range(0, 4)) AS ii(i)
    ),
    perms AS (
      SELECT event_type, b,
             CAST(SUM(CASE WHEN side = 0 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN side = 1 THEN cents ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS t_b
      FROM draws GROUP BY event_type, b
      HAVING SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) > 0
    ),
    pv AS (
      SELECT o.event_type, o.t_obs / 100.0 AS t_obs_usd,
             CAST(COUNT(*) AS BIGINT) AS n_perms,
             (1.0 + COUNT(*) FILTER (WHERE abs(p.t_b) >= abs(o.t_obs)))
               / (1.0 + COUNT(*)) AS p_value
      FROM perms p JOIN obs o USING (event_type)
      GROUP BY o.event_type, o.t_obs
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_value, event_type)
                  AS BIGINT) AS p_rank,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pv) AS m
      FROM pv
    ),
    kstar AS (
      SELECT COALESCE(MAX(CASE WHEN p_value <= p_rank * {_FDR_ALPHA_SQL} / m
                                THEN p_rank END), 0) AS k
      FROM ranked
    )
    SELECT event_type, t_obs_usd, n_perms, p_value, p_rank,
           p_rank * {_FDR_ALPHA_SQL} / m AS bh_threshold,
           CAST(p_rank <= k AS BIGINT) AS rejected
    FROM ranked, kstar
    """,
)
def q_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing screen: q_permutation_test's assumption-free A/B
    contrast run PER EVENT TYPE (one hypothesis per metric — the 'which
    of my m metrics moved' dashboard question), with the m p-values
    corrected by Benjamini-Hochberg step-up at FDR α={a}: reject every
    hypothesis ranked at or below the largest k with p_(k) ≤ kα/m.
    Per-type exact p-values would each be honest alone; reporting all m
    uncorrected is the classic false-discovery machine this op exists to
    prevent.

    Scale shape (round-7 shuffle diet — one shared pass, the
    q_dedup_weighted lesson applied to metrics): the OBSERVED cohort
    split rides the permutation draw kernel as pseudo-draw ``b = -1``
    (side = cohort), so obs and all B draws flow through ONE
    (type, b) hash aggregate instead of re-deriving the per-(type,user)
    cohort aggregate in a second branch (round 12: the draws themselves
    are vectorized in _fdr_partials — bit-identical, kernel block
    above); t_obs then reaches each
    permutation row via a metric-partitioned window max over the
    (m × B)-row aggregate — no join back. The BH step-up tail
    (rank, m, k*) is chained windows over the single m-row partition —
    no crossJoin(broadcast(scalar)) exchanges. Plan: 2 data-sized
    shuffles total (per-(type,user) agg; (type,b) agg with map-side
    partial), everything after is metric-grain. Determinism: p-values
    are exact add-one ratios of counts; the BH threshold kα/m is a
    fixed-shape double (α written as 1.0e-1 so DuckDB parses a DOUBLE,
    not a DECIMAL); ranks break p ties on event_type — a total order."""
    ev = load_table(spark, sf_dir, "events")
    per_ut = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .withColumn("cohort", F.col("user_id") % 2)
    )

    # per user: [(b=-1, side=cohort)] ++ B hash sign-draws — round 12:
    # vectorized in _fdr_partials (same draw function as
    # q_permutation_test, bit-identical from the md5 digest bytes, so the
    # oracle is unchanged); each unique user hashes ONCE per batch and
    # (type, b)-grain int64 partials replace the rows × (B+1) explode.
    parts = per_ut.select(
        "event_type",
        "cents",
        "cohort",
        F.col("user_id").cast("string").alias("uid"),
    ).mapInPandas(
        _fdr_partials,
        "event_type string, b int, s0 long, n0 long, s1 long, n1 long",
    )
    perms = (
        parts.groupBy("event_type", "b")
        .agg(
            F.sum("s0").alias("s0"),
            F.sum("n0").alias("n0"),
            F.sum("s1").alias("s1"),
            F.sum("n1").alias("n1"),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "event_type",
            "b",
            (
                F.col("s0").cast("double") / F.col("n0")
                - F.col("s1").cast("double") / F.col("n1")
            ).alias("t_b"),
        )
    )
    # t_obs (the b = -1 row) broadcast within each metric partition; a
    # metric whose observed split lacks a cohort side has no b = -1 row
    # (the HAVING above) and drops entirely — the oracle's inner join
    w_type = Window.partitionBy("event_type")
    with_obs = perms.withColumn(
        "t_obs", F.max(F.when(F.col("b") == -1, F.col("t_b"))).over(w_type)
    ).filter(F.col("t_obs").isNotNull() & (F.col("b") >= 0))
    pv = (
        with_obs.groupBy("event_type", "t_obs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_perms"),
            F.count(
                F.when(F.abs(F.col("t_b")) >= F.abs(F.col("t_obs")), 1)
            )
            .cast("long")
            .alias("n_extreme"),
        )
        .select(
            "event_type",
            (F.col("t_obs") / 100.0).alias("t_obs_usd"),
            "n_perms",
            (
                (1.0 + F.col("n_extreme")) / (1.0 + F.col("n_perms"))
            ).alias("p_value"),
        )
    )
    # BH step-up over the m-row table: rank, m, and k* are chained
    # windows on ONE single-row-group partition (m is metric cardinality)
    w_rank = Window.orderBy("p_value", "event_type")
    w_all = Window.partitionBy()
    thr = F.col("p_rank") * F.lit(_FDR_ALPHA) / F.col("m")
    ranked = (
        pv.withColumn("p_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("m", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn(
            "k",
            F.coalesce(
                F.max(F.when(F.col("p_value") <= thr, F.col("p_rank"))).over(
                    w_all
                ),
                F.lit(0),
            ),
        )
    )
    return ranked.select(
        "event_type",
        "t_obs_usd",
        "n_perms",
        "p_value",
        "p_rank",
        thr.alias("bh_threshold"),
        (F.col("p_rank") <= F.col("k")).cast("long").alias("rejected"),
    )


q_fdr_screen.__doc__ = q_fdr_screen.__doc__.format(a=_FDR_ALPHA)


# ---------------------------------------------------------------------------
# q_err_eval — Expected Reciprocal Rank (cascade click model) @ K
# ---------------------------------------------------------------------------
_ERR_K = 10


@register(
    "q_err_eval",
    oracle=f"""
    WITH {_SQL_NZ_CTE},
    q AS (SELECT embedding AS qe, label AS ql FROM nz WHERE vec_id = 0),
    ranked AS (
      SELECT row_number() OVER (
               ORDER BY {_sql_cos('e.embedding', 'q.qe')} DESC, e.vec_id
             ) AS rnk,
             CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel
      FROM nz e, q WHERE e.vec_id <> 0
    ),
    hits AS (
      SELECT rnk,
             CAST(row_number() OVER (ORDER BY rnk) AS BIGINT) AS j
      FROM ranked WHERE rel = 1 AND rnk <= {_ERR_K}
    ),
    terms AS (
      SELECT rnk, j, (1.0 / (CAST(1 AS BIGINT) << j)) / rnk AS term
      FROM hits
    )
    SELECT COALESCE(
             (SELECT list_reduce(list(term ORDER BY rnk), (a, b) -> a + b)
              FROM terms), 0.0) AS err,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_rel_topk,
           (SELECT MIN(rnk) FROM hits) AS first_rel_rank
    """,
)
def q_err_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank @ {k} for the same cosine ranking q_ndcg
    grades: the cascade click model (Chapelle et al. 2009) — a user scans
    down the list and stops at each relevant result with probability ½
    (binary relevance), so ERR = Σ_j 2^{{-j}} / rank_j over the relevant
    items in rank order. Position-steeper than NDCG (a relevant item
    behind another relevant item is worth half as much), completing the
    IR-metric set: recall (q_ann_recall) → NDCG → MRR → ERR.

    Determinism: with binary relevance every term is (1 / 2^j) / rank —
    two exactly-representable-divisor divisions of exact integers (the
    2^j power is an INTEGER SHIFT, not library pow) — and the ≤{k}-term
    sum is a SEQUENTIAL FOLD in rank order. Same bounded ranking window
    note as q_ndcg: production feeds this from the TakeOrdered top-k."""
    nz = _nonzero(load_table(spark, sf_dir, "embeddings"))
    q = nz.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("label").alias("ql")
    )
    cand = nz.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = _dot("embedding", "qe") / (
        F.sqrt(_dot("embedding", "embedding")) * F.sqrt(_dot("qe", "qe"))
    )
    ranked = cand.select(
        F.row_number()
        .over(Window.orderBy(cos.desc(), F.col("vec_id")))
        .alias("rnk"),
        F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
    )
    hits = (
        ranked.filter((F.col("rel") == 1) & (F.col("rnk") <= _ERR_K))
        .select(
            "rnk",
            F.row_number().over(Window.orderBy("rnk")).cast("long").alias("j"),
        )
    )
    term = (
        F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")
    ) / F.col("rnk")
    return hits.agg(
        F.coalesce(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rnk", term.alias("t")))
                    ),
                    lambda x: x["t"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
            F.lit(0.0),
        ).alias("err"),
        F.count(F.lit(1)).cast("long").alias("n_rel_topk"),
        F.min("rnk").alias("first_rel_rank"),
    )


q_err_eval.__doc__ = q_err_eval.__doc__.format(k=_ERR_K)
