"""Model-based and rule-based corpus quality scoring, plus the cross-modal
metadata join.

Operators completing the quality-filter family (q_quality_score's
ratio features, q_quality_classifier's hashed linear model,
q_repetition_score's n-gram repetition):

- q_gopher_rules — the Gopher-style *rule battery*: per-document word-count
  bounds, mean-word-length bounds, top-word-dominance cap and stopword
  presence, each emitted as a flag plus the overall verdict. This is the
  filter stack real curation pipelines run before any model-based scoring
  (generalizes the reference's V-GATE row-quality gate,
  /root/reference/scrapper.py:150-153, from schema validity to content
  quality).
- q_unigram_lm — a corpus-trained unigram language model scoring each
  document by its mean add-one-smoothed token probability. The train step
  is ONE hash aggregate over the corpus (token -> count); scoring is a
  broadcast join back. Kept in probability space with exact integer
  arithmetic — Σ(count+1) per doc as BIGINT, ONE final double division —
  because log-domain scoring (ln/log2) is not correctly rounded by either
  engine's libm and 1-ulp divergence would break bitwise reproducibility
  across engines/runs (same policy as the DECIMAL-sum rule, SURVEY.md §5.1).

Scale notes:
- q_gopher_rules is pure scan-side expression work (WholeStageCodegen, no
  shuffle, no Python). The top-word count is an O(unique·tokens) per-row
  fold — fine for web-document token counts (10^2-10^4); for book-length
  rows the explode+count formulation below (q_unigram_lm's shape) is the
  fallback.
- q_unigram_lm shuffles twice (token-count aggregate; per-doc regroup).
  The vocab-side join carries NO broadcast hint: a 10^7-10^8-term vocab is
  ~1 GB — at the edge of broadcastability — so AQE picks broadcast vs
  shuffle from the *measured* vocab size (broadcast at every test SF); the
  corpus side never shuffles more than (doc_id, token) pairs.
- q_modal_join (text metadata ↔ embedding labels) is one equi-join shuffle
  on the shared document key; warehouse deployments bucket both tables on
  that key, making it a zero-shuffle local merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.portable import sql_tokens, tokens
from ..registry import register
from ..sources.parquet import load_table
from .textstats import _SQL_QC_SCORE_MILLI, qc_score_milli

# Rule thresholds, chosen to discriminate on the synthetic corpus (observed
# at sf0.01: n_words 10..99 with quartiles 32/76, mean word length
# 3.71..5.30, top-word fraction ≤ 0.30 with median 0.093). Production
# pipelines tune these per-source; Gopher's originals are 50..100k words,
# mean word length 3..10, etc.
_MIN_WORDS = 20
_MAX_WORDS = 90
_MIN_MWL = 3.8
_MAX_MWL = 5.0
_MAX_TOP_FRAC = 0.12
_STOPWORDS = ["the", "a"]


def _top_count(toks: Column) -> Column:
    """Occurrence count of the most frequent token — longest equal run of the
    SORTED token array, one O(n log n) sort + one O(n) fold per row. The
    naive form (per-distinct-token containment scans) is O(unique·tokens)
    and, because higher-order-function lambdas evaluate interpreted (outside
    WholeStageCodegen), measured 3× slower at sf0.1 — and quadratically
    worse on large-vocabulary documents. Same integer as the oracle's
    list_max-of-counts formulation. No shuffle, no Python."""
    sorted_toks = F.sort_array(toks)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_toks, acc0, merge, lambda acc: acc["best"])


_SQL_TOP_COUNT = (
    "list_max(list_transform(list_distinct(toks), "
    "t -> len(list_filter(toks, x -> x = t))))"
)

_SQL_STOPS = ", ".join(f"'{s}'" for s in _STOPWORDS)


# Full Gopher-battery oracle — shared verbatim by q_gopher_rules and (as
# a nested CTE) by q_classifier_reliability's label derivation, so the
# rule thresholds can never fork between uses.
_SQL_GOPHER = f"""
    WITH tok AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    m AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, t -> len(t))) / len(toks)
               AS mean_word_len,
             {_SQL_TOP_COUNT} / CAST(len(toks) AS DOUBLE) AS top_word_frac,
             CAST(len(list_filter(list_distinct(toks),
                                  t -> t IN ({_SQL_STOPS}))) AS BIGINT)
               AS stop_hits
      FROM tok
    )
    SELECT doc_id, lang, n_words, mean_word_len, top_word_frac, stop_hits,
           CASE WHEN n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                THEN 1 ELSE 0 END AS pass_len,
           CASE WHEN mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}
                THEN 1 ELSE 0 END AS pass_mwl,
           CASE WHEN top_word_frac <= {_MAX_TOP_FRAC}
                THEN 1 ELSE 0 END AS pass_rep,
           CASE WHEN stop_hits >= 1 THEN 1 ELSE 0 END AS pass_stop,
           CASE WHEN n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                 AND mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}
                 AND top_word_frac <= {_MAX_TOP_FRAC}
                 AND stop_hits >= 1
                THEN 1 ELSE 0 END AS pass_all
    FROM m
    """


@register("q_gopher_rules", oracle=_SQL_GOPHER)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule battery, one scan, all native expressions.

    Float determinism: every ratio is ONE division of two exact integers
    (IEEE division is correctly rounded → bitwise-identical across engines);
    no float accumulation anywhere. Flags are emitted as INT (not BOOLEAN)
    so both engines canonicalize identically.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    m = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_words"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            / F.size(toks)
        ).alias("mean_word_len"),
        (_top_count(toks) / F.size(toks)).alias("top_word_frac"),
        F.size(
            F.filter(F.array_distinct(toks), lambda t: F.array_contains(stops, t))
        )
        .cast("long")
        .alias("stop_hits"),
    )
    pass_len = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    pass_mwl = F.col("mean_word_len").between(_MIN_MWL, _MAX_MWL)
    pass_rep = F.col("top_word_frac") <= _MAX_TOP_FRAC
    pass_stop = F.col("stop_hits") >= 1
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "mean_word_len",
        "top_word_frac",
        "stop_hits",
        pass_len.cast("int").alias("pass_len"),
        pass_mwl.cast("int").alias("pass_mwl"),
        pass_rep.cast("int").alias("pass_rep"),
        pass_stop.cast("int").alias("pass_stop"),
        (pass_len & pass_mwl & pass_rep & pass_stop).cast("int").alias("pass_all"),
    )


@register(
    "q_unigram_lm",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({sql_tokens('text')}) AS word
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY word),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_corpus, COUNT(*) AS v_vocab
      FROM counts
    ),
    per_doc AS (
      SELECT doc_id, lang, COUNT(*) AS n_toks,
             CAST(SUM(c + 1) AS BIGINT) AS s
      FROM tok JOIN counts USING (word)
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_toks,
           s / (n_toks * (n_corpus + v_vocab)) AS avg_prob
    FROM per_doc, tot
    """,
)
def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: train on the corpus (token counts), then
    score each document by its mean add-one-smoothed token probability
    mean_t (c_t + 1) / (N + V). High = common-word soup, low = rare-token
    noise; curation keeps the middle band.

    avg_prob = Σ(c_t + 1) / (n_toks · (N + V)) — numerator and denominator
    are exact BIGINTs, so the single double division is bitwise-identical
    in any engine (see module docstring for why not log-space).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("word")
    )
    counts = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(
        F.sum("c").cast("long").alias("n_corpus"),
        F.count(F.lit(1)).alias("v_vocab"),
    )
    # no broadcast() hint on the vocab side: a web-corpus vocab can exceed
    # broadcastability, and AQE already converts to broadcast-hash at
    # runtime when the MEASURED count table is small (it is, at every test
    # SF) — forcing the hint would pin an OOM at 100 TB instead
    per_doc = (
        tok.join(counts, "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.col("c") + 1).cast("long").alias("s"),
        )
    )
    return per_doc.join(broadcast(tot)).select(
        "doc_id",
        "lang",
        "n_toks",
        (
            F.col("s") / (F.col("n_toks") * (F.col("n_corpus") + F.col("v_vocab")))
        ).alias("avg_prob"),
    )


@register(
    "q_modal_join",
    oracle="""
    SELECT d.lang, e.label,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, e.label
    """,
)
def q_modal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal star join: text metadata ↔ embedding-space labels on the
    shared document key — the analysis joining an embedding clustering back
    to corpus metadata (label distribution per language). One equi-join
    shuffle on the key plus a hash aggregate; at warehouse scale both
    tables bucket on the shared key (plans/maintenance.py's clustering),
    making the join a zero-shuffle local merge. Integer-only aggregates →
    bitwise-stable across engines."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return (
        docs.join(emb, "doc_id")
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# Target language mix for q_mixing_weights (sums to 1.0; the five langs the
# synthetic corpus draws). Production reads this from run config.
_TARGET_MIX = [("en", 0.40), ("es", 0.20), ("fr", 0.15), ("de", 0.15), ("zh", 0.10)]

_TARGET_MIX_SQL = ", ".join(f"('{lang}', {w})" for lang, w in _TARGET_MIX)


@register(
    "q_mixing_weights",
    oracle=f"""
    WITH tok AS (
      SELECT lang, len({sql_tokens('text')}) AS n_toks
      FROM documents WHERE text IS NOT NULL
    ),
    actual AS (
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS lang_toks
      FROM tok GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(lang_toks) AS BIGINT) AS total_toks FROM actual)
    SELECT a.lang, a.n_docs, a.lang_toks,
           a.lang_toks / total_toks AS actual_share,
           CAST(t.share AS DOUBLE) AS target_share,
           (CAST(t.share AS DOUBLE) * total_toks) / a.lang_toks AS weight
    FROM actual a
    JOIN (VALUES {_TARGET_MIX_SQL}) AS t(lang, share) USING (lang),
         tot
    -- share is CAST to DOUBLE before the arithmetic: DuckDB's 0.15 literal
    -- is DECIMAL(3,2), and DECIMAL×BIGINT is EXACT (4190.70) where Spark's
    -- double 0.15×total is already rounded — a 1-ulp weight divergence
    -- (observed at sf0.001). Casting first makes both engines multiply the
    -- same binary double.
    """,
)
def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights: the per-language sampling multiplier that turns
    the corpus's ACTUAL token mix into a TARGET mix (weight > 1 → oversample,
    < 1 → downsample) — the static form of the mixture-reweighting step
    training pipelines run between curation and sharding (the learned
    variants, DoReMi-style, replace the target table with model feedback;
    the engine-side computation is identical).

    Plan: scan-side token counts → one per-lang hash aggregate (5 rows) →
    broadcast joins against the literal target mix and the 1-row total.
    Float determinism: actual_share is one int/int division; weight is
    (literal × BIGINT) / BIGINT — two correctly-rounded IEEE ops with
    identical operand order in both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select("lang", F.size(tokens(F.col("text"))).alias("n_toks"))
    actual = tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("lang_toks"),
    )
    tot = actual.agg(F.sum("lang_toks").cast("long").alias("total_toks"))
    target = spark.createDataFrame(_TARGET_MIX, "lang string, share double")
    return (
        actual.join(broadcast(target), "lang")
        .join(broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "lang_toks",
            (F.col("lang_toks") / F.col("total_toks")).alias("actual_share"),
            F.col("share").alias("target_share"),
            ((F.col("share") * F.col("total_toks")) / F.col("lang_toks")).alias(
                "weight"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_classifier_reliability — score-band calibration of the quality model
# ---------------------------------------------------------------------------
_REL_BAND_MILLI = 1000  # reliability band width: 1.0 score units


@register(
    "q_classifier_reliability",
    oracle=f"""
    WITH g AS ({_SQL_GOPHER}),
    c AS (
      SELECT doc_id, {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(floor(CAST(c.score_milli AS DOUBLE) / {_REL_BAND_MILLI})
                AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(g.pass_all) AS BIGINT) AS n_pass,
           CAST(SUM(g.pass_all) AS DOUBLE) / COUNT(*) AS pass_rate,
           CAST(SUM(c.score_milli) AS DOUBLE) / (COUNT(*) * 1000.0)
             AS mean_score
    FROM c JOIN g USING (doc_id)
    GROUP BY 1
    """,
)
def q_classifier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the hashed linear quality model: documents
    bucket by classifier score band, and each band reports how often the
    independent Gopher rule battery agrees (pass_rate) — the calibration
    curve that says whether a higher model score actually means a
    rule-cleaner document, evaluated WITHOUT held-out labels (the two
    scorers share no features: hashed token weights vs length/word-shape
    ratios). Both inputs are the factored single-source derivations
    (_SQL_QC_SCORE_MILLI, _SQL_GOPHER / their Spark twins), so the table
    can never drift from the scorers it audits. Everything is exact:
    integer milli-scores and 0/1 flags aggregate as BIGINTs, the two
    ratios are single correctly-rounded divisions. Plan: two scan-side
    scoring passes joined on doc_id (bucket both on doc_id at warehouse
    scale for a zero-shuffle merge), then a band-cardinality aggregate."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = docs.select("doc_id", qc_score_milli().alias("score_milli"))
    g = q_gopher_rules(spark, sf_dir).select("doc_id", "pass_all")
    joined = c.join(g, "doc_id")
    band = (
        F.floor(F.col("score_milli").cast("double") / F.lit(float(_REL_BAND_MILLI)))
        .cast("long")
        .alias("band")
    )
    return joined.groupBy(band).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pass_all").cast("long").alias("n_pass"),
        (
            F.sum("pass_all").cast("double") / F.count(F.lit(1))
        ).alias("pass_rate"),
        (
            F.sum("score_milli").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000.0))
        ).alias("mean_score"),
    )


# ---------------------------------------------------------------------------
# q_brier_decomposition — Murphy decomposition of the quality model's Brier
# ---------------------------------------------------------------------------
# milli-score -> milli-probability: clamp FIRST (so the integer division
# only ever sees a non-negative argument — Spark's DIV truncates toward
# zero where DuckDB's // floors, and they agree only for non-negatives),
# then an exact /4 rescale of [-2000, 2000] onto [0, 1000].
_BR_CLAMP = 2000
_BR_BIN = 100  # decile bins on the milli-probability


@register(
    "q_brier_decomposition",
    oracle=f"""
    WITH g AS ({_SQL_GOPHER}),
    c AS (
      SELECT doc_id, {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT c.doc_id,
             (least(greatest(c.score_milli, -{_BR_CLAMP}), {_BR_CLAMP})
              + {_BR_CLAMP}) // 4 AS p_milli,
             g.pass_all AS o
      FROM c JOIN g USING (doc_id)
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(o) AS BIGINT) AS n_pass_total
      FROM p
    ),
    bins AS (
      SELECT p_milli // {_BR_BIN} AS band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p_milli) AS BIGINT) AS sum_p_milli,
             CAST(SUM(o) AS BIGINT) AS n_pass,
             CAST(SUM((p_milli - 1000 * o) * (p_milli - 1000 * o))
                  AS BIGINT) AS sq_err_milli2
      FROM p GROUP BY 1
    )
    SELECT band, n_docs, sum_p_milli, n_pass,
           CAST(sum_p_milli AS DOUBLE) / (n_docs * 1000.0) AS mean_p,
           CAST(n_pass AS DOUBLE) / n_docs AS obs_rate,
           CAST(sq_err_milli2 AS DOUBLE) / (n_docs * 1000000.0)
             AS brier_bin,
           (CAST(sum_p_milli AS DOUBLE) / (n_docs * 1000.0)
              - CAST(n_pass AS DOUBLE) / n_docs)
           * (CAST(sum_p_milli AS DOUBLE) / (n_docs * 1000.0)
              - CAST(n_pass AS DOUBLE) / n_docs)
           * n_docs / n_total AS rel_term,
           (CAST(n_pass AS DOUBLE) / n_docs
              - CAST(n_pass_total AS DOUBLE) / n_total)
           * (CAST(n_pass AS DOUBLE) / n_docs
              - CAST(n_pass_total AS DOUBLE) / n_total)
           * n_docs / n_total AS res_term
    FROM bins, tot
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score
    against the Gopher rule battery (Brier = reliability − resolution +
    uncertainty): per probability-decile band, the bin's raw Brier mass
    and its reliability / resolution terms — the table behind an ECE-style
    'is the score a probability' audit, one level deeper than
    q_classifier_reliability's calibration curve (same factored scorers,
    so it can never drift from them).

    Determinism: the forecast is an exact INTEGER milli-probability
    (clamp-then-/4 of the milli-score, division only ever of a
    non-negative — Spark DIV vs DuckDB // agree there); every band
    statistic is a BIGINT sufficient sum (Σp, Σo, Σ(p−1000o)²,
    ≤ 10⁶·rows so no overflow until ~10¹² docs per band), and each
    output double is ONE fixed-shape expression of those exact integers.
    The per-BAND grain (11 bins) is what keeps the decomposition
    hash-exact — a scalar REL/RES would be an order-dependent float sum;
    consumers fold the bounded bins at read time. Plan: two scan-side
    scorers joined on doc_id, one band aggregate, one broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = docs.select("doc_id", qc_score_milli().alias("score_milli"))
    g = q_gopher_rules(spark, sf_dir).select("doc_id", F.col("pass_all").alias("o"))
    p = c.join(g, "doc_id").select(
        F.expr(
            f"(least(greatest(score_milli, -{_BR_CLAMP}), {_BR_CLAMP})"
            f" + {_BR_CLAMP}) DIV 4"
        ).alias("p_milli"),
        "o",
    )
    tot = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("o").cast("long").alias("n_pass_total"),
    )
    err = F.col("p_milli") - 1000 * F.col("o")
    bins = p.groupBy(F.expr(f"p_milli DIV {_BR_BIN}").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("p_milli").cast("long").alias("sum_p_milli"),
        F.sum("o").cast("long").alias("n_pass"),
        F.sum(err * err).cast("long").alias("sq_err_milli2"),
    )
    mean_p = F.col("sum_p_milli").cast("double") / (F.col("n_docs") * 1000.0)
    obs = F.col("n_pass").cast("double") / F.col("n_docs")
    obs_tot = F.col("n_pass_total").cast("double") / F.col("n_total")
    return bins.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_docs",
        "sum_p_milli",
        "n_pass",
        mean_p.alias("mean_p"),
        obs.alias("obs_rate"),
        (F.col("sq_err_milli2").cast("double") / (F.col("n_docs") * 1000000.0)).alias(
            "brier_bin"
        ),
        ((mean_p - obs) * (mean_p - obs) * F.col("n_docs") / F.col("n_total")).alias(
            "rel_term"
        ),
        ((obs - obs_tot) * (obs - obs_tot) * F.col("n_docs") / F.col("n_total")).alias(
            "res_term"
        ),
    )


# ---------------------------------------------------------------------------
# q_roc_points — exact ROC table for the quality classifier vs the rules
# ---------------------------------------------------------------------------
@register(
    "q_roc_points",
    oracle=f"""
    WITH g AS ({_SQL_GOPHER}),
    c AS (
      SELECT doc_id, {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT (least(greatest(c.score_milli, -{_BR_CLAMP}), {_BR_CLAMP})
              + {_BR_CLAMP}) // 4 AS p_milli,
             g.pass_all AS o
      FROM c JOIN g USING (doc_id)
    ),
    bands AS (
      SELECT p_milli // {_BR_BIN} AS band,
             CAST(SUM(o) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(o) AS BIGINT) AS neg
      FROM p GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg
      FROM bands
    ),
    cum AS (
      SELECT band, pos, neg,
             CAST(SUM(pos) OVER (ORDER BY band DESC) AS BIGINT) AS tp,
             CAST(SUM(neg) OVER (ORDER BY band DESC) AS BIGINT) AS fp
      FROM bands
    )
    SELECT band AS threshold_band, tp, fp,
           CAST(tp AS DOUBLE) / n_pos AS tpr,
           CAST(fp AS DOUBLE) / n_neg AS fpr,
           CAST(tp AS DOUBLE) / n_pos - CAST(fp AS DOUBLE) / n_neg
             AS youden_j
    FROM cum, tot
    WHERE n_pos > 0 AND n_neg > 0
    """,
)
def q_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC operating points for the quality classifier against the
    Gopher rule battery — one row per decile threshold band ('keep every
    doc scoring ≥ this band'), with TPR, FPR and Youden's J (the
    threshold picker). Ties q_auc_rank (the curve's area), the
    reliability table (calibration) and the Brier decomposition
    (accuracy) into the piece a curation pipeline actually consumes: WHICH
    cutoff to run.

    Scale shape: same banded probability as q_brier_decomposition (exact
    integer milli-p), so the corpus pays the two scorer scans once more
    and then an 11-row band aggregate; the cumulative TP/FP run as a
    window over those 11 rows (never over documents). All counts exact
    BIGINTs via the unique band key; ratios are single divisions."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = docs.select("doc_id", qc_score_milli().alias("score_milli"))
    g = q_gopher_rules(spark, sf_dir).select("doc_id", F.col("pass_all").alias("o"))
    p = c.join(g, "doc_id").select(
        F.expr(
            f"(least(greatest(score_milli, -{_BR_CLAMP}), {_BR_CLAMP})"
            f" + {_BR_CLAMP}) DIV 4"
        ).alias("p_milli"),
        "o",
    )
    bands = p.groupBy(F.expr(f"p_milli DIV {_BR_BIN}").alias("band")).agg(
        F.sum("o").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("o")).cast("long").alias("neg"),
    )
    tot = bands.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
    )
    from pyspark.sql.window import Window as W

    wd = W.orderBy(F.col("band").desc()).rowsBetween(W.unboundedPreceding, 0)
    cum = bands.select(
        "band",
        F.sum("pos").over(wd).cast("long").alias("tp"),
        F.sum("neg").over(wd).cast("long").alias("fp"),
    )
    tpr = F.col("tp").cast("double") / F.col("n_pos")
    fpr = F.col("fp").cast("double") / F.col("n_neg")
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            F.col("band").alias("threshold_band"),
            "tp",
            "fp",
            tpr.alias("tpr"),
            fpr.alias("fpr"),
            (tpr - fpr).alias("youden_j"),
        )
    )


# ---------------------------------------------------------------------------
# q_isotonic_calibration — exact PAV recalibration of the quality model
# ---------------------------------------------------------------------------
@register(
    "q_isotonic_calibration",
    oracle=f"""
    WITH g AS ({_SQL_GOPHER}),
    c AS (
      SELECT doc_id, {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT (least(greatest(c.score_milli, -{_BR_CLAMP}), {_BR_CLAMP})
              + {_BR_CLAMP}) // 4 AS p_milli,
             g.pass_all AS o
      FROM c JOIN g USING (doc_id)
    ),
    bins AS (
      SELECT p_milli // {_BR_BIN} AS band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(o) AS BIGINT) AS n_pass
      FROM p GROUP BY 1
    ),
    pre AS (
      SELECT band, n_docs, n_pass,
             CAST(SUM(n_docs) OVER (ORDER BY band) AS BIGINT) AS cn,
             CAST(SUM(n_pass) OVER (ORDER BY band) AS BIGINT) AS cp
      FROM bins
    ),
    cand AS (
      SELECT i.band AS band, j.band AS jb,
             MIN(CAST(k.cp - j.cp + j.n_pass AS DOUBLE)
                 / (k.cn - j.cn + j.n_docs)) AS pool_min
      FROM pre i
      JOIN pre j ON j.band <= i.band
      JOIN pre k ON k.band >= i.band
      GROUP BY i.band, j.band
    )
    SELECT b.band, b.n_docs, b.n_pass,
           CAST(b.n_pass AS DOUBLE) / b.n_docs AS raw_rate,
           m.iso_rate
    FROM bins b
    JOIN (
      SELECT band, MAX(pool_min) AS iso_rate FROM cand GROUP BY band
    ) m USING (band)
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the quality classifier against the
    Gopher rule battery — the non-parametric step after the reliability
    table says the score is miscalibrated: per probability-decile band,
    the raw pass rate and the isotonic-regression fit, computed EXACTLY
    via the max-min representation iso[i] = max_{{j<=i}} min_{{k>=i}}
    mean(pool j..k) (equivalent to pool-adjacent-violators, no iteration,
    no convergence knob). Completes the calibration family: reliability
    (is it calibrated) -> Brier (how wrong) -> ROC (which cutoff) ->
    isotonic (the corrected probabilities a curation pipeline would use).

    Scale shape: the corpus pays the two scorer scans and ONE band
    aggregate (same factored banded milli-p as q_brier_decomposition);
    the O(B^3) max-min runs as native array expressions on the ONE
    collected row of B<=11 bands — never a joined or corpus-sized plan.
    Determinism: band statistics are exact BIGINTs, prefix sums are
    integer, every pooled mean is ONE exact division, and min/max over
    identical candidate sets are order-free — no float accumulation
    anywhere, so both engines agree bitwise."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = docs.select("doc_id", qc_score_milli().alias("score_milli"))
    g = q_gopher_rules(spark, sf_dir).select("doc_id", F.col("pass_all").alias("o"))
    p = c.join(g, "doc_id").select(
        F.expr(
            f"(least(greatest(score_milli, -{_BR_CLAMP}), {_BR_CLAMP})"
            f" + {_BR_CLAMP}) DIV 4"
        ).alias("p_milli"),
        "o",
    )
    bins = p.groupBy(F.expr(f"p_milli DIV {_BR_BIN}").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("o").cast("long").alias("n_pass"),
    )
    one = bins.agg(
        F.array_sort(
            F.collect_list(F.struct("band", "n_docs", "n_pass"))
        ).alias("bs")
    )
    nb = F.size(F.col("bs"))
    zero = F.lit(0).cast("long")

    def _prefix(field):
        return F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.aggregate(
                F.slice(F.col("bs"), F.lit(1), i),
                zero,
                lambda a, x: a + x[field],
            ),
        )

    pre = one.select(
        "bs", _prefix("n_docs").alias("cn"), _prefix("n_pass").alias("cp")
    )

    def _pool_mean(i, j, k):
        num = (
            F.element_at(F.col("cp"), k)
            - F.element_at(F.col("cp"), j)
            + F.element_at(F.col("bs"), j)["n_pass"]
        )
        den = (
            F.element_at(F.col("cn"), k)
            - F.element_at(F.col("cn"), j)
            + F.element_at(F.col("bs"), j)["n_docs"]
        )
        return num.cast("double") / den

    iso = pre.select(
        "bs",
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.array_max(
                F.transform(
                    F.sequence(F.lit(1), i),
                    lambda j: F.array_min(
                        F.transform(
                            F.sequence(i, nb),
                            lambda k: _pool_mean(i, j, k),
                        )
                    ),
                )
            ),
        ).alias("iso"),
    )
    rows = iso.select(
        F.explode(
            F.when(
                nb > 0,
                F.transform(
                    F.sequence(F.lit(1), nb),
                    lambda i: F.struct(
                        F.element_at(F.col("bs"), i)["band"].alias("band"),
                        F.element_at(F.col("bs"), i)["n_docs"].alias("n_docs"),
                        F.element_at(F.col("bs"), i)["n_pass"].alias("n_pass"),
                        (
                            F.element_at(F.col("bs"), i)["n_pass"].cast("double")
                            / F.element_at(F.col("bs"), i)["n_docs"]
                        ).alias("raw_rate"),
                        F.element_at(F.col("iso"), i).alias("iso_rate"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("r")
    )
    return rows.select("r.*")


# ---------------------------------------------------------------------------
# q_lift_curve — cumulative gains/lift of the quality model by score band
# ---------------------------------------------------------------------------
@register(
    "q_lift_curve",
    oracle=f"""
    WITH g AS ({_SQL_GOPHER}),
    c AS (
      SELECT doc_id, {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT (least(greatest(c.score_milli, -{_BR_CLAMP}), {_BR_CLAMP})
              + {_BR_CLAMP}) // 4 AS p_milli,
             g.pass_all AS o
      FROM c JOIN g USING (doc_id)
    ),
    bands AS (
      SELECT p_milli // {_BR_BIN} AS band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(o) AS BIGINT) AS n_pass
      FROM p GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
             CAST(SUM(n_pass) AS BIGINT) AS tp
      FROM bands
    ),
    cum AS (
      SELECT band,
             CAST(SUM(n_docs) OVER w AS BIGINT) AS cd,
             CAST(SUM(n_pass) OVER w AS BIGINT) AS cp
      FROM bands
      WINDOW w AS (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT band AS threshold_band, cd AS cum_docs, cp AS cum_pass,
           CAST(cd AS DOUBLE) / td AS depth,
           CAST(cp AS DOUBLE) / tp AS capture_rate,
           (CAST(cp AS DOUBLE) / cd) / (CAST(tp AS DOUBLE) / td) AS lift
    FROM cum, tot
    WHERE tp > 0
    """,
)
def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift for the quality classifier against the
    Gopher battery: reading the score bands from the top down ('curate
    the best-scoring X% of the corpus'), how many rule-passing documents
    the cut captures (capture_rate, the gains curve) and how much denser
    in good documents it is than a random cut of the same depth (lift).
    Completes the eval family — ROC picks a threshold by error tradeoff,
    this one answers the curation-budget question directly.

    Scale shape: the same factored banded milli-p as
    q_brier_decomposition/q_roc_points — two scorer scans, one ≤11-row
    band aggregate, cumulative sums as a window over those bands (never
    over documents), scalar totals broadcast. Determinism: all counts
    exact BIGINTs; depth/capture are single divisions and lift is the
    identical two-division shape in both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = docs.select("doc_id", qc_score_milli().alias("score_milli"))
    g = q_gopher_rules(spark, sf_dir).select("doc_id", F.col("pass_all").alias("o"))
    p = c.join(g, "doc_id").select(
        F.expr(
            f"(least(greatest(score_milli, -{_BR_CLAMP}), {_BR_CLAMP})"
            f" + {_BR_CLAMP}) DIV 4"
        ).alias("p_milli"),
        "o",
    )
    bands = p.groupBy(F.expr(f"p_milli DIV {_BR_BIN}").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("o").cast("long").alias("n_pass"),
    )
    tot = bands.agg(
        F.sum("n_docs").cast("long").alias("td"),
        F.sum("n_pass").cast("long").alias("tp"),
    )
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.col("band").desc()).rowsBetween(W.unboundedPreceding, 0)
    cum = bands.select(
        "band",
        F.sum("n_docs").over(w).cast("long").alias("cd"),
        F.sum("n_pass").over(w).cast("long").alias("cp"),
    )
    cd, cp = F.col("cd").cast("double"), F.col("cp").cast("double")
    td, tp = F.col("td"), F.col("tp")
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("tp") > 0)
        .select(
            F.col("band").alias("threshold_band"),
            F.col("cd").alias("cum_docs"),
            F.col("cp").alias("cum_pass"),
            (cd / td).alias("depth"),
            (cp / tp).alias("capture_rate"),
            ((cp / F.col("cd")) / (tp.cast("double") / td)).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q_selection_parity — four-fifths-rule audit of the quality gate by lang
# ---------------------------------------------------------------------------
@register(
    "q_selection_parity",
    oracle=f"""
    WITH c AS (
      SELECT lang, {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    grp AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_selected
      FROM c GROUP BY lang
    ),
    rates AS (
      SELECT lang, n_docs, n_selected,
             CAST(n_selected AS DOUBLE) / n_docs AS sel_rate
      FROM grp
    ),
    best AS (SELECT MAX(sel_rate) AS top_rate FROM rates)
    SELECT lang, n_docs, n_selected, sel_rate,
           sel_rate / top_rate AS impact_ratio,
           CAST(sel_rate / top_rate < 0.8 AS BIGINT) AS flagged
    FROM rates, best
    WHERE top_rate > 0.0
    """,
)
def q_selection_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-rate parity audit of the quality gate (score ≥ 0 keeps
    the document) across language groups: each language's selection rate,
    its disparate-impact ratio against the most-selected group, and the
    four-fifths-rule flag (ratio < 0.8 — the classic adverse-impact
    screen, here catching a quality model that systematically filters
    out a language before it ever reaches training). The governance twin
    of q_mixing_weights: that one plans proportions, this one audits the
    gate that produced them.

    Scale shape: one scan-side scoring pass, one language-grain
    conditional aggregate (the shuffle key is the language, not the
    corpus), a scalar max broadcast back. Determinism: counts are exact
    BIGINTs; sel_rate is one division, impact_ratio one more with the
    identical shape in both engines; the flag compares those doubles
    exactly."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    grp = docs.select(
        "lang", qc_score_milli().alias("score_milli")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score_milli") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_selected"),
    )
    rates = grp.withColumn(
        "sel_rate", F.col("n_selected").cast("double") / F.col("n_docs")
    )
    best = rates.agg(F.max("sel_rate").alias("top_rate"))
    return (
        rates.crossJoin(F.broadcast(best))
        .filter(F.col("top_rate") > 0.0)
        .select(
            "lang",
            "n_docs",
            "n_selected",
            "sel_rate",
            (F.col("sel_rate") / F.col("top_rate")).alias("impact_ratio"),
            (F.col("sel_rate") / F.col("top_rate") < 0.8)
            .cast("long")
            .alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# q_eb_shrinkage — empirical-Bayes shrinkage of per-source quality rates
# ---------------------------------------------------------------------------
@register(
    "q_eb_shrinkage",
    oracle=f"""
    WITH g AS ({_SQL_GOPHER}),
    d AS (
      SELECT doc_id, source FROM documents
      WHERE text IS NOT NULL AND source IS NOT NULL
    ),
    grp AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(g.pass_all) AS BIGINT) AS n_pass
      FROM d JOIN g USING (doc_id)
      GROUP BY d.source
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(n_docs) AS BIGINT) AS tn,
             CAST(SUM(n_pass) AS BIGINT) AS tk
      FROM grp
    ),
    scal AS (
      SELECT ng, CAST(tk AS DOUBLE) / tn AS pbar,
             list_reduce(
               list((CAST(n_pass AS DOUBLE) / n_docs - CAST(tk AS DOUBLE) / tn)
                    * (CAST(n_pass AS DOUBLE) / n_docs - CAST(tk AS DOUBLE) / tn)
                    ORDER BY source),
               (a, b) -> a + b) / (ng - 1.0) AS s2,
             list_reduce(list(1.0 / n_docs ORDER BY source),
                         (a, b) -> a + b) / ng AS inv_n_mean
      FROM grp, tot
      WHERE ng >= 2
      GROUP BY ng, tn, tk
    ),
    tau AS (
      SELECT ng, pbar,
             greatest(s2 - pbar * (1.0 - pbar) * inv_n_mean, 0.0) AS tau2
      FROM scal
    )
    SELECT grp.source, grp.n_docs, grp.n_pass,
           CAST(grp.n_pass AS DOUBLE) / grp.n_docs AS raw_rate,
           tau2 / (tau2 + pbar * (1.0 - pbar) / grp.n_docs) AS shrink_weight,
           pbar + tau2 / (tau2 + pbar * (1.0 - pbar) / grp.n_docs)
                  * (CAST(grp.n_pass AS DOUBLE) / grp.n_docs - pbar)
             AS shrunk_rate
    FROM grp, tau
    WHERE pbar > 0.0 AND pbar < 1.0
    """,
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James–Stein-style) shrinkage of each source's
    Gopher pass rate toward the corpus grand mean: small sources with
    extreme observed rates pull strongly toward p̄, large sources keep
    their own signal — the estimator a curation dashboard should rank
    sources by instead of raw rates (which are dominated by sampling
    noise exactly for the sources with the least data). Method-of-moments
    normal approximation: τ² = max(0, s²_between − p̄(1−p̄)·mean(1/nᵢ)),
    weight wᵢ = τ²/(τ² + p̄(1−p̄)/nᵢ).

    Scale shape: one doc-grain join of the two scan-side derivations,
    ONE source-grain aggregate (the shuffle key is the source), and two
    cross-group moments folded in source order on one collected row —
    bounded by source cardinality, the label-cardinality discipline —
    broadcast back to the group frame. Determinism: group counts are
    exact BIGINTs; every rate is a single division; the two cross-group
    float sums are SEQUENTIAL FOLDS over source-sorted terms; τ² and the
    weights are fixed-shape expressions of those values in both
    engines."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    g = q_gopher_rules(spark, sf_dir).select("doc_id", "pass_all")
    grp = (
        docs.select("doc_id", "source")
        .join(g, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pass_all").cast("long").alias("n_pass"),
        )
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("n_docs").cast("long").alias("tn"),
        F.sum("n_pass").cast("long").alias("tk"),
        F.array_sort(
            F.collect_list(F.struct("source", "n_docs", "n_pass"))
        ).alias("gs"),
    )
    pbar = F.col("tk").cast("double") / F.col("tn")

    def _fold(term):
        return F.aggregate(
            F.transform(F.col("gs"), term), F.lit(0.0), lambda a, b: a + b
        )

    rate = lambda x: x["n_pass"].cast("double") / x["n_docs"]
    scal = tot.filter(F.col("ng") >= 2).select(
        "ng",
        pbar.alias("pbar"),
        (_fold(lambda x: (rate(x) - pbar) * (rate(x) - pbar)) / (F.col("ng") - 1.0)).alias("s2"),
        (_fold(lambda x: F.lit(1.0) / x["n_docs"]) / F.col("ng")).alias(
            "inv_n_mean"
        ),
    )
    tau = scal.select(
        "pbar",
        F.greatest(
            F.col("s2")
            - F.col("pbar") * (1.0 - F.col("pbar")) * F.col("inv_n_mean"),
            F.lit(0.0),
        ).alias("tau2"),
    ).filter((F.col("pbar") > 0.0) & (F.col("pbar") < 1.0))
    raw = F.col("n_pass").cast("double") / F.col("n_docs")
    w = F.col("tau2") / (
        F.col("tau2") + F.col("pbar") * (1.0 - F.col("pbar")) / F.col("n_docs")
    )
    return grp.crossJoin(F.broadcast(tau)).select(
        "source",
        "n_docs",
        "n_pass",
        raw.alias("raw_rate"),
        w.alias("shrink_weight"),
        (F.col("pbar") + w * (raw - F.col("pbar"))).alias("shrunk_rate"),
    )
