"""Text-analysis operators over the ``documents`` table (north-star surface:
language-ID, quality scoring, token counting, document fingerprinting).

Lineage: all of these generalize the reference's text pipeline — F-NORM
normalization (/root/reference/scrapper.py:20-26), F-SPLIT tokenization
(:41), F-REPL stripping (:38) — from per-page pandas to distributed native
column expressions. Everything here is pure ``pyspark.sql.functions`` (no
Python UDFs): at 100 TB these run inside WholeStageCodegen with the parquet
scan pruned to (doc_id, text[, lang]).

Cross-engine parity notes (oracle = DuckDB): tokenization is
split-on-whitespace-runs after trim (identical in both), integer→double
division is IEEE-identical, and md5 is md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.portable import (
    content_fingerprint,
    md5_int,
    sql_md5_int,
    sql_tokens,
    tokens,
)
from ..registry import register
from ..sources.parquet import load_table

# Tiny stopword inventories for the heuristic language-ID (n-gram/stopword
# scoring). Deliberately small and hardcoded so the oracle SQL can repeat them
# verbatim.
_EN_STOP = ["the", "a", "of", "and", "to", "in", "is"]
_ES_STOP = ["el", "la", "de", "los", "y", "en", "es"]
_PUNCT_CLASS = "[.,;:!?]"


def _hits(toks: Column, stops: list[str]) -> Column:
    arr = F.array(*[F.lit(s) for s in stops])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _sql_hits(toks_expr: str, stops: list[str]) -> str:
    lst = ", ".join(f"'{s}'" for s in stops)
    return f"len(list_filter({toks_expr}, t -> t IN ({lst})))"


# ---------------------------------------------------------------------------
# q_text_stats — corpus statistics per language
# ---------------------------------------------------------------------------
@register(
    "q_text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS total_tokens,
           CAST(SUM(len({sql_tokens('text')})) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    return (
        docs.select("lang", "n_chars", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q_token_count — whitespace + BPE-ish regex token counts per document
# ---------------------------------------------------------------------------
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           len({sql_tokens('text')}) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
           length(text) AS n_chars_txt
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_txt"),
    )


# ---------------------------------------------------------------------------
# q_lang_id — heuristic stopword-scoring language ID, evaluated against the
# labeled lang column
# ---------------------------------------------------------------------------
@register(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_hits(sql_tokens('text'), _EN_STOP)} AS en_hits,
             {_sql_hits(sql_tokens('text'), _ES_STOP)} AS es_hits
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_hits > es_hits THEN 'en'
                WHEN es_hits > en_hits THEN 'es'
                ELSE 'unknown' END AS lang_pred,
           CASE WHEN lang = (CASE WHEN en_hits > es_hits THEN 'en'
                                  WHEN es_hits > en_hits THEN 'es'
                                  ELSE 'unknown' END)
                THEN 1 ELSE 0 END AS match_int
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        _hits(toks, _EN_STOP).alias("en_hits"),
        _hits(toks, _ES_STOP).alias("es_hits"),
    )
    pred = (
        F.when(F.col("en_hits") > F.col("es_hits"), "en")
        .when(F.col("es_hits") > F.col("en_hits"), "es")
        .otherwise("unknown")
    )
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        F.when(F.col("lang") == pred, 1).otherwise(0).alias("match_int"),
    )


# ---------------------------------------------------------------------------
# q_quality_score — length/punctuation/stopword-ratio quality features
# ---------------------------------------------------------------------------
@register(
    "q_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             len({sql_tokens('text')}) AS n_toks,
             {_sql_hits(sql_tokens('text'), _EN_STOP)} AS stop_hits,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars,
             length(text) AS n_chars_txt
      FROM documents
    )
    SELECT doc_id, n_toks,
           CAST(stop_hits AS DOUBLE) / n_toks AS stop_ratio,
           CAST(punct_chars AS DOUBLE) / n_chars_txt AS punct_ratio,
           0.5 * LEAST(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (CAST(stop_hits AS DOUBLE) / n_toks)
             + 0.2 * (1.0 - CAST(punct_chars AS DOUBLE) / n_chars_txt) AS quality_score
    FROM feat
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    feat = docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        _hits(toks, _EN_STOP).alias("stop_hits"),
        F.length(F.regexp_replace("text", f"[^{_PUNCT_CLASS[1:-1]}]", "")).alias("punct_chars"),
        F.length("text").alias("n_chars_txt"),
    )
    stop_ratio = F.col("stop_hits").cast("double") / F.col("n_toks")
    punct_ratio = F.col("punct_chars").cast("double") / F.col("n_chars_txt")
    score = (
        F.lit(0.5) * F.least(F.col("n_toks").cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )
    return feat.select(
        "doc_id",
        "n_toks",
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# q_doc_fingerprint — content fingerprints: md5 of the normalized text plus
# the minimum shingle hash (a 1-permutation MinHash, the building block the
# fuzzy-dedup banding generalizes)
# ---------------------------------------------------------------------------
@register(
    "q_doc_fingerprint",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm_text,
             {sql_tokens("text")} AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, norm_text,
             unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM tok
    )
    SELECT doc_id,
           min(md5(norm_text)) AS fp_full,
           min(md5(shingle)) AS fp_min_shingle
    FROM sh
    GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    shingles = word_shingles(F.col("text"), k=3)
    return docs.select(
        "doc_id",
        content_fingerprint(F.col("text")).alias("fp_full"),
        F.array_min(F.transform(shingles, F.md5)).alias("fp_min_shingle"),
    )


# ---------------------------------------------------------------------------
# q_pii_scrub — PII redaction pass (emails, long digit runs)
# ---------------------------------------------------------------------------
# ASCII-only patterns chosen to mean the same thing in Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no \d shorthand-class surprises.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONGNUM_RE = r"[0-9]{7,}"


@register(
    "q_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_LONGNUM_RE}', '[NUM]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS BIGINT)
             AS n_longnums
    FROM documents
    WHERE doc_id < 200
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline runs
    before anything else: emails and 7+-digit runs (phone/account shaped)
    replaced with typed placeholder tokens, plus per-doc match counts for the
    scrub-rate report. Pure scalar regexp_replace/count inside one
    WholeStageCodegen projection — scan-side, no shuffle, trivially
    scan-parallel at 100 TB. Patterns are deliberately lookaround-free so
    Java regex and RE2 agree (generalizes F-REPL, scrapper.py:20-26)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _LONGNUM_RE,
        "[NUM]",
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_LONGNUM_RE)).cast("long").alias("n_longnums"),
    )


# ---------------------------------------------------------------------------
# q_quality_classifier — hashed-bag-of-words linear quality model
# ---------------------------------------------------------------------------
# fastText-style linear scorer over hashed token features: each token hashes
# into one of _QC_DIM weight buckets, the document score is the sum of its
# tokens' weights plus a bias. Weights are integer MILLI-units generated once
# from a fixed LCG recurrence and embedded as literals in BOTH the Spark plan
# and the oracle SQL, so the whole model is part of the query text. Integer
# sums are exact and order-independent; the single final divide-by-1000 is
# IEEE-identical in both engines — no float-accumulation drift.
_QC_DIM = 64
_QC_BIAS_MILLI = 50


def _qc_weights() -> list[int]:
    # Deterministic LCG (Numerical Recipes constants) → milli-weights in
    # [-500, 500). Generated at import; the SAME list is rendered into the
    # Spark literal array and the oracle literal list below.
    w, x = [], 7
    for _ in range(_QC_DIM):
        x = (x * 1664525 + 1013904223) % (2**32)
        w.append(x % 1000 - 500)
    return w


_QC_W = _qc_weights()

# Milli-score SQL expression over a `text` column — shared by the
# classifier query and the reliability table (corpus_quality.py), so the
# model literal can never fork between its uses.
_SQL_QC_SCORE_MILLI = (
    f"{_QC_BIAS_MILLI} + CAST(coalesce(list_sum(list_transform("
    f"{sql_tokens('text')}, "
    f"t -> [{', '.join(str(w) for w in _QC_W)}]"
    f"[({sql_md5_int('t', 8)}) % {_QC_DIM} + 1]"
    f")), 0) AS BIGINT)"
)


def qc_score_milli() -> Column:
    """Spark twin of _SQL_QC_SCORE_MILLI: exact integer milli-score of
    F.col('text') under the embedded hashed linear model."""
    w_arr = F.array(*[F.lit(w).cast("long") for w in _QC_W])
    tok_weight = lambda t: F.element_at(  # noqa: E731
        w_arr, (F.pmod(md5_int(t, 8), F.lit(_QC_DIM)) + 1).cast("int")
    )
    return F.lit(_QC_BIAS_MILLI).cast("long") + F.coalesce(
        F.aggregate(
            tokens(F.col("text")),
            F.lit(0).cast("long"),
            lambda acc, t: acc + tok_weight(t),
        ),
        F.lit(0).cast("long"),
    )


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_SQL_QC_SCORE_MILLI} AS score_milli
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(score_milli AS DOUBLE) / 1000.0 AS score,
           score_milli > 0 AS keep
    FROM scored
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier — the fastText-shaped model-based
    quality gate of an LLM curation pipeline (the learned upgrade of
    q_quality_score's hand ratios): score(doc) = bias + Σ_tokens
    W[md5(token) mod D]. The entire model (D=64 integer milli-weights)
    is a literal in the plan, the per-document sum is a native higher-order
    fold over the token array — a pure scan-side projection with NO shuffle
    and NO Python, so at 100 TB it runs at parquet-scan speed inside
    WholeStageCodegen. Scoring is exact: integer weights sum in int64
    (order-independent), one final divide produces the double score
    identically in Spark and DuckDB. Generalizes the reference's
    quality-gate idea (V-GATE, scrapper.py:139-144) from presence checks to
    a trained-model scoring pass."""
    docs = load_table(spark, sf_dir, "documents")
    score_milli = qc_score_milli()
    return docs.select(
        "doc_id",
        "lang",
        (score_milli.cast("double") / F.lit(1000.0)).alias("score"),
        (score_milli > 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q_tfidf_topterms — top terms per language by exact-arithmetic TF-IDF
# ---------------------------------------------------------------------------
_TFIDF_K = 5
_TFIDF_MIN_LEN = 3


@register(
    "q_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({sql_tokens('text')}) AS term
      FROM documents
    ),
    tf AS (
      SELECT lang, term,
             CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok WHERE len(term) >= {_TFIDF_MIN_LEN}
      GROUP BY lang, term
    ),
    n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY lang),
    ranked AS (
      SELECT tf.lang, term, tf, df,
             CAST(tf * n_docs AS DOUBLE) / df AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.lang
                                ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC,
                                         term ASC) AS rnk
      FROM tf JOIN n ON tf.lang = n.lang
    )
    SELECT lang, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_TFIDF_K}
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by TF-IDF — the corpus-vocabulary
    report a curation run uses to spot boilerplate and topic drift. Exact
    arithmetic end to end: tf (term occurrences) and df (distinct docs) are
    integer hash aggregates, n_docs per language is a tiny broadcast dim,
    and the score tf·N/df is ONE integer multiply plus ONE IEEE divide — no
    float accumulation, so Spark and DuckDB agree bitwise. Plan shape at
    100 TB: token volume crosses exactly two exchanges, both preceded by
    map-side partial aggregation — (lang, term, doc_id) for the distinct-df
    pre-aggregate (per-doc repeats collapse before the wire), then
    (lang, term) for tf+df — the standard two-phase count-distinct; the
    per-language doc counts broadcast, and the top-k window over (lang)
    runs on one-row-per-term input already cut to k rows per partition by
    WindowGroupLimit. Deterministic ties broken by term; IDF uses the raw
    ratio N/df (monotone with log-idf, so the ranking is the standard one
    without cross-engine ln() risk)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") >= _TFIDF_MIN_LEN)
    tf = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(broadcast(n), "lang").withColumn(
        "tfidf", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TFIDF_K)
        .select("lang", "term", "tf", "df", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# q_langid_confusion — language-ID classifier evaluation rollup
# ---------------------------------------------------------------------------
@register(
    "q_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN {_sql_hits(sql_tokens('text'), _EN_STOP)}
                       > {_sql_hits(sql_tokens('text'), _ES_STOP)} THEN 'en'
                  WHEN {_sql_hits(sql_tokens('text'), _ES_STOP)}
                       > {_sql_hits(sql_tokens('text'), _EN_STOP)} THEN 'es'
                  ELSE 'unknown' END AS lang_pred
      FROM documents
    ),
    conf AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY lang, lang_pred
    ),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM conf GROUP BY lang)
    SELECT c.lang, c.lang_pred, c.n,
           CAST(c.n AS DOUBLE) / t.n_lang AS frac_of_lang
    FROM conf c JOIN tot t USING (lang)
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion rollup: q_lang_id's per-document prediction
    cross-tabulated against the labeled lang column, with each cell as a
    fraction of its true-language row — the per-class recall view that
    says WHICH languages the stopword heuristic mistakes for which (the
    per-doc match flag can't). Derived from the same scored frame as
    q_lang_id, so prediction rule and evaluation can't drift. Two hash
    aggregates on language-cardinality keys; the per-language totals join
    is |langs| rows — label-cardinality work at any corpus size."""
    scored = q_lang_id(spark, sf_dir)
    conf = scored.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = conf.groupBy("lang").agg(F.sum("n").cast("long").alias("n_lang"))
    return conf.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        "n",
        (F.col("n").cast("double") / F.col("n_lang")).alias("frac_of_lang"),
    )
