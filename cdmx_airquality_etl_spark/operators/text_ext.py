"""Text-analysis extension batch: readability scoring, RAKE keyword
extraction, Zipf frequency profiling, per-language character-trigram
profiles, and edit-distance verification of fuzzy-dedup candidates.

Lineage: extends the corpus text surface (operators/textstats.py — token
counts, lang-id, quality scores, fingerprints; operators/corpus_quality.py
— Gopher rules, LM scoring) with the next layer a curation pipeline runs:
readability-banded filtering, keyword indexing, frequency-law sanity checks,
language-profile features, and precise pairwise verification of candidate
duplicates.

Determinism policy (SURVEY.md §5.1): counts are exact BIGINTs; composite
scores assemble from literal coefficients × exact counts in one fixed
expression; RAKE phrase scores divide Σdegree by Σfrequency ONCE instead
of summing per-word float ratios; Levenshtein is an integer metric both
engines implement identically over the capped prefix."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import sql_tokens, tokens
from ..registry import register
from .fanout import fan_out_scan
from ..sources.parquet import load_table
from .dedup import (
    _JACCARD_THRESHOLD,
    _SQL_SHINGLE_PAIR_CTES,
    _anchor_jaccard_pairs,
    _doc_shingles,
)
from .textstats import _EN_STOP

_SENT_RE = "[.!?]+"
_VOWEL_RE = "[aeiouy]+"
_ZIPF_TOP = 30
_TRIGRAM_TOP = 5
_EDIT_PREFIX = 60
_RAKE_TOP = 20
# RAKE phrase breakers: the EN stopword list + punctuation-only tokens
_RAKE_STOPS = list(_EN_STOP)


# ---------------------------------------------------------------------------
# q_readability — Flesch-Kincaid grade from exact surface counts
# ---------------------------------------------------------------------------
@register(
    "q_readability",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '{_SENT_RE}')), 1) AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '{_VOWEL_RE}')) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                - 15.59 AS DOUBLE) AS fk_grade
    FROM c WHERE n_words > 0
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document from three exact surface
    counts — words (whitespace tokens), sentences (terminal-punctuation
    runs, floored at 1), and syllables (vowel-group heuristic, the
    standard dictionary-free approximation). The grade is literal
    coefficients × two exact-count ratios in one fixed expression: pure
    scan-side regexp counting, WholeStageCodegen, no shuffle — a
    readability band filter costs one corpus scan at any size."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens(F.col("text"))).cast("bigint")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(_SENT_RE), 0)), F.lit(1)
    ).cast("bigint")
    n_syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_VOWEL_RE), 0)
    ).cast("bigint")
    c = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    grade = (
        F.lit(0.39) * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        + F.lit(11.8) * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
        - F.lit(15.59)
    )
    return c.select("doc_id", "n_words", "n_sentences", "n_syllables", grade.alias("fk_grade"))


# ---------------------------------------------------------------------------
# q_keyword_rake — RAKE keyword extraction with exact integer scoring
# ---------------------------------------------------------------------------
@register(
    "q_keyword_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS w,
             generate_subscripts({sql_tokens('text')}, 1) AS pos
      FROM documents
    ),
    marked AS (
      SELECT doc_id, pos, w,
             CASE WHEN w IN ({", ".join(f"'{s}'" for s in _RAKE_STOPS)})
                    OR NOT regexp_matches(w, '[a-z0-9]') THEN 1 ELSE 0 END AS stop
      FROM tok
    ),
    seg AS (
      SELECT doc_id, pos, w, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM marked
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             array_to_string(list(w ORDER BY pos), ' ') AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM seg WHERE stop = 0
      GROUP BY doc_id, phrase_id
    ),
    members AS (
      SELECT p.phrase, p.plen, s.w
      FROM phrases p
      JOIN seg s ON s.doc_id = p.doc_id AND s.phrase_id = p.phrase_id AND s.stop = 0
    ),
    word_stats AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS degree
      FROM members GROUP BY w
    ),
    scored AS (
      SELECT m.phrase,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(SUM(ws.degree) AS BIGINT) AS sum_degree,
             CAST(SUM(ws.freq) AS BIGINT) AS sum_freq
      FROM members m JOIN word_stats ws ON ws.w = m.w
      GROUP BY m.phrase
    )
    SELECT phrase, n_occurrences,
           CAST(CAST(sum_degree AS DOUBLE) / CAST(sum_freq AS DOUBLE) AS DOUBLE) AS rake_score
    FROM scored
    ORDER BY rake_score DESC, phrase
    LIMIT {_RAKE_TOP}
    """,
)
def q_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases are maximal runs of
    non-stopword tokens (stop = EN stopwords + tokens with no
    alphanumerics); each word scores degree (Σ length of phrases
    containing it) over frequency, and a phrase scores Σdegree/Σfreq over
    its member occurrences — ONE division of exact integer sums (the
    per-word ratio-sum variant would accumulate floats in engine-specific
    order). Phrase segmentation is a running stop-count window PER
    DOCUMENT (bounded by doc length); word stats and scoring are corpus
    hash-aggregates. Top-{k} phrases with total tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    # round-13: scan fan-out was tried here and measured a LOSS (paired
    # 1.32 -> 1.57 s): the per-doc windows re-shuffle by doc_id right
    # after, so the added round-robin exchange buys nothing — reverted
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    stop = F.when(
        F.col("w").isin(*_RAKE_STOPS) | ~F.col("w").rlike("[a-z0-9]"), 1
    ).otherwise(0)
    marked = tok.withColumn("stop", stop)
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = marked.withColumn("phrase_id", F.sum("stop").over(wseg))
    nonstop = seg.filter(F.col("stop") == 0)
    phrases = (
        nonstop.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(F.sort_array(F.collect_list(F.struct("pos", "w"))).w, " ").alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
    )
    members = nonstop.join(
        phrases, ["doc_id", "phrase_id"]
    ).select("phrase", "plen", "w")
    word_stats = members.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    scored = (
        members.join(word_stats, "w")
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum("degree").alias("sum_degree"),
            F.sum("freq").alias("sum_freq"),
        )
    )
    return (
        scored.select(
            "phrase", "n_occurrences",
            (F.col("sum_degree").cast("double") / F.col("sum_freq").cast("double")).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# q_zipf_profile — rank-frequency law check over the corpus vocabulary
# ---------------------------------------------------------------------------
@register(
    "q_zipf_profile",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({sql_tokens('text')}) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM freq),
    ranked AS (
      SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rnk
      FROM freq
    )
    SELECT rnk, token, n,
           CAST(rnk * n AS BIGINT) AS rank_freq,
           CAST(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS DOUBLE) AS share,
           v AS vocab_size
    FROM ranked, tot
    WHERE rnk <= {_ZIPF_TOP}
    """,
)
def q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile of the corpus vocabulary: top-{k}
    tokens with rank, frequency, the rank×frequency product (constant
    under an ideal Zipf law — the corpus-health eyeball test synthetic or
    template-heavy corpora fail), frequency share, and vocabulary size.
    One token-count hash aggregate; the rank window runs over the top
    slice only after a TakeOrdered cut in spirit — here the vocabulary
    grain (≤ corpus-distinct tokens). Exact integers; one division for
    the share."""
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("v"))
    ranked = freq.select(
        "token", "n",
        F.row_number().over(Window.orderBy(F.col("n").desc(), "token")).cast("bigint").alias("rnk"),
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rnk", "token", "n",
        (F.col("rnk") * F.col("n")).alias("rank_freq"),
        (F.col("n").cast("double") / F.col("t").cast("double")).alias("share"),
        F.col("v").alias("vocab_size"),
    )


q_zipf_profile.__doc__ = q_zipf_profile.__doc__.format(k=_ZIPF_TOP)


# ---------------------------------------------------------------------------
# q_char_trigram_profile — per-language character-trigram signatures
# ---------------------------------------------------------------------------
@register(
    "q_char_trigram_profile",
    oracle=f"""
    WITH norm AS (
      SELECT lang, regexp_replace(lower(text), '[^a-z]+', ' ', 'g') AS s
      FROM documents
    ),
    grams AS (
      SELECT lang, substr(s, i, 3) AS gram
      FROM norm, unnest(range(1, greatest(length(s) - 2, 0) + 1)) AS t(i)
      WHERE length(s) >= 3 AND substr(s, i, 3) NOT LIKE '% %'
    ),
    cnt AS (
      SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS n
      FROM grams GROUP BY lang, gram
    ),
    ranked AS (
      SELECT lang, gram, n,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS BIGINT) AS rnk
      FROM cnt
    )
    SELECT lang, rnk, gram, n FROM ranked WHERE rnk <= {_TRIGRAM_TOP}
    """,
)
def q_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} character trigrams per language — the classical n-gram
    language profile (Cavnar-Trenkle) that backs q_lang_id's heuristic
    with corpus-derived evidence. Text normalizes to lowercase a-z runs;
    trigrams spanning a space are dropped (word-boundary purity). The
    per-language rank window partitions by language — parallel across
    languages, bounded output. Gram extraction is scan-side
    transform(sequence) — no Python."""
    docs = load_table(spark, sf_dir, "documents")
    # round-13 under-split scan fan-out: the normalize + gram transform
    # is the map-side cost and ran single-task at test scale
    norm = fan_out_scan(docs).select(
        "lang",
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " ").alias("s"),
    ).filter(F.length("s") >= 3)
    grams = norm.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, greatest(length(s) - 2, 1)), i -> substr(s, i, 3))")
        ).alias("gram"),
    ).filter(~F.col("gram").contains(" "))
    cnt = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    ranked = cnt.select(
        "lang", "gram", "n",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.col("n").desc(), "gram"))
        .cast("bigint")
        .alias("rnk"),
    ).filter(F.col("rnk") <= _TRIGRAM_TOP)
    return ranked.select("lang", "rnk", "gram", "n")


q_char_trigram_profile.__doc__ = q_char_trigram_profile.__doc__.format(k=_TRIGRAM_TOP)


# ---------------------------------------------------------------------------
# q_edit_distance_verify — Levenshtein confirmation of fuzzy candidates
# ---------------------------------------------------------------------------
@register(
    "q_edit_distance_verify",
    oracle=f"""
    WITH {_SQL_SHINGLE_PAIR_CTES},
    cand AS (
      SELECT doc_id_a, doc_id_b,
             CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
      FROM pairs
      WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= {_JACCARD_THRESHOLD}
    )
    SELECT c.doc_id_a, c.doc_id_b, c.jaccard,
           CAST(levenshtein(substr(lower(da.text), 1, {_EDIT_PREFIX}),
                            substr(lower(db.text), 1, {_EDIT_PREFIX})) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_id_a
    JOIN documents db ON db.doc_id = c.doc_id_b
    """,
)
def q_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-stage verification of fuzzy-dedup candidates: every pair
    q_dedup_fuzzy's exact anchor plan surfaces gets an exact Levenshtein
    distance over the first {p} characters. This is the
    candidate-then-verify composition at the heart of scalable dedup —
    the O(n²·len²) edit-distance only ever runs on the exact pair set the
    anchor filter-verify join bounded (round 11 moved this off a capped
    postings core), and the prefix cap bounds the
    per-pair cost.
    Both engines implement Levenshtein as the same integer DP; joins back
    to the corpus are key lookups."""
    docs = load_table(spark, sf_dir, "documents")
    cand = _anchor_jaccard_pairs(_doc_shingles(docs), _JACCARD_THRESHOLD).select(
        "doc_id_a", "doc_id_b", "jaccard"
    )
    da = docs.select(
        F.col("doc_id").alias("ka"),
        F.substring(F.lower(F.col("text")), 1, _EDIT_PREFIX).alias("ta"),
    )
    db = docs.select(
        F.col("doc_id").alias("kb"),
        F.substring(F.lower(F.col("text")), 1, _EDIT_PREFIX).alias("tb"),
    )
    return (
        cand.join(da, cand.doc_id_a == da.ka)
        .join(db, cand.doc_id_b == db.kb)
        .select(
            "doc_id_a", "doc_id_b", "jaccard",
            F.levenshtein("ta", "tb").cast("bigint").alias("edit_dist"),
        )
    )


q_edit_distance_verify.__doc__ = q_edit_distance_verify.__doc__.format(p=_EDIT_PREFIX)
