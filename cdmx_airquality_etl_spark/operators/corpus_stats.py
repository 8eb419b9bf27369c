"""Corpus co-occurrence statistics.

q_cooccur_pmi — collocation / association mining: which token pairs appear
together in documents far more often than independence predicts. The
standard corpus-analysis tool (PMI over document co-occurrence) used to
surface templated boilerplate, topic structure, and tokenizer-merge
candidates before training. Lineage: generalizes the reference's
vocabulary-driven normalization (F-NORM + month catalog, scrapper.py:20-26,
config.yaml:5-17) from single-token decode to pairwise structure.

Exactness: PMI is log(N·c12/(c1·c2)), and log is monotone — so the operator
ranks and emits the RATIO (one bigint multiply each side, then one IEEE
double division), never the log: integer products are exact, the division
is correctly rounded identically in both engines, and the driver's hash
compare holds bitwise. Consumers wanting nats apply log at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import md5_int, sql_md5_int, sql_tokens, tokens
from ..registry import register
from ..sources.parquet import load_table, register_duck_view

_MIN_PAIR_DOCS = 25  # support floor: pair must co-occur in ≥ this many docs
_TOP_PAIRS = 20

_TOKS = sql_tokens("text")


@register(
    "q_cooccur_pmi",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, t
      FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
      WHERE t <> ''
    ),
    tok AS (SELECT t, COUNT(*) AS c FROM dt GROUP BY t),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt),
    pairs AS (
      SELECT a.t AS token_a, b.t AS token_b, COUNT(*) AS pair_docs
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY a.t, b.t
    )
    SELECT p.token_a, p.token_b, p.pair_docs,
           ta.c AS docs_a, tb.c AS docs_b,
           CAST(p.pair_docs * n.n_docs AS DOUBLE)
             / CAST(ta.c * tb.c AS DOUBLE) AS lift
    FROM pairs p
    JOIN tok ta ON p.token_a = ta.t
    JOIN tok tb ON p.token_b = tb.t
    CROSS JOIN n
    WHERE p.pair_docs >= {_MIN_PAIR_DOCS}
    ORDER BY lift DESC, token_a ASC, token_b ASC
    LIMIT {_TOP_PAIRS}
    """,
)
def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token-pair associations by lift (= exp(PMI)) over document
    co-occurrence, with a support floor.

    Plan: per-doc DISTINCT tokens (explode + distinct — one aggregate that
    also caps each doc's contribution at its vocabulary, not its length) →
    within-doc pair self-join → pair-count hash aggregate → two broadcast
    joins to the token-frequency dim → TakeOrderedAndProject. Candidate
    volume is Σ_doc (distinct_tokens choose 2): bounded by the vocabulary,
    not document length — a production corpus first prunes to the top-V
    vocabulary (V ~ 10⁵), keeping the pair space ≤ V², and the support
    floor keeps the aggregate output small. No driver-side loop; the
    doc-count normalizer is a scalar broadcast cross join inside the plan."""
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        # round-13: scan fan-out measured a LOSS here (paired 1.18 -> 1.76
        # s — the cost is the distinct + within-doc self-join, already
        # parallel after their exchanges) — reverted
        docs.select(
            "doc_id",
            F.explode(
                tokens(F.col("text"))
            ).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    tok = dt.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = dt.agg(F.countDistinct("doc_id").alias("n_docs"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(
            F.col("a.t").alias("token_a"), F.col("b.t").alias("token_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_docs"))
        .filter(F.col("pair_docs") >= _MIN_PAIR_DOCS)
    )
    ta = tok.select(F.col("t").alias("token_a"), F.col("c").alias("docs_a"))
    tb = tok.select(F.col("t").alias("token_b"), F.col("c").alias("docs_b"))
    lift = (F.col("pair_docs") * F.col("n_docs")).cast("double") / (
        F.col("docs_a") * F.col("docs_b")
    ).cast("double")
    return (
        pairs.join(F.broadcast(ta), "token_a")
        .join(F.broadcast(tb), "token_b")
        .crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            "pair_docs",
            "docs_a",
            "docs_b",
            lift.alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("token_a").asc(), F.col("token_b").asc()
        )
        .limit(_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# q_heavy_hitters — two-pass exact frequent tokens: Misra-Gries candidate
# sketch per partition, then exact verification of candidates only
# ---------------------------------------------------------------------------
_MG_COUNTERS = 64  # per-partition counter budget
_HH_PCT = 3  # report tokens with > _HH_PCT% of all token occurrences


def _mg_candidates(iter_batches):
    """Misra-Gries with _MG_COUNTERS counters over one partition's token
    stream (classic streaming heavy-hitters sketch, Misra & Gries 1982 —
    public algorithm). Guarantee used below: any token with partition
    frequency > N_p/k survives in the final counters; summed over
    partitions, every token with GLOBAL frequency > N/k is emitted by at
    least one partition — a strict superset of the > _HH_PCT% answer
    because _HH_PCT/100 > 1/k."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in iter_batches:
        for t in pdf["token"]:
            if t in counters:
                counters[t] += 1
            elif len(counters) < _MG_COUNTERS:
                counters[t] = 1
            else:
                for key in list(counters):
                    counters[key] -= 1
                    if counters[key] == 0:
                        del counters[key]
    yield pd.DataFrame({"token": list(counters)})


@register(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS cnt FROM tok WHERE token <> ''
      GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM counts)
    SELECT token, cnt,
           CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
    FROM counts, tot
    WHERE cnt * 100 > n_total * {_HH_PCT}
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (> {_HH_PCT}% of token occurrences) via the
    two-pass sketch-then-verify plan: pass 1 runs a Misra-Gries sketch
    independently inside each partition (mapInPandas, bounded at
    _MG_COUNTERS counters — O(k) memory per task, no shuffle), pass 2
    exactly counts ONLY the surviving candidates (broadcast semi-join →
    hash aggregate) and applies the integer-exact threshold
    cnt·100 > N·{_HH_PCT}.

    Why not just groupBy? At 100 TB a full token groupBy shuffles
    |vocabulary| keys; the sketch bounds pass-1 output at
    k × partitions rows regardless of vocabulary, and pass 2 shuffles
    only candidate traffic. The MG guarantee (any token above N/k
    globally survives some partition's counters, k = {_MG_COUNTERS} >
    100/{_HH_PCT}) makes the candidate set a strict superset, so the
    verified output is EXACT — the oracle is the plain one-pass answer.
    The sketch is Arrow-batched Python; counts never leave the JVM."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            tokens(F.col("text"))
        ).alias("token")
    ).filter(F.col("token") != "")
    candidates = (
        tok.mapInPandas(_mg_candidates, "token string").distinct()
    )
    verified = (
        tok.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        verified.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 100 > F.col("n_total") * _HH_PCT)
        .select(
            "token",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n_total").cast("double")).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_bigram_lm — bigram language-model scoring, integer-exact like the
# unigram twin (corpus_quality.q_unigram_lm)
# ---------------------------------------------------------------------------
@register(
    "q_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS} AS ts FROM documents
      WHERE text IS NOT NULL AND len({_TOKS}) >= 2
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(ts)),
                    i -> ts[i] || ' ' || ts[i + 1])) AS bigram
      FROM toks
    ),
    counts AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
    uni AS (
      SELECT COUNT(DISTINCT t) AS v_vocab
      FROM (SELECT unnest(ts) AS t FROM toks)
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_bigrams FROM counts
    ),
    per_doc AS (
      SELECT doc_id, lang, COUNT(*) AS n_bg,
             CAST(SUM(c + 1) AS BIGINT) AS s
      FROM bg JOIN counts USING (bigram)
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_bg,
           s / (n_bg * (n_bigrams + v_vocab * v_vocab)) AS avg_prob
    FROM per_doc, tot, uni
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring: train joint bigram counts on the corpus,
    score each document by its mean add-one-smoothed bigram probability
    mean_b (c_b + 1) / (N₂ + V²) — the second-order twin of q_unigram_lm
    that separates coherent word ORDER from unigram-frequency soup
    (documents scoring high on unigrams but low here are bag-of-frequent-
    words spam).

    Same exactness design as the unigram: avg_prob =
    Σ(c_b + 1) / (n_bg · (N₂ + V²)) with BIGINT numerator and denominator
    and ONE final double division — no per-bigram float sum whose order
    could differ between engines, no log-space (engine libm logs differ in
    the last ulp). Bigram extraction is a native zip of the token array
    with its own tail (no explode-then-self-join: that plan shuffles the
    corpus twice). Train + score is two hash aggregates and one join on
    the bigram string."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # round-13: scan fan-out measured a LOSS here (paired 1.15 -> 1.33 s
    # — the round-robin exchange ships the token arrays, outweighing the
    # parallel zip) — reverted
    toks = docs.select(
        "doc_id",
        "lang",
        tokens(F.col("text")).alias("ts"),
    ).filter(F.size("ts") >= 2)
    bg = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, size(ts) - 1), "
                "slice(ts, 2, size(ts) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    uni = toks.select(F.explode("ts").alias("t")).agg(
        F.countDistinct("t").alias("v_vocab")
    )
    tot = counts.agg(F.sum("c").cast("long").alias("n_bigrams"))
    per_doc = (
        bg.join(counts, "bigram")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.sum(F.col("c") + 1).cast("long").alias("s"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(uni))
        .select(
            "doc_id",
            "lang",
            "n_bg",
            (
                F.col("s")
                / (
                    F.col("n_bg")
                    * (F.col("n_bigrams") + F.col("v_vocab") * F.col("v_vocab"))
                )
            ).alias("avg_prob"),
        )
    )


# ---------------------------------------------------------------------------
# q_bm25 — canonical IR ranking over the corpus for a fixed term query
# ---------------------------------------------------------------------------
_BM25_TERMS = ["table", "spark", "merge"]  # corpus-vocabulary query
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 20


def _bm25_idf(n_docs: int, df: int) -> float:
    """Robertson-Sparck Jones idf with the +1 floor (Lucene's form). Driver-
    side math.log — the ONLY log in the operator — so its float64 value is
    rendered as an identical literal into both engines' plans (the same
    escape hatch as the PQ LUTs: JVM Math.log and DuckDB's libm log differ
    in the last ulp, so neither engine ever computes it)."""
    import math

    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _bm25_stats(sf_dir: str) -> tuple[int, dict[str, int]]:
    """(n_docs, df per query term) read via DuckDB — shared by the Spark
    query and the oracle factory so both render identical idf literals."""
    import duckdb

    con = duckdb.connect()
    try:
        register_duck_view(con, sf_dir, "documents")
        n_docs = con.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
        dfs = {}
        for t in _BM25_TERMS:
            dfs[t] = con.sql(
                "SELECT COUNT(*) FROM documents "
                f"WHERE list_contains({_TOKS}, '{t}')"
            ).fetchone()[0]
        return n_docs, dfs
    finally:
        con.close()


def bm25_oracle_sql(sf_dir: str) -> str:
    n_docs, dfs = _bm25_stats(sf_dir)
    terms_list = ",".join(f"'{t}'" for t in _BM25_TERMS)
    # fixed-order sum: one conditional-aggregate part per term, added
    # left-to-right — never a float SUM over rows
    parts = " + ".join(
        f"""coalesce(MAX(CASE WHEN term = '{t}' THEN
          {_bm25_idf(n_docs, dfs[t])!r}e0 * (tf * {1.0 + _BM25_K1!r}e0)
          / (tf + {_BM25_K1!r}e0 * (1.0e0 - {_BM25_B!r}e0
             + {_BM25_B!r}e0 * (CAST(dl AS DOUBLE) / avgdl)))
        END), 0.0e0)"""
        for t in _BM25_TERMS
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
    avg_dl AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS t FROM docs)
      WHERE t IN ({terms_list})
      GROUP BY doc_id, t
    )
    SELECT d.doc_id AS doc_id, d.dl AS dl, {parts} AS bm25
    FROM dl d LEFT JOIN tf ON d.doc_id = tf.doc_id
    CROSS JOIN avg_dl
    GROUP BY d.doc_id, d.dl, avgdl
    ORDER BY bm25 DESC, d.doc_id ASC
    LIMIT {_BM25_TOP}
    """


@register("q_bm25", oracle_factory=bm25_oracle_sql)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) of the corpus against a fixed
    3-term query — the canonical lexical retrieval scorer, the
    sparse-retrieval complement to the dense ANN family.

    Exactness recipe: idf is the only logarithm, computed ONCE driver-side
    by a helper both plans share and rendered as a literal (engine libm
    logs differ in the last ulp — the PQ-LUT escape hatch). The per-doc
    score is a FIXED-ORDER sum of per-term conditional aggregates, never
    a float SUM over rows; every other number is an exact count or an
    identically-shaped IEEE expression. Plan: scan-side token counts, one
    (doc × matched-term) aggregate over terms pre-filtered to the query
    (the inverted-index discipline: non-query terms never leave the
    scan), broadcast scalar avgdl, TakeOrderedAndProject. At 100 TB df/N
    statistics come from the corpus-stats table a real index maintains —
    here the driver reads them with the same bounded cost as the ANN
    query-vector fetch."""
    n_docs, dfs = _bm25_stats(sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = tokens(F.col("text"))
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    avg_dl = dl.agg(
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode(toks).alias("t"))
        .filter(F.col("t").isin(_BM25_TERMS))
        .groupBy("doc_id", F.col("t").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    parts = " + ".join(
        f"""coalesce(MAX(CASE WHEN term = '{t}' THEN
          {_bm25_idf(n_docs, dfs[t])!r}D * (tf * {1.0 + _BM25_K1!r}D)
          / (tf + {_BM25_K1!r}D * (CAST(1.0 AS DOUBLE) - {_BM25_B!r}D
             + {_BM25_B!r}D * (CAST(dl AS DOUBLE) / avgdl)))
        END), CAST(0.0 AS DOUBLE))"""
        for t in _BM25_TERMS
    )
    return (
        dl.join(tf, "doc_id", "left")
        .crossJoin(F.broadcast(avg_dl))
        .groupBy("doc_id", "dl", "avgdl")
        .agg(F.expr(f"{parts}").alias("bm25"))
        .select("doc_id", "dl", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOP)
    )


# ---------------------------------------------------------------------------
# q_vocab_coverage — token-occurrence coverage of top-k vocabularies
# ---------------------------------------------------------------------------
_VOCAB_KS = [100, 500, 2000]  # candidate vocabulary budgets


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
      WHERE token <> '' GROUP BY token
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS vocab_size
      FROM counts
    )
    SELECT k, vocab_size, n_total, covered,
           CAST(covered AS DOUBLE) / n_total AS coverage
    FROM tot, (
      {" UNION ALL ".join(
          f'''SELECT CAST({k} AS BIGINT) AS k,
              (SELECT CAST(SUM(cnt) AS BIGINT) FROM
                 (SELECT cnt FROM counts ORDER BY cnt DESC, token LIMIT {k}))
                AS covered'''
          for k in _VOCAB_KS
      )}
    ) per_k
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget coverage curve: for each candidate vocab size k,
    the fraction of ALL token occurrences covered by the k most frequent
    tokens — the table a tokenizer design reads to pick its budget (and
    the Zipf sanity check: coverage should grow roughly like the harmonic
    sum). One corpus token-count aggregate, then per checkpoint a
    TakeOrderedAndProject(k) + scalar sum — each checkpoint is top-k
    work, NEVER a global ordered prefix-sum (a full-vocab running total
    would funnel the 10^7-term web vocab through one reducer; fixed
    budgets keep every step bounded). Counts and totals are exact
    BIGINTs; coverage is one correctly-rounded division."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    per_k = None
    for k in _VOCAB_KS:
        top = (
            counts.orderBy(F.col("cnt").desc(), F.col("token"))
            .limit(k)
            .agg(F.sum("cnt").cast("long").alias("covered"))
            .select(F.lit(k).cast("long").alias("k"), "covered")
        )
        per_k = top if per_k is None else per_k.unionByName(top)
    return per_k.crossJoin(F.broadcast(tot)).select(
        "k",
        "vocab_size",
        "n_total",
        "covered",
        (F.col("covered").cast("double") / F.col("n_total")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# q_feature_hash_collisions — hashing-trick bucket-occupancy audit
# ---------------------------------------------------------------------------
_FH_BITS = 8  # 2^8 feature buckets: sized so source×token interactions collide
_FH_BUCKETS = 1 << _FH_BITS


@register(
    "q_feature_hash_collisions",
    oracle=f"""
    WITH feat AS (
      SELECT DISTINCT source, t
      FROM (SELECT source, unnest({_TOKS}) AS t FROM documents)
      WHERE t <> ''
    ),
    bucketed AS (
      SELECT {{h}} % {_FH_BUCKETS} AS bucket
      FROM feat
    ),
    occ AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS occupancy
      FROM bucketed GROUP BY bucket
    )
    SELECT occupancy,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(occupancy) AS BIGINT) AS n_features,
           CAST(SUM(occupancy - 1) AS BIGINT) AS n_collided
    FROM occ GROUP BY occupancy
    """.format(h=sql_md5_int("'fh|' || source || '#' || t", 12)),
)
def q_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick audit (Weinberger et al. 2009): project the
    source×token INTERACTION features — the cross features the hashing
    trick exists for, since materializing every pairing is what blows up
    a one-hot vocabulary — into 2^{b} buckets and histogram bucket
    occupancy. Occupancy 1 is a clean feature; occupancy k>1 means k
    features alias into one learned weight. The table answers the
    feature-engineering question directly: how many hash bits before
    collisions stop distorting a linear model trained on this corpus.

    Scale shape: distinct-(source, token) aggregate (the shuffle is the
    feature space, not the corpus), then two nested hash aggregates over
    feature-sized and bucket-sized inputs. All exact integers; the hash
    is the portable md5-prefix both engines share (portable.md5_int
    contract)."""
    feats = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    occ = (
        feats.select(
            (
                md5_int(
                    F.concat(F.lit("fh|"), F.col("source"), F.lit("#"), F.col("t")),
                    12,
                )
                % _FH_BUCKETS
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("occupancy"))
    )
    return occ.groupBy("occupancy").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("occupancy").alias("n_features"),
        F.sum(F.col("occupancy") - 1).alias("n_collided"),
    )


q_feature_hash_collisions.__doc__ = q_feature_hash_collisions.__doc__.format(
    b=_FH_BITS
)


# ---------------------------------------------------------------------------
# q_simpson_diversity — exact lexical diversity per source
# ---------------------------------------------------------------------------
@register(
    "q_simpson_diversity",
    oracle=f"""
    WITH tok AS (
      SELECT source, t
      FROM (SELECT source, unnest({_TOKS}) AS t FROM documents)
      WHERE t <> ''
    ),
    tc AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, t
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c * (c - 1)) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * (CAST(SUM(c) AS DOUBLE) - 1.0))
             AS simpson_lambda,
           1.0 - (CAST(SUM(c * (c - 1)) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * (CAST(SUM(c) AS DOUBLE) - 1.0)))
             AS gini_simpson
    FROM tc GROUP BY source
    """,
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index per source: λ = Σcᵢ(cᵢ−1) / N(N−1), the
    probability two tokens drawn without replacement are the same type —
    the log-free lexical-diversity measure (unlike Shannon entropy it
    needs NO libm, so it hash-compares exactly; zipf/vocab queries give
    the distribution's shape, this gives its concentration in one
    number). Low gini_simpson flags template-dominated sources before
    they flood a training mix.

    Scale shape: two stacked hash aggregates — (source, token) counts,
    then per-source sufficient statistics Σc and Σc(c−1), both exact
    BIGINTs with a single final double division per output column."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    tc = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("rep_pairs"),
    )
    lam = F.col("rep_pairs").cast("double") / (
        F.col("n_tokens").cast("double") * (F.col("n_tokens").cast("double") - 1.0)
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        lam.alias("simpson_lambda"),
        (F.lit(1.0) - lam).alias("gini_simpson"),
    )
