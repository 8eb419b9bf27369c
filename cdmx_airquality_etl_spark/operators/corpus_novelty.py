"""Corpus novelty and vocabulary-shape batch: first-occurrence n-gram
novelty, per-source token-distribution skew, and the first BPE merge step.

These extend the training-data curation surface (q_decontaminate /
q_boilerplate_ngrams / q_tokenizer_fertility family) with the three
questions a pretraining-data team asks right after dedup: how much of each
source is NEW text rather than re-statement of earlier documents
(q_ngram_novelty — the RefinedWeb-style novelty diagnostic), which sources
have a token distribution far from the corpus mix (q_source_skew_tv — the
sampling-weight sanity check), and what the tokenizer's first merges would
be on THIS corpus (q_bpe_first_merges — the BPE vocabulary bootstrap).
Lineage: the reference aggregates per-station pollutant mixes and flags
outlier stations (scrapper.py:200-247 report grain); source-level skew and
novelty are that same per-origin audit lifted to corpus text.

Determinism policy (SURVEY.md §5.1): every compared float is ONE final
fixed-shape expression over exact BIGINT / DECIMAL(38,0) sufficient
statistics — no order-dependent float sums, no libm on data-dependent
values. Total variation distance is accumulated in cross-multiplied
integer form |c_s·T − c_t·t_s| (exact in DECIMAL(38,0) / HUGEINT) rather
than |p − q| (an order-dependent float sum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import md5_int, split_bucket, sql_md5_int, sql_split_bucket
from ..functions.portable import sql_tokens, tokens
from ..registry import register
from .fanout import fan_out_scan
from ..sources.parquet import load_table

# 5-gram grain matches q_decontaminate's contamination unit; 15 hex chars of
# md5 fit a signed int64 (16^15 ≈ 1.15e18), so the shuffle key for the
# first-occurrence aggregate is an 8-byte fingerprint, not the gram text.
_NOV_N = 5
_NOV_HEX = 15

_TOKS_SQL = sql_tokens("text")

_BPE_TOP = 20


def _dec(col: Column) -> Column:
    return col.cast("decimal(38,0)")


def _doc_gram_fps(docs: DataFrame, *carry: str) -> DataFrame:
    """Distinct (carry..., fp) word-5-gram fingerprints per document.
    Shared by q_ngram_novelty and q_split_leakage so the gram grain and
    fingerprint derivation can never drift apart. ``carry`` must include
    doc_id (the distinct is per document)."""
    # round-13: fan the under-split scan to cluster width
    # (operators/fanout.py; no-op once the scan already splits) — gram
    # extraction + fingerprinting is the heavy map-side work of both
    # consumers and ran in ONE task at test scale; distinct/min/count
    # grains are placement-insensitive.
    toks = fan_out_scan(docs.filter(F.col("text").isNotNull())).select(
        *carry,
        tokens(F.col("text")).alias("ts"),
    ).filter(F.size("ts") >= _NOV_N)
    return (
        toks.select(
            *carry,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ts) - {_NOV_N - 1}), "
                    f"i -> array_join(slice(ts, i, {_NOV_N}), ' '))"
                )
            ).alias("gram"),
        )
        .select(*carry, md5_int(F.col("gram"), _NOV_HEX).alias("fp"))
        .distinct()
    )


# oracle-side twin of _doc_gram_fps: distinct (cols..., fp) from documents
def _sql_gram_fps(cols: str) -> str:
    return f"""
      SELECT DISTINCT {cols},
             {sql_md5_int("array_to_string(ts[i:i+4], ' ')", _NOV_HEX)} AS fp
      FROM (
        SELECT doc_id, lang, source, {_TOKS_SQL} AS ts
        FROM documents WHERE text IS NOT NULL
      ), UNNEST(range(1, len(ts) - 3)) AS u(i)
      WHERE len(ts) >= {_NOV_N}
    """


# ---------------------------------------------------------------------------
# q_ngram_novelty — per-source first-occurrence share of distinct 5-grams
# ---------------------------------------------------------------------------
@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS_SQL} AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, source,
             {sql_md5_int("array_to_string(ts[i:i+4], ' ')", _NOV_HEX)} AS fp
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS u(i)
      WHERE len(ts) >= {_NOV_N}
    ),
    dg AS (SELECT DISTINCT doc_id, source, fp FROM g),
    first AS (SELECT fp, MIN(doc_id) AS first_doc FROM dg GROUP BY fp)
    SELECT dg.source,
           CAST(COUNT(DISTINCT dg.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE dg.doc_id = first.first_doc)
                AS BIGINT) AS n_novel,
           CAST(COUNT(*) FILTER (WHERE dg.doc_id = first.first_doc)
                AS DOUBLE) / COUNT(*) AS novelty_rate
    FROM dg JOIN first USING (fp)
    GROUP BY dg.source
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the share of each source's distinct word
    5-grams whose FIRST corpus occurrence (min doc_id) is in that source's
    own documents — re-statement-heavy sources score low, original text
    scores high. This is the post-dedup curation diagnostic that
    q_doc_dup_ratio can't see: near-duplicate *fragments* spread across
    many non-duplicate documents.

    Scale shape: grams are fingerprinted to int64 (md5/15-hex, identical in
    both engines) BEFORE any shuffle, so the two wide ops — the distinct on
    (doc_id, source, fp) and the min(doc_id) hash aggregate per fp — move
    8-byte keys, never gram text. The first-occurrence table joins back on
    the same fp key (both sides hash-partitioned on fp), and the
    per-source rollup is a k≈20-row hash aggregate. No all-pairs anywhere;
    at 100 TB this is the same fingerprint-shuffle discipline as
    q_dedup_exact. novelty_rate is ONE BIGINT/BIGINT division (registry
    float rules)."""
    docs = load_table(spark, sf_dir, "documents")
    dg = _doc_gram_fps(docs, "doc_id", "source")
    first = dg.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    novel = F.count_if(F.col("doc_id") == F.col("first_doc"))
    return (
        dg.join(first, "fp")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q_source_skew_tv — exact total-variation distance source vs corpus
# ---------------------------------------------------------------------------
@register(
    "q_source_skew_tv",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS_SQL}) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    sc AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, t
    ),
    tc AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM sc GROUP BY t),
    st AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS ts,
             CAST(COUNT(*) AS BIGINT) AS n_vocab
      FROM sc GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM sc),
    num AS (
      SELECT sc.source,
             SUM(abs(CAST(sc.c AS HUGEINT) * tot.tt
                     - CAST(tc.ct AS HUGEINT) * st.ts)) AS present_num,
             SUM(CAST(tc.ct AS HUGEINT)) AS present_ct
      FROM sc
      JOIN tc USING (t)
      JOIN st ON st.source = sc.source
      CROSS JOIN tot
      GROUP BY sc.source
    )
    SELECT st.source, st.ts AS n_tokens, st.n_vocab,
           (CAST(num.present_num AS DOUBLE)
            + CAST(st.ts AS DOUBLE)
              * (CAST(tot.tt AS DOUBLE) - CAST(num.present_ct AS DOUBLE)))
           / (2.0 * CAST(st.ts AS DOUBLE) * CAST(tot.tt AS DOUBLE))
           AS tv_distance
    FROM st JOIN num ON num.source = st.source CROSS JOIN tot
    """,
)
def q_source_skew_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution skew: exact total-variation distance
    between each source's unigram distribution and the whole-corpus
    distribution — TV(p_s, p) = ½·Σ_t |p_s(t) − p(t)|. The mixing-weight
    sanity check that complements q_profile_drift (which sees only the
    lang MIX, not token content) and q_mixing_weights (which sets weights
    but can't see distributional distance).

    Exactness: the sum is accumulated in cross-multiplied integer form
    Σ|c_st·T − c_t·t_s| over DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) —
    order-independent — and tokens absent from a source enter through the
    complement identity Σ_absent c_t·t_s = t_s·(T − Σ_present c_t), so no
    outer join materializes the source×vocab cross product. ONE final
    fixed-shape double expression (registry float rules; every operand is
    an exact integer < 2^53, so the double conversions are lossless and
    identical in both engines).

    Scale shape: one (source, token) hash aggregate over the scan; the
    token totals, source totals, and grand total are all re-aggregated
    FROM those partials (never a second corpus scan); one join back on the
    token key; the ≤20-row source-total and 1-row grand-total tables ride
    broadcasts. At 100 TB the only wide ops shuffle (source, token)
    partial counts — the classic two-level word-count discipline."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    sc = (
        docs.select(
            "source",
            F.explode(
                tokens(F.col("text"))
            ).alias("t"),
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tc = sc.groupBy("t").agg(F.sum("c").cast("long").alias("ct"))
    st = sc.groupBy("source").agg(
        F.sum("c").cast("long").alias("ts"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    tot = sc.agg(F.sum("c").cast("long").alias("tt"))
    num = (
        sc.join(tc, "t")
        .join(F.broadcast(st.select("source", "ts")), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    _dec(F.col("c")) * F.col("tt")
                    - _dec(F.col("ct")) * F.col("ts")
                )
            ).alias("present_num"),
            F.sum(_dec(F.col("ct"))).alias("present_ct"),
        )
    )
    return (
        st.join(num, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("ts").alias("n_tokens"),
            "n_vocab",
            (
                (
                    F.col("present_num").cast("double")
                    + F.col("ts").cast("double")
                    * (
                        F.col("tt").cast("double")
                        - F.col("present_ct").cast("double")
                    )
                )
                / (
                    F.lit(2.0)
                    * F.col("ts").cast("double")
                    * F.col("tt").cast("double")
                )
            ).alias("tv_distance"),
        )
    )


# ---------------------------------------------------------------------------
# q_bpe_first_merges — most frequent adjacent symbol pairs (BPE step one)
# ---------------------------------------------------------------------------
@register(
    "q_bpe_first_merges",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
      SELECT substr(t, i, 2) AS pair
      FROM tok, UNNEST(range(1, length(t))) AS u(i)
      WHERE length(t) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS c
    FROM pairs
    GROUP BY pair
    ORDER BY c DESC, pair
    LIMIT {_BPE_TOP}
    """,
)
def q_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge candidates: the {_BPE_TOP} most frequent ADJACENT
    character pairs within whitespace tokens, the exact statistic byte-pair
    encoding training computes on its first iteration (Sennrich et al.
    2016 §3: "count all symbol pairs and replace the most frequent").
    Running it over the corpus answers "what vocabulary would a tokenizer
    trained HERE start with" — the bootstrap twin of q_tokenizer_fertility
    (which evaluates a FIXED vocabulary) and q_vocab_coverage (which sizes
    its budget).

    Scale shape: pair extraction is a native explode over a generated
    index sequence (no UDF; stays in whole-stage codegen), followed by one
    hash aggregate on a ≤4-byte-pair key domain (bounded by charset², so
    the reduce side is tiny regardless of corpus size) and a global top-k
    (TakeOrderedAndProject — never a full sort). Deterministic tie-break
    on the pair text keeps both engines' LIMIT identical."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    pairs = docs.select(
        F.explode(
            tokens(F.col("text"))
        ).alias("t")
    ).filter(F.length("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(t) - 1), "
                "i -> substring(t, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# q_split_leakage — n-gram leakage audit between the content-hash splits
# ---------------------------------------------------------------------------
@register(
    "q_split_leakage",
    oracle=f"""
    WITH dg AS ({_sql_gram_fps("doc_id, lang")}),
    split_g AS (
      SELECT dg.*, CASE WHEN {sql_split_bucket('doc_id', 1, 10)} < 8
                   THEN 'train' ELSE 'eval' END AS split FROM dg
    ),
    train_fp AS (SELECT DISTINCT fp FROM split_g WHERE split = 'train'),
    eval_docs AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(*) FILTER (WHERE fp IN (SELECT fp FROM train_fp))
                  AS BIGINT) AS n_shared
      FROM split_g WHERE split = 'eval'
      GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
           CAST(COUNT(*) FILTER (WHERE n_shared > 0) AS BIGINT)
             AS n_leaked_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_eval_grams,
           CAST(SUM(n_shared) AS BIGINT) AS n_shared_grams,
           CAST(SUM(n_shared) AS DOUBLE) / SUM(n_grams) AS gram_leak_rate
    FROM eval_docs
    GROUP BY lang
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split integrity audit: for the content-hash split
    q_train_test_split defines (same md5 bucket rule, re-rendered here so
    the two queries pin the SAME split), count how many eval documents
    share at least one word 5-gram with ANY train document, and what
    fraction of eval gram mass is train-contaminated. This is
    q_decontaminate pointed at the pipeline's own split instead of an
    external benchmark — the audit that catches near-duplicate pairs
    straddling the split boundary and silently inflating eval scores.

    Scale shape: gram fingerprints are int64 (shared _doc_gram_fps grain
    with q_ngram_novelty); the train-gram set and the eval grams join on
    the fp key — a hash semi-join marking each eval gram, never an
    all-pairs doc comparison. Per-doc rollup then a 5-row lang rollup.
    The train side at 100 TB is NOT broadcastable (unlike
    q_decontaminate's benchmark side) — this plan shuffles both sides on
    fp, which is exactly the degradation path that query's docstring
    promises past broadcast size. gram_leak_rate is ONE BIGINT division
    (registry float rules)."""
    docs = load_table(spark, sf_dir, "documents")
    dg = _doc_gram_fps(docs, "doc_id", "lang").withColumn(
        "split", F.when(split_bucket("doc_id", 1, 10) < 8, "train").otherwise("eval")
    )
    train_fp = dg.filter(F.col("split") == "train").select("fp").distinct()
    eval_g = dg.filter(F.col("split") == "eval")
    marked = eval_g.join(
        train_fp.withColumn("shared", F.lit(1)), "fp", "left"
    )
    per_doc = marked.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_if(F.col("shared").isNotNull()).alias("n_shared"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_eval_docs"),
        F.count_if(F.col("n_shared") > 0).alias("n_leaked_docs"),
        F.sum("n_grams").cast("long").alias("n_eval_grams"),
        F.sum("n_shared").cast("long").alias("n_shared_grams"),
        (
            F.sum("n_shared").cast("double") / F.sum("n_grams")
        ).alias("gram_leak_rate"),
    )
