"""Pipeline utilities a training-data factory runs daily: deterministic
dataset splitting, distribution histograms, and table profiling.

All three are exact and oracle-checked: the split hashes content ids through
md5 (identical bytes→hex in every engine) rather than a per-engine PRNG, the
histogram uses exact integer bucketing, and the profile is a set of exact
aggregates. Determinism here is a scale property: a re-run on 100 TB must
assign every document to the same split — seeded ``rand()`` does not survive
a repartition, content hashing does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import (
    content_fingerprint,
    md5_int,
    split_bucket,
    sql_content_fingerprint,
    sql_md5_int,
    sql_split_bucket,
    sql_tokens,
    tokens,
)
from ..registry import register
from ..sources.parquet import load_table


@register(
    "q_train_test_split",
    oracle=f"""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN {sql_split_bucket("doc_id", 1, 10)} < 8
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash split: stable under re-runs, repartitions and engine
    swaps, unlike rand(seed) which is partition-layout-dependent. The split
    expr is ascii(first md5 hex char) % 10 < 8, which passes 12 of the 16
    equally-likely hex chars → a 75/25 split; any engine computing md5
    assigns every doc identically. (For an exact 80/20, bucket on two hex
    chars: conv(substr(md5,1,2),16,10) % 10 < 8.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "n_chars",
            F.when(split_bucket("doc_id", 1, 10) < 8, "train").otherwise("eval").alias("split"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "q_curation_pipeline",
    oracle=rf"""
    WITH clean AS (
      SELECT doc_id, lang, n_chars, text
      FROM documents
      WHERE n_chars >= 80
        AND len({sql_tokens("text")}) >= 15
    ),
    kept AS (
      SELECT max_by(doc_id, n_chars * 10000000000 - doc_id) AS doc_id,
             max_by(lang, n_chars * 10000000000 - doc_id) AS lang,
             max_by(n_chars, n_chars * 10000000000 - doc_id) AS n_chars,
             max_by(text, n_chars * 10000000000 - doc_id) AS text
      FROM clean
      GROUP BY {sql_content_fingerprint("text")}
    )
    SELECT CASE WHEN {sql_split_bucket("doc_id", 1, 10)} < 8
                THEN 'train' ELSE 'eval' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({sql_tokens("text")})) AS BIGINT)
             AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY 1, 2
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data curation chain as ONE lazy plan: quality filter (length +
    token-count floors) → exact dedup keeping the longest copy → content-hash
    train/eval split → per-(split, lang) corpus statistics. Catalyst fuses
    the whole chain into scan → filter → two hash aggregates: the filter
    reaches the parquet scan, dedup and the final rollup are the only
    shuffles, and nothing materializes in between — the composition argument
    for building curation on a relational engine rather than gluing scripts."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    clean = docs.filter((F.col("n_chars") >= 80) & (F.size(toks) >= 15))

    fingerprint = content_fingerprint(F.col("text"))
    quality = F.col("n_chars") * 10_000_000_000 - F.col("doc_id")
    kept = (
        clean.select("doc_id", "lang", "n_chars", "text", fingerprint.alias("fp"))
        .groupBy("fp")
        .agg(
            F.max_by("doc_id", quality).alias("doc_id"),
            F.max_by("lang", quality).alias("lang"),
            F.max_by("n_chars", quality).alias("n_chars"),
            F.max_by("text", quality).alias("text"),
        )
    )

    return (
        kept.select(
            F.when(split_bucket("doc_id", 1, 10) < 8, "train").otherwise("eval").alias("split"),
            "lang",
            "n_chars",
            F.size(toks).alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "q_stratified_sample",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (
             {sql_split_bucket("doc_id", 2, 16)}
               < (CASE WHEN lang = 'en' THEN 12 ELSE 4 END)
           ) AS n_sampled
    FROM documents
    GROUP BY lang
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — how a training mix is built
    (e.g. keep 75% of English, 25% of everything else). Membership is a
    content-hash bucket test per doc (hex char 2 of md5(doc_id), 16 equally
    likely values), NOT rand(seed): the sample is identical under re-runs,
    repartitions and engine swaps, and a doc's fate is decidable without
    global state — the property that lets a 100 TB corpus be sampled in one
    embarrassingly-parallel scan-side filter. Emitted as per-stratum
    totals + sampled counts (one conditional hash aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    rate16 = F.when(F.col("lang") == "en", 12).otherwise(4)
    return (
        docs.select("lang", (split_bucket("doc_id", 2, 16) < rate16).alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if("kept").alias("n_sampled"),
        )
    )


@register(
    "q_token_shard",
    oracle=rf"""
    WITH toks AS (
      SELECT lang, doc_id,
             len({sql_tokens("text")}) AS n_toks
      FROM documents
    ),
    cum AS (
      SELECT lang, doc_id, n_toks,
             CAST(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_toks
      FROM toks
    )
    SELECT lang,
           CAST(FLOOR((cum_toks - n_toks) / 2000.0) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS shard_tokens
    FROM cum
    GROUP BY 1, 2
    """,
)
def q_token_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment: pack each language's documents into
    ~2000-token training shards by running token count (a doc goes to the
    shard its EXCLUSIVE prefix sum falls in — the streaming-pack rule, so
    assignment depends only on the docs before it in (lang, doc_id) order,
    never on a global mutable packer). One window partitioned by lang + one
    hash aggregate; at 100 TB a single giant language would range-partition
    on doc_id with per-range offsets merged after (two-pass), same math."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(tokens("text"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = docs.select("lang", "doc_id", n_toks.alias("n_toks")).select(
        "lang",
        "n_toks",
        F.sum("n_toks").over(w).alias("cum_toks"),
    )
    shard = F.floor((F.col("cum_toks") - F.col("n_toks")) / 2000.0).cast("long")
    return (
        cum.select("lang", "n_toks", shard.alias("shard_id"))
        .groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("shard_tokens"),
        )
    )


_DRIFT_SPLIT_ID = 250  # doc_id < split = previous snapshot, >= split = new batch


@register(
    "q_profile_drift",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN doc_id < {_DRIFT_SPLIT_ID} THEN 'prev' ELSE 'new' END AS snap
      FROM documents
    ),
    counts AS (
      SELECT lang,
             COUNT(*) FILTER (snap = 'prev') AS n_prev,
             COUNT(*) FILTER (snap = 'new') AS n_new
      FROM tagged GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_prev) AS BIGINT) AS t_prev,
             CAST(SUM(n_new) AS BIGINT) AS t_new
      FROM counts
    )
    SELECT c.lang, c.n_prev, c.n_new,
           CAST(c.n_new AS DOUBLE) / t.t_new
             - CAST(c.n_prev AS DOUBLE) / t.t_prev AS rate_shift
    FROM counts c, tot t
    """,
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus snapshots — the check a daily
    ingest runs before promoting a batch ('did the language mix move?'),
    generalizing the reference's V-GATE from 'is this batch well-formed' to
    'does this batch look like the table' (doc_id halves stand in for the
    two snapshots). Per-category counts from ONE conditional hash aggregate
    over one scan; the two totals ride a broadcast 1-row cross join, so
    drift over a 100 TB corpus costs exactly one aggregation pass. The
    rate_shift doubles divide exact int64 counts — identical in both
    engines (registry float rules)."""
    docs = load_table(spark, sf_dir, "documents")
    prev = F.col("doc_id") < _DRIFT_SPLIT_ID
    counts = docs.groupBy("lang").agg(
        F.count_if(prev).alias("n_prev"),
        F.count_if(~prev).alias("n_new"),
    )
    tot = counts.agg(
        F.sum("n_prev").cast("long").alias("t_prev"),
        F.sum("n_new").cast("long").alias("t_new"),
    )
    return counts.join(F.broadcast(tot)).select(
        "lang",
        "n_prev",
        "n_new",
        (
            F.col("n_new").cast("double") / F.col("t_new")
            - F.col("n_prev").cast("double") / F.col("t_prev")
        ).alias("rate_shift"),
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / 50000) AS BIGINT) * 50000 AS bucket_lo,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a hash aggregate: the bucket expr is scalar,
    so the whole profile is one partial+final agg pass — the way to look at a
    100 TB distribution (never ORDER BY + window over raw rows)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return (
        orders.select(
            bucket.alias("bucket"), (bucket * 50000).alias("bucket_lo")
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) - COUNT(c_acctbal) AS acctbal_nulls,
           MIN(c_acctbal) AS acctbal_min,
           MAX(c_acctbal) AS acctbal_max,
           MIN(length(c_name)) AS name_len_min,
           MAX(length(c_name)) AS name_len_max,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling summary (null counts, distinct counts, ranges)
    — the quality gate a pipeline runs before promoting a batch (V-GATE,
    /root/reference/scrapper.py:139-144, generalized from 'date parsed?' to
    'does the batch look like the table')."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        (F.count(F.lit(1)) - F.count("c_acctbal")).alias("acctbal_nulls"),
        F.min("c_acctbal").alias("acctbal_min"),
        F.max("c_acctbal").alias("acctbal_max"),
        F.min(F.length("c_name")).cast("long").alias("name_len_min"),
        F.max(F.length("c_name")).cast("long").alias("name_len_max"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


# ---------------------------------------------------------------------------
# q_dataset_card — the one-row corpus summary a curation run publishes
# ---------------------------------------------------------------------------
@register(
    "q_dataset_card",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, lang, source, n_chars,
             CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END
               AS is_empty,
             CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len({sql_tokens("text")}) END
               AS n_toks,
             {sql_content_fingerprint("coalesce(text, '')")} AS fp
      FROM documents
    ),
    core AS (
      SELECT COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT lang) AS n_langs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             CAST(SUM(is_empty) AS BIGINT) AS n_empty,
             COUNT(DISTINCT fp) AS n_distinct_contents
      FROM base
    ),
    med AS (
      SELECT n_toks AS median_tokens
      FROM (SELECT n_toks,
                   row_number() OVER (ORDER BY n_toks, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM base)
      WHERE rn = (n + 1) // 2
    ),
    top_lang AS (
      SELECT lang AS top_lang, COUNT(*) AS top_lang_docs
      FROM base GROUP BY lang
      ORDER BY COUNT(*) DESC, lang ASC LIMIT 1
    )
    SELECT c.n_docs, c.n_sources, c.n_langs, c.total_chars, c.total_tokens,
           c.n_empty, c.n_distinct_contents,
           CAST(c.n_docs - c.n_distinct_contents AS DOUBLE)
             / CAST(c.n_docs AS DOUBLE) AS dup_rate,
           CAST(c.total_tokens AS DOUBLE) / CAST(c.n_docs AS DOUBLE)
             AS mean_tokens,
           m.median_tokens,
           t.top_lang,
           CAST(t.top_lang_docs AS DOUBLE) / CAST(c.n_docs AS DOUBLE)
             AS top_lang_share
    FROM core c, med m, top_lang t
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row: corpus size (docs/sources/langs/chars/
    tokens), hygiene (empty docs, exact-duplicate rate via the content
    fingerprint), central tendency (mean + positional median tokens) and
    language concentration (top language and its share) — the summary
    block every published training corpus ships, composed from the same
    primitives the detailed operators use (q_duplicate_stats' fingerprint,
    q_text_stats' tokenization, q_outlier_mad's positional median).

    One scan computes every per-doc feature; the card is then three tiny
    aggregates (global, median-rank, lang-mode) cross-joined — at 100 TB
    the scan dominates and everything after it is measured in kilobytes.
    Every emitted number is an exact integer, a data element, or one
    double division of exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    is_empty = (
        F.col("text").isNull() | (F.trim(F.col("text")) == "")
    ).cast("int")
    n_toks = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
    ).otherwise(F.size(tokens(F.col("text"))))
    fp = content_fingerprint(F.coalesce(F.col("text"), F.lit("")))
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        is_empty.alias("is_empty"),
        n_toks.alias("n_toks"),
        fp.alias("fp"),
    )
    core = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("is_empty").cast("long").alias("n_empty"),
        F.countDistinct("fp").alias("n_distinct_contents"),
    )
    w = Window.orderBy(F.col("n_toks").asc(), F.col("doc_id").asc())
    med = (
        base.select(
            "n_toks",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("n_toks").alias("median_tokens"))
    )
    top_lang = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("top_lang_docs"))
        .orderBy(F.col("top_lang_docs").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "top_lang_docs")
    )
    return (
        core.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(top_lang))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_chars",
            "total_tokens",
            "n_empty",
            "n_distinct_contents",
            (
                (F.col("n_docs") - F.col("n_distinct_contents")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
            (
                F.col("total_tokens").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("mean_tokens"),
            "median_tokens",
            "top_lang",
            (
                F.col("top_lang_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("top_lang_share"),
        )
    )


# ---------------------------------------------------------------------------
# q_weighted_sample — quality-weighted Bernoulli subsampling, deterministic
# ---------------------------------------------------------------------------
_WS_HEX_CHARS = 12  # 48 bits of md5 → the per-doc uniform draw


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             CASE WHEN text IS NULL THEN 0.0e0
                  ELSE least(1.0e0, CAST(strlen(text) AS DOUBLE)
                                    / 1000.0e0) END AS keep_p,
             {sql_md5_int("CAST(doc_id AS VARCHAR)", _WS_HEX_CHARS)} AS draw
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN CAST(draw AS DOUBLE)
                              / {float(16 ** _WS_HEX_CHARS)!r}e0 < keep_p
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN CAST(draw AS DOUBLE)
                              / {float(16 ** _WS_HEX_CHARS)!r}e0 < keep_p
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS kept_rate
    FROM scored
    GROUP BY lang
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli subsampling, fully deterministic: each
    document's keep probability is a quality proxy (length-capped score,
    the shape real pretraining mixes use after a model-based scorer), and
    its uniform draw is 48 bits of md5(doc_id) scaled to [0,1) — the
    content-hash discipline of q_train_test_split extended from fixed
    splits to PER-ROW probabilities. Same sample under re-runs,
    repartitions, and engines: no RNG anywhere, which is what makes a
    sampling operator auditable (and oracle-checkable) at all.

    Scan-side projection + one hash aggregate; no shuffle beyond the
    per-language rollup. The 48-bit draw keeps the uniform exactly
    representable in a double (< 2^53), so draw/16^12 < p is the same
    comparison in both engines bitwise."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = F.when(F.col("text").isNull(), F.lit(0.0)).otherwise(
        F.least(
            F.lit(1.0),
            F.octet_length(F.col("text")).cast("double") / F.lit(1000.0),
        )
    )
    draw = md5_int(F.col("doc_id").cast("string"), _WS_HEX_CHARS)
    kept = (
        draw.cast("double") / F.lit(float(16**_WS_HEX_CHARS)) < keep_p
    ).cast("int")
    return (
        docs.select("lang", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (
                F.sum("kept").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("kept_rate"),
        )
    )
