"""Sub-document dedup batch: block-level duplicate detection (the
RefinedWeb/CCNet sub-document grain), per-document duplication ratios,
template opening detection, and tokenizer fertility metrics.

Lineage: document-level dedup (operators/dedup.py) treats each document as
the unit; production curation ALSO dedups below the document — repeated
token blocks across documents are boilerplate/syndication to strip even
when the documents differ. The block here is a DISJOINT 10-token window
(stride = width): unlike the overlapping 5-grams of q_boilerplate_ngrams,
disjoint blocks give each token to exactly one unit, so per-doc
duplication ratios are well-defined fractions (a token counted once), and
the block table is 5× smaller than the overlapping-gram table — the grain
a 100 TB pass can afford. Hashing shares the portable md5 int64 with the
dedup batch.

Determinism: block identity is the md5 int64 of the space-joined
lowercased token window; all counts/ratios are exact integers with one
final division."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import md5_int, sql_md5_int, sql_tokens, tokens
from ..registry import register
from ..sources.parquet import load_table

_BLOCK_W = 10  # tokens per disjoint block
_HEADER_K = 5  # opening tokens defining a template header

# disjoint token blocks, both engines: tokenize → stride-10 windows →
# space-joined block text (docs shorter than one block emit nothing)
_SQL_BLOCKS = f"""
    tok AS (
      SELECT doc_id, lang, source,
             {sql_tokens("text")} AS w
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, lang, source,
             array_to_string(w[(b * {_BLOCK_W} + 1):(b * {_BLOCK_W} + {_BLOCK_W})], ' ') AS blk
      FROM tok, unnest(range(0, len(w) // {_BLOCK_W})) AS t(b)
      WHERE len(w) >= {_BLOCK_W}
    )
"""


def doc_blocks(docs: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, carry..., blk) disjoint 10-token blocks for any frame with
    (doc_id, text) columns — the SINGLE source of the block-derivation
    contract (lowercase, whitespace tokens, stride = width = 10), shared
    by the batch operators here and the streaming block index
    (streaming/block_index.py), so the two grains cannot drift apart."""
    tok = docs.select(
        "doc_id", *carry,
        tokens(F.col("text")).alias("w"),
    ).filter(F.size("w") >= _BLOCK_W)
    return tok.select(
        "doc_id", *carry,
        F.explode(
            F.expr(
                f"transform(sequence(0, size(w) div {_BLOCK_W} - 1),"
                f" b -> array_join(slice(w, b * {_BLOCK_W} + 1, {_BLOCK_W}), ' '))"
            )
        ).alias("blk"),
    )


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_blocks(load_table(spark, sf_dir, "documents"), "lang", "source")


# ---------------------------------------------------------------------------
# q_block_dedup — token blocks repeated across distinct documents
# ---------------------------------------------------------------------------
@register(
    "q_block_dedup",
    oracle=f"""
    WITH {_SQL_BLOCKS}
    SELECT {sql_md5_int('blk', 15)} AS block_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM blocks
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def q_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated token blocks — the sub-document dedup
    grain: a 10-token block appearing in ≥2 distinct documents is
    boilerplate or syndication, strippable without touching either
    document's unique content (document-level dedup cannot see this).
    ONE hash aggregate keyed on the 8-byte block hash; shuffle mass is
    (hash, doc_id), never text — the same shape as q_dedup_exact one
    grain down."""
    blocks = _blocks(spark, sf_dir)
    return (
        blocks.select(md5_int(F.col("blk"), 15).alias("block_hash"), "doc_id")
        .groupBy("block_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# q_doc_dup_ratio — per-document duplicated-block fraction
# ---------------------------------------------------------------------------
@register(
    "q_doc_dup_ratio",
    oracle=f"""
    WITH {_SQL_BLOCKS},
    hashed AS (
      SELECT doc_id, {sql_md5_int('blk', 15)} AS h FROM blocks
    ),
    shared AS (
      SELECT h FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
           CAST(CAST(SUM(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS dup_ratio
    FROM hashed LEFT JOIN shared ON hashed.h = shared.h
    GROUP BY doc_id
    """,
)
def q_doc_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication ratio: the fraction of a document's token
    blocks that also appear in other documents — the curation signal that
    distinguishes a syndicated/template page (high ratio → drop or strip)
    from an original one quoting a line (low ratio → keep). Because
    blocks are disjoint, the ratio is a true token-mass fraction. Plan:
    the shared-block set (sized by corpus boilerplate, not corpus size)
    broadcasts back onto the per-doc block list, then one aggregate per
    doc. Exact integer counts, one division."""
    blocks = _blocks(spark, sf_dir)
    hashed = blocks.select("doc_id", md5_int(F.col("blk"), 15).alias("h"))
    shared = (
        hashed.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select(F.col("h").alias("sh"))
    )
    joined = hashed.join(F.broadcast(shared), hashed.h == shared.sh, "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("sh").isNotNull(), 1).otherwise(0)).alias("n_dup_blocks"),
        (
            F.sum(F.when(F.col("sh").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# q_template_headers — documents sharing their opening tokens
# ---------------------------------------------------------------------------
_SQL_HEADER_EXPR = (
    f"array_to_string(({sql_tokens('text')})"
    f"[1:{_HEADER_K}], ' ')"
)


@register(
    "q_template_headers",
    oracle=f"""
    WITH pre AS (
      SELECT doc_id, source,
             {sql_md5_int(_SQL_HEADER_EXPR, 15)} AS h
      FROM documents
      WHERE len({sql_tokens("text")}) >= {_HEADER_K}
    )
    SELECT h AS header_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM pre
    GROUP BY h
    HAVING COUNT(*) >= 2
    """,
)
def q_template_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by shared document opening: documents whose
    first {k} tokens coincide are template siblings (near-dup docs share
    openings even when no later sentence survives verbatim); spanning
    multiple sources implies syndication rather than one site's
    boilerplate. Scan-side prefix hash, one aggregate — the cheapest
    template sweep that exists, run before any shingle machinery."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    pre = docs.select(
        "doc_id", "source",
        md5_int(F.array_join(F.slice(w, 1, _HEADER_K), " "), 15).alias("h"),
    ).where(F.size(w) >= _HEADER_K)
    return (
        pre.groupBy(F.col("h").alias("header_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )


q_template_headers.__doc__ = q_template_headers.__doc__.format(k=_HEADER_K)


# ---------------------------------------------------------------------------
# q_tokenizer_fertility — tokens-per-word / chars-per-token by language
# ---------------------------------------------------------------------------
@register(
    "q_tokenizer_fertility",
    oracle=rf"""
    WITH c AS (
      SELECT lang,
             CAST(SUM(len({sql_tokens("text")})) AS BIGINT) AS ws_tokens,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
             CAST(SUM(length(text)) AS BIGINT) AS chars,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, ws_tokens, bpe_tokens, chars,
           CAST(CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS DOUBLE) AS fertility,
           CAST(CAST(chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE) AS DOUBLE) AS chars_per_token
    FROM c
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish tokens per whitespace word
    and characters per token — the per-language cost model behind token
    budgeting and mixing-weight decisions (a language with 2× fertility
    costs 2× the compute per word; q_mixing_weights consumes exactly this
    signal). Same tokenizer contract as q_token_count (textstats). One
    scan, one tiny aggregate, two exact-count divisions."""
    docs = load_table(spark, sf_dir, "documents")
    bpe_re = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("ws_tokens"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(bpe_re), 0))).alias("bpe_tokens"),
        F.sum(F.length("text")).alias("chars"),
    )
    return c.select(
        "lang", "n_docs", "ws_tokens", "bpe_tokens", "chars",
        (F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double")).alias("fertility"),
        (F.col("chars").cast("double") / F.col("bpe_tokens").cast("double")).alias("chars_per_token"),
    )
