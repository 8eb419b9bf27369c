"""Training-corpus hygiene operators: benchmark decontamination, deterministic
global shuffle, and intra-document repetition scoring.

These are the three ops an LLM-data pipeline runs between curation and
training that the rest of the surface doesn't cover: (1) remove training
documents that leak evaluation-benchmark content (n-gram overlap, the
standard GPT-3/PaLM-style decontamination rule), (2) shuffle the corpus
deterministically so shard N of a re-run is byte-identical (content-hash
order, never a PRNG), and (3) score each document's internal repetition
(Gopher-style quality rule: boilerplate and SEO spam repeat their own
n-grams).

Scale notes are per-operator; the common thread is that every per-document
computation stays scan-side (no shuffle) and every corpus-wide step is a
single hash aggregate or an equi-join on an n-gram key — never all-pairs,
never a global single-reducer sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions import word_shingles
from ..functions.portable import md5_int, sql_md5_int, sql_tokens, tokens
from ..registry import register
from .fanout import fan_out_scan
from ..sources.parquet import load_table

# Word n-gram length for decontamination. Real pipelines use 8-13-gram
# overlap (GPT-3 used 13-grams); the synthetic corpus draws from a small
# vocabulary, so 5-grams give the same mechanics with observable overlap.
_DECON_N = 5

_TOKS_SQL = sql_tokens("text")
# DuckDB list slice is 1-based inclusive; range(a, b) is [a, b).
_GRAMS_SQL = (
    f"CASE WHEN len(toks) >= {_DECON_N} THEN "
    f"[array_to_string(toks[i:i+{_DECON_N - 1}], ' ') "
    f"FOR i IN range(1, len(toks) - {_DECON_N - 2})] "
    "ELSE [] END"
)
# Spark side: word_shingles' shifted-zip formulation, NOT a naive
# transform(sequence, i -> slice...) — projection collapsing inlines the
# split into the lambda and re-evaluates it per gram index (measured 40×
# slower, see functions/text.py:90-97). Gated so docs shorter than n grams
# yield [], matching the oracle's range() semantics.


def _grams_spark(n: int):
    return F.when(
        F.size(tokens(F.col("text"))) >= n,
        word_shingles(F.col("text"), k=n),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "q_decontaminate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, lang, {_TOKS_SQL} AS toks FROM documents
    ),
    ng AS (
      SELECT doc_id, source, lang, unnest({_GRAMS_SQL}) AS gram FROM tok
    ),
    bench AS (SELECT DISTINCT gram FROM ng WHERE source = 'src0'),
    contaminated AS (
      SELECT DISTINCT ng.doc_id
      FROM ng JOIN bench USING (gram)
      WHERE ng.source <> 'src0'
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (doc_id IN (SELECT doc_id FROM contaminated))
             AS n_contaminated
    FROM documents
    WHERE source <> 'src0'
    GROUP BY lang
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a training document is contaminated if it
    shares any word 5-gram with the held-out benchmark set (here: the
    ``src0`` slice stands in for the benchmark). Reported as per-language
    contaminated counts; the production variant anti-joins the flagged ids
    away instead of counting them.

    Scale shape: the benchmark side is tiny relative to the corpus (MMLU +
    HumanEval + friends is ~10^6 n-grams vs 10^12 for the corpus), so its
    distinct gram set is BROADCAST and contamination detection is a
    scan-side explode + broadcast semi-join — zero shuffles for the corpus.
    Past broadcastability (~100 MB of grams) the same plan degrades to a
    shuffle semi-join on the gram key, still never all-pairs. Generalizes
    the reference's keyed membership checks (/root/reference/scrapper.py:
    224-244 upsert key matching) to fuzzy content membership.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The benchmark branch and the corpus branch consume DISJOINT slices
    # (source == src0 vs != src0), so each document's grams are exploded
    # exactly once either way — no shared subtree, nothing worth caching.
    # Filtering BEFORE the explode pushes the source predicate into the
    # parquet scan, and the exploded gram stream (orders of magnitude larger
    # than the input at corpus scale) is never materialized to executor
    # memory — it flows straight into the distinct / semi-join exchanges.
    bench = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(_grams_spark(_DECON_N)).alias("gram"))
        .distinct()
    )
    contaminated = (
        # round-13: fan out the corpus branch (the big side; the filter
        # still pushes into the scan below the repartition)
        fan_out_scan(docs.filter(F.col("source") != "src0"))
        .select("doc_id", F.explode(_grams_spark(_DECON_N)).alias("gram"))
        .join(broadcast(bench), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("source") != "src0")
        .join(contaminated.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
        )
    )


# Shard sizing for the deterministic shuffle: shard count scales with the
# corpus (clamped) so per-shard rank state stays ~_SHUF_TARGET_DOCS rows
# per reducer no matter the corpus size — a FIXED count would make each
# shard O(n) and the rank window a fat reducer at 100 TB. The shard key is
# the portable md5_int of the seeded id over 4 hex digits, a uniform
# 0..65535 hash to take modulo the corpus-sized count.
_SHUF_TARGET_DOCS = 64
_SHUF_MIN_SHARDS = 8
_SHUF_MAX_SHARDS = 65536
_SHUF_SEEDED_SQL = "'shuf42:' || CAST(doc_id AS VARCHAR)"
_SHUF_KEY_SQL = f"md5({_SHUF_SEEDED_SQL})"
_SHUF_NSHARDS_SQL = (
    f"LEAST({_SHUF_MAX_SHARDS}, GREATEST({_SHUF_MIN_SHARDS}, "
    f"CAST(CEIL(COUNT(*) / {_SHUF_TARGET_DOCS}.0) AS INT)))"
)


def _shuf_seeded_spark():
    return F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))


def _shuf_key_spark():
    return F.md5(_shuf_seeded_spark())


@register(
    "q_global_shuffle",
    oracle=f"""
    WITH ns AS (SELECT {_SHUF_NSHARDS_SQL} AS nshards FROM documents),
    keyed AS (
      SELECT doc_id, ({sql_md5_int(_SHUF_SEEDED_SQL, 4)}) % ns.nshards AS shard_id
      FROM documents, ns
    )
    SELECT doc_id,
           CAST(shard_id AS BIGINT) AS shard_id,
           row_number() OVER (
             PARTITION BY shard_id
             ORDER BY {_SHUF_KEY_SQL}, doc_id
           ) AS pos_in_shard
    FROM keyed
    """,
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    every document gets a content-hash key (md5 of a seed + doc_id), a
    shard = hash bucket, and a position = rank of the key within the
    shard. Re-running on a repartitioned 100 TB corpus reproduces the
    exact same (shard, position) for every doc — the property seeded
    ``rand()`` or ``monotonically_increasing_id`` cannot give — so shard
    files are byte-stable and a training run is resumable mid-epoch.

    Scale shape: shard count grows with the corpus (one in-plan COUNT,
    same pattern as the LSH bit sizing) so each rank reducer holds
    ~64 docs regardless of corpus size, and the window is
    PARTITIONED by shard — a single hash-partitioned sort, parallel
    across shards, never a global single-reducer ORDER BY and never a fat
    per-shard reducer. Epoch N+1 = new seed string.
    """
    docs = load_table(spark, sf_dir, "documents")
    nshards = docs.agg(
        F.least(
            F.lit(_SHUF_MAX_SHARDS),
            F.greatest(
                F.lit(_SHUF_MIN_SHARDS),
                F.ceil(F.count(F.lit(1)) / _SHUF_TARGET_DOCS).cast("int"),
            ),
        ).alias("nshards")
    )
    key = _shuf_key_spark()
    shard = (md5_int(_shuf_seeded_spark(), 4) % F.col("nshards")).cast("bigint")
    keyed = docs.join(broadcast(nshards)).select(
        "doc_id", shard.alias("shard_id")
    )
    w = Window.partitionBy("shard_id").orderBy(key, F.col("doc_id"))
    return keyed.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).alias("pos_in_shard"),
    )


_BOILERPLATE_TOPK = 20


@register(
    "q_boilerplate_ngrams",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    ng AS (
      SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram FROM tok
    )
    SELECT gram, COUNT(*) AS doc_freq
    FROM ng
    GROUP BY gram
    ORDER BY doc_freq DESC, gram ASC
    LIMIT {_BOILERPLATE_TOPK}
    """,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detector: the 20 word 5-grams appearing in
    the most documents (document frequency over per-doc DISTINCT grams, so a
    gram repeated inside one page counts once). The output IS the removal
    list a curation run feeds back as a filter — cookie banners, nav bars
    and license headers dominate it on a real crawl. Scale shape: scan-side
    gram arrays → one hash aggregate on the gram key (map-side partial
    combine absorbs the duplication) → TakeOrderedAndProject; ties broken
    by gram text so the top-k is deterministic across engines."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        # round-13 under-split scan fan-out: the gram expansion is the
        # query's map-side cost and ran single-task at test scale
        fan_out_scan(docs).select(F.array_distinct(_grams_spark(_DECON_N)).alias("grams"))
        .select(F.explode("grams").alias("gram"))
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(_BOILERPLATE_TOPK)
    )


# Context-window budget for greedy sequence packing (tokens per bin).
_PACK_CAP = 2000


def pack_bins(sizes: list[int], cap: int) -> list[int]:
    """The pure packing recurrence (1-based bin id per item, in order): a
    new bin opens whenever the running sum would exceed ``cap``; an item
    larger than ``cap`` gets a bin of its own. Property-tested directly in
    tests/test_llm_ops.py; the Spark operator applies it per group."""
    bin_ids = []
    bin_id, bin_sum = 0, cap + 1  # first item always opens bin 1
    for n in sizes:
        if bin_sum + n > cap:
            bin_id, bin_sum = bin_id + 1, n
        else:
            bin_sum += n
        bin_ids.append(bin_id)
    return bin_ids


@register(
    "q_pack_sequences",
    oracle=rf"""
    WITH RECURSIVE toks AS (
      SELECT lang, doc_id,
             len({_TOKS_SQL}) AS n_toks,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT lang, doc_id, n_toks, rn, 1 AS bin_id, n_toks AS bin_sum
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.doc_id, t.n_toks, t.rn,
             CASE WHEN p.bin_sum + t.n_toks > {_PACK_CAP}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.bin_sum + t.n_toks > {_PACK_CAP}
                  THEN t.n_toks ELSE p.bin_sum + t.n_toks END
      FROM packed p JOIN toks t ON t.lang = p.lang AND t.rn = p.rn + 1
    )
    SELECT lang, CAST(bin_id AS BIGINT) AS bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit sequence packing: walk each language's documents in
    doc_id order, start a new training bin whenever the running token sum
    would exceed the context budget — so no document is ever split across
    bins (the boundary-respecting alternative to q_token_shard's
    concat-then-chunk rule). Bin assignment is a cumulative-sum-WITH-RESET
    recurrence, which window algebra cannot express (each reset depends on
    the previous reset), so this is the surface's one legitimate
    applyInPandas operator: Arrow-batched, grouped by lang, O(1) state per
    group (one running sum), emitting per-bin summaries — and still
    oracle-exact, checked against a recursive-CTE reimplementation.

    At 100 TB a single language exceeds one task: range-partition each
    language on doc_id, pack ranges independently (this same operator),
    then merge only the per-range boundary bins in a cheap second pass over
    |ranges| rows — the standard split-point refinement, same math as
    q_token_shard's note.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(tokens(F.col("text"))).alias("n_toks")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        pdf = pdf.assign(bin_id=pack_bins(list(pdf["n_toks"]), _PACK_CAP))
        out = pdf.groupby("bin_id", as_index=False).agg(
            lang=("lang", "first"),
            n_docs=("doc_id", "size"),
            bin_tokens=("n_toks", "sum"),
        )
        return out[["lang", "bin_id", "n_docs", "bin_tokens"]]

    return toks.groupBy("lang").applyInPandas(
        pack, "lang string, bin_id bigint, n_docs bigint, bin_tokens bigint"
    )


# 3-gram repetition (Gopher's "duplicate n-gram fraction" family).
_REP_N = 3
_REP_GRAMS_SQL = (
    f"CASE WHEN len(toks) >= {_REP_N} THEN "
    f"[array_to_string(toks[i:i+{_REP_N - 1}], ' ') "
    f"FOR i IN range(1, len(toks) - {_REP_N - 2})] "
    "ELSE [] END"
)


@register(
    "q_repetition_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, {_REP_GRAMS_SQL} AS grams FROM tok
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           CASE WHEN len(grams) > 0
                THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                ELSE 0.0 END AS dup_ratio
    FROM g
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score: fraction of duplicated word
    3-grams (1 − distinct/total), the Gopher-rule signal that catches
    boilerplate, keyword stuffing and template spam. The downstream filter
    is ``dup_ratio > threshold``; emitting the score keeps the oracle
    exact.

    Scale shape: entirely scan-side — grams, distinct-count and ratio are
    per-row array expressions inside whole-stage codegen, so the operator
    is a zero-shuffle projection over the corpus; both engines compute the
    ratio as one correctly-rounded double division of exact ints, so the
    cross-engine hash is stable (registry.py float rules).
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select("doc_id", _grams_spark(_REP_N).alias("grams"))
    n = F.size("grams").cast("bigint")
    nd = F.size(F.array_distinct("grams")).cast("bigint")
    return g.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.when(n > 0, F.lit(1.0) - nd.cast("double") / n)
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# q_chunk_documents — sliding-window chunking into training sequences
# ---------------------------------------------------------------------------
# The chunker every pretraining pipeline runs between curation and packing:
# long documents become overlapping fixed-token windows. Window starts are
# i·stride for i = 0..floor((n_tokens-1)/stride), so every token is covered
# and consecutive chunks overlap by (chunk - stride) tokens. Sized small
# (20/15) because the synthetic docs average ~55 tokens; production uses
# 2048/1920-shaped values with the same plan.
_CHUNK_TOKS = 20
_CHUNK_STRIDE = 15


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           array_to_string(
             toks[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_TOKS}],
             ' ') AS chunk_text,
           CAST(len(toks[i * {_CHUNK_STRIDE} + 1 :
                         i * {_CHUNK_STRIDE} + {_CHUNK_TOKS}]) AS BIGINT)
             AS n_chunk_tokens
    FROM tok, LATERAL unnest(range(0, CAST(floor((len(toks) - 1)
                                               / {_CHUNK_STRIDE}) AS BIGINT) + 1))
         AS t(i)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document's token stream into
    windows of _CHUNK_TOKS tokens every _CHUNK_STRIDE (overlap = 5 tokens),
    one output row per (doc, window) — the document→training-sequence
    explode that feeds q_pack_sequences. Start offsets are a pure
    arithmetic sequence, window slices are native ``slice`` over the token
    array, and chunk ids are positional — all content-derived, so output
    is stable under re-runs and repartitioning.

    Scale shape: entirely scan-side — tokenize once per row, explode the
    window-start sequence (Generate, no shuffle), slice + join per window
    inside WholeStageCodegen. Zero exchanges at any corpus size; output
    volume is the ~(1/stride)-fold token duplication the overlap policy
    itself demands. Tail windows shorter than the chunk size are emitted
    (n_chunk_tokens tells the packer), matching the oracle's slice
    semantics exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
    )
    starts = F.sequence(
        F.lit(0),
        F.floor((F.size("toks") - 1) / _CHUNK_STRIDE).cast("int"),
    )
    exploded = toks.select("doc_id", "toks", F.explode(starts).alias("i"))
    window = F.slice(
        F.col("toks"), F.col("i") * _CHUNK_STRIDE + 1, _CHUNK_TOKS
    )
    return exploded.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# q_cap_per_source — per-source document caps by content-hash rank
# ---------------------------------------------------------------------------
# The domain-cap rule of crawl curation: no source may contribute more than
# K documents. Selection is by content-hash rank (md5 of the text, doc_id
# tiebreak), so which K survive is a pure function of the data — stable
# under re-runs, repartitioning and cluster size, and unbiased toward
# ingest order (a head(K) would keep whatever happened to arrive first).
_SOURCE_CAP = 15


@register(
    "q_cap_per_source",
    oracle=f"""
    SELECT source, doc_id, CAST(keep_rank AS BIGINT) AS keep_rank
    FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(text) ASC NULLS LAST, doc_id ASC)
               AS keep_rank
      FROM documents
    )
    WHERE keep_rank <= {_SOURCE_CAP}
    """,
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: keep at most _SOURCE_CAP documents per source,
    chosen by content-hash rank — the anti-domination rule a crawl corpus
    applies so no single domain floods the training mix.

    Scale shape: rank ≤ K over (source) compiles to WindowGroupLimit —
    every map task pre-cuts its partition to K rows per source BEFORE the
    exchange, so the shuffle carries O(sources · K · tasks) rows, not the
    corpus, and the final per-source pass is over ≤ K·tasks rows. No
    single-reducer risk even for a source owning half the corpus. md5
    renders as lowercase hex in both engines, so the rank order — and
    therefore the kept set — is identical under the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    # NULLS LAST pinned on both sides: Spark's asc() defaults nulls-first,
    # DuckDB's ASC nulls-last — a NULL text would silently reorder the kept
    # set between engines otherwise
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("text")).asc_nulls_last(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("long").alias("keep_rank")
        )
        .filter(F.col("keep_rank") <= _SOURCE_CAP)
    )


# ---------------------------------------------------------------------------
# q_negative_sampling — deterministic hash-based contrastive negatives
# ---------------------------------------------------------------------------
_NEG_K = 4  # candidate slots per anchor


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    cand AS (
      SELECT e.vec_id AS anchor_id, e.label AS anchor_label,
             CAST(t.slot AS BIGINT) AS slot,
             {sql_md5_int("'neg|' || e.vec_id || '|' || t.slot", 12)} % nv.n
               AS neg_id
      FROM embeddings e, nv, unnest(range(0, {_NEG_K})) AS t(slot)
    )
    SELECT c.anchor_id, c.slot, c.neg_id,
           c.anchor_label, b.label AS neg_label
    FROM cand c JOIN embeddings b ON c.neg_id = b.vec_id
    WHERE b.label <> c.anchor_label AND c.neg_id <> c.anchor_id
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor vector draws {k} pseudo-random candidates by hashing
    (anchor_id, slot) into the dense vec_id domain, keeps those with a
    DIFFERENT label, and drops self-hits — re-runs are byte-identical
    (content-hash order, never a PRNG — the q_global_shuffle policy).
    The scale story is the point: candidate generation is map-side ({k}
    rows per anchor), resolution is ONE equi-join on vec_id — never the
    all-pairs anchor x corpus scan a naive sampler does. The corpus size
    scalar attaches via a broadcast scalar aggregate (plan-shape-gate
    bounded); at 100 TB the join hash-partitions on vec_id like any fact
    join. Slots that hash to a same-label or self candidate are dropped
    rather than re-drawn — the deterministic variant of rejection
    sampling (downstream takes the surviving ≤{k} negatives per anchor).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nv = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cand = (
        emb.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("slot"),
        )
        .crossJoin(broadcast(nv))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("slot").cast("long").alias("slot"),
            (
                md5_int(
                    F.concat(
                        F.lit("neg|"),
                        F.col("anchor_id").cast("string"),
                        F.lit("|"),
                        F.col("slot").cast("string"),
                    ),
                    12,
                )
                % F.col("n")
            ).alias("neg_id"),
        )
    )
    b = emb.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label"))
    return (
        cand.join(b, "neg_id")
        .filter(
            (F.col("neg_label") != F.col("anchor_label"))
            & (F.col("neg_id") != F.col("anchor_id"))
        )
        .select("anchor_id", "slot", "neg_id", "anchor_label", "neg_label")
    )


q_negative_sampling.__doc__ = q_negative_sampling.__doc__.format(k=_NEG_K)


# ---------------------------------------------------------------------------
# q_prefix_sharing — prefix-cache ROI: how much prefix mass is duplicated
# ---------------------------------------------------------------------------
_PREFIX_K = 8  # prefix length (tokens) a KV/prefix cache would key on


@register(
    "q_prefix_sharing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
      WHERE text IS NOT NULL
    ),
    pfx AS (
      SELECT doc_id,
             md5(array_to_string(ts[1:{_PREFIX_K}], ' ')) AS pfx_fp
      FROM toks WHERE len(ts) >= {_PREFIX_K}
    ),
    grp AS (
      SELECT pfx_fp, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pfx GROUP BY pfx_fp
    )
    SELECT n_docs AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS docs_total,
           CAST(SUM(n_docs - 1) * {_PREFIX_K} AS BIGINT)
             AS cacheable_prefix_tokens
    FROM grp GROUP BY n_docs
    """,
)
def q_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache ROI table: group documents by the fingerprint of
    their first {k} tokens and histogram the group sizes — every doc
    beyond the first in a group could skip its prefix's compute under a
    prefix/KV cache (vLLM-style automatic prefix caching), so
    cacheable_prefix_tokens = Σ(group−1)·{k} is the saved prefill mass.
    The serving-side twin of q_boilerplate_ngrams (which finds repeated
    mass anywhere; caches only exploit it at position 0).

    Scale shape: one scan → md5 of the first-{k}-token slice (16-byte
    shuffle key, the q_dedup_exact discipline) → two stacked hash
    aggregates (prefix-cardinality, then group-size-cardinality). All
    exact integers."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ts = tokens(F.col("text"))
    pfx = docs.select(ts.alias("ts")).filter(F.size("ts") >= _PREFIX_K).select(
        F.md5(F.array_join(F.slice("ts", 1, _PREFIX_K), " ")).alias("pfx_fp")
    )
    grp = pfx.groupBy("pfx_fp").agg(F.count(F.lit(1)).alias("n_docs"))
    return grp.groupBy(F.col("n_docs").alias("group_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_docs").cast("long").alias("docs_total"),
        (F.sum(F.col("n_docs") - 1) * _PREFIX_K).cast("long").alias(
            "cacheable_prefix_tokens"
        ),
    )


q_prefix_sharing.__doc__ = q_prefix_sharing.__doc__.format(k=_PREFIX_K)


# ---------------------------------------------------------------------------
# q_dsir_weights — importance-resampling weights for domain-targeted
# data selection
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 256  # hashed n-gram feature space (2^8)
_DSIR_TARGET_LANG = "en"  # the "target domain" the raw corpus is scored to


@register(
    "q_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    feat AS (
      SELECT doc_id, lang,
             {sql_md5_int("'dsir|' || t", 12)} % {_DSIR_BUCKETS} AS f
      FROM tok WHERE t <> ''
    ),
    raw AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS cr FROM feat GROUP BY f),
    tgt AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS ct
      FROM feat WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY f
    ),
    tots AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nr,
             CAST(COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}')
                  AS BIGINT) AS nt
      FROM feat
    ),
    ratio AS (
      SELECT raw.f,
             (CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                * (tots.nr + {_DSIR_BUCKETS}))
             / (CAST(raw.cr + 1 AS DOUBLE)
                * (tots.nt + {_DSIR_BUCKETS})) AS rho
      FROM raw LEFT JOIN tgt USING (f), tots
    ),
    docf AS (
      SELECT doc_id, lang, f, CAST(COUNT(*) AS BIGINT) AS c
      FROM feat GROUP BY doc_id, lang, f
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.c) AS BIGINT) AS n_toks,
           list_reduce(list(d.c * (r.rho - 1.0) ORDER BY d.f),
                       (a, b) -> a + b) AS dsir_score
    FROM docf d JOIN ratio r ON d.f = r.f
    GROUP BY d.doc_id, d.lang
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023): score
    every raw-corpus document by how much its hashed-unigram feature
    distribution looks like the TARGET domain (here: the corpus's
    '{_DSIR_TARGET_LANG}' slice) versus the raw corpus overall. Per
    feature bucket f the add-one-smoothed probability ratio is
    rho_f = p_target(f) / p_raw(f); a document's weight folds its own
    feature counts against the centered ratios, Σ_f c_f·(rho_f − 1)
    — DSIR's log-likelihood-ratio replaced by its linear-space surrogate
    because ln() is not bitwise-portable across engines (the module's
    no-log-space discipline; the ranking is what selection consumes, and
    centering keeps neutral text at 0).

    Scale shape: tokenize scan-side, ONE feature-grain aggregate for each
    of the two LMs (the shuffle key is the 2^8 feature space, not the
    corpus), broadcast the ≤{_DSIR_BUCKETS}-row ratio table into the
    per-document fold — the corpus is never joined to itself and the only
    corpus-sized shuffle is the (doc, feature) aggregate. Determinism:
    counts are exact BIGINTs, rho is a fixed-shape double expression, and
    the per-document sum is a SEQUENTIAL FOLD over feature-id-sorted
    terms (the q_neyman_allocation discipline) — bitwise-equal in both
    engines; the feature hash is the portable md5-prefix contract
    (portable.md5_int)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feat = (
        # round-13: scan fan-out measured flat-to-negative here (paired
        # 1.50 -> 1.57 s; the two feature-grain aggregates dominate, both
        # already parallel after their exchange) — reverted
        docs.select(
            "doc_id",
            "lang",
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        .filter(F.col("t") != "")
        .select(
            "doc_id",
            "lang",
            (
                md5_int(F.concat(F.lit("dsir|"), F.col("t")), 12)
                % _DSIR_BUCKETS
            ).alias("f"),
        )
    )
    raw = feat.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        feat.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("f")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    tots = feat.agg(
        F.count(F.lit(1)).cast("long").alias("nr"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1))
        .cast("long")
        .alias("nt"),
    )
    ratio = (
        raw.join(tgt, "f", "left")
        .crossJoin(broadcast(tots))
        .select(
            "f",
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                * (F.col("nr") + _DSIR_BUCKETS)
                / (
                    (F.col("cr") + 1).cast("double")
                    * (F.col("nt") + _DSIR_BUCKETS)
                )
            ).alias("rho"),
        )
    )
    docf = feat.groupBy("doc_id", "lang", "f").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        docf.join(broadcast(ratio), "f")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("f", "c", "rho"))
                    ),
                    lambda x: x["c"] * (x["rho"] - 1.0),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("dsir_score"),
        )
    )
