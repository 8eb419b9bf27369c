"""Semantics + plan-shape tests for the corpus-hygiene operators
(q_decontaminate, q_global_shuffle, q_repetition_score, q_pack_sequences)."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.registry import QUERIES
from cdmx_airquality_etl_spark.sources.parquet import load_table
from tests.helpers import query_plan


# ---------------------------------------------------------------------------
# q_decontaminate
# ---------------------------------------------------------------------------
def test_decontaminate_counts_partition_corpus(spark, sf_dir):
    rows = {r["lang"]: r for r in QUERIES["q_decontaminate"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").filter(F.col("source") != "src0")
    per_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert {r.lang for r in rows.values()} == set(per_lang)
    for lang, r in rows.items():
        assert r["n_docs"] == per_lang[lang]
        assert 0 <= r["n_contaminated"] <= r["n_docs"]


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    # the benchmark side must be the broadcast side of the semi-join: the
    # corpus never shuffles for contamination detection
    plan = query_plan(spark, sf_dir, "q_decontaminate")
    assert "BroadcastHashJoin" in plan
    semi_lines = [l for l in query_plan(spark, sf_dir, "q_decontaminate", "simple").splitlines() if "LeftSemi" in l]
    assert semi_lines and all("Broadcast" in l for l in semi_lines)


# ---------------------------------------------------------------------------
# q_global_shuffle
# ---------------------------------------------------------------------------
def test_global_shuffle_is_a_permutation(spark, sf_dir):
    out = QUERIES["q_global_shuffle"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    # positions within each shard are exactly 1..shard_size
    per_shard = (
        out.groupBy("shard_id")
        .agg(
            F.count("*").alias("n"),
            F.min("pos_in_shard").alias("lo"),
            F.max("pos_in_shard").alias("hi"),
            F.countDistinct("pos_in_shard").alias("nd"),
        )
        .collect()
    )
    for r in per_shard:
        assert (r["lo"], r["hi"], r["nd"]) == (1, r["n"], r["n"])


def test_global_shuffle_deterministic_and_partitioned(spark, sf_dir):
    a = sorted(map(tuple, QUERIES["q_global_shuffle"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["q_global_shuffle"](spark, sf_dir).collect()))
    assert a == b
    # the rank window must be hash-partitioned by shard, not a global
    # single-partition sort (the 1-row shard-count aggregate is the only
    # legitimate SinglePartition exchange in the plan)
    plan = query_plan(spark, sf_dir, "q_global_shuffle")
    assert "hashpartitioning(shard_id" in plan
    assert plan.count("SinglePartition") <= 1


# ---------------------------------------------------------------------------
# q_pack_sequences
# ---------------------------------------------------------------------------
def test_pack_sequences_respects_budget_and_conserves_tokens(spark, sf_dir):
    from cdmx_airquality_etl_spark.operators.llm_ops import _PACK_CAP

    out = QUERIES["q_pack_sequences"](spark, sf_dir).collect()
    per_lang_bins = {}
    for r in out:
        per_lang_bins.setdefault(r["lang"], []).append(r)
        # a bin only exceeds the budget when a single oversized doc owns it
        assert r["bin_tokens"] <= _PACK_CAP or r["n_docs"] == 1
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n")
    )
    totals = {
        r["lang"]: r["t"]
        for r in toks.groupBy("lang").agg(F.sum("n").alias("t")).collect()
    }
    for lang, bins in per_lang_bins.items():
        # bins are contiguous 1..max and conserve every token
        assert sorted(b["bin_id"] for b in bins) == list(range(1, len(bins) + 1))
        assert sum(b["bin_tokens"] for b in bins) == totals[lang]


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=150), max_size=60),
    cap=st.integers(min_value=1, max_value=100),
)
@settings(max_examples=300, deadline=None)
def test_pack_bins_recurrence_laws(sizes, cap):
    from cdmx_airquality_etl_spark.operators.llm_ops import pack_bins

    bins = pack_bins(sizes, cap)
    assert len(bins) == len(sizes)
    if not sizes:
        return
    # bin ids start at 1, are non-decreasing, and never skip
    assert bins[0] == 1
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    # per-bin sums respect the cap unless the bin is a single oversized item
    from collections import defaultdict

    contents = defaultdict(list)
    for n, b in zip(sizes, bins):
        contents[b].append(n)
    for members in contents.values():
        assert sum(members) <= cap or len(members) == 1
    # greedy tightness: an item in a fresh bin would NOT have fit in the
    # previous bin (no premature splits)
    for i in range(1, len(sizes)):
        if bins[i] != bins[i - 1]:
            prev_sum = sum(contents[bins[i - 1]])
            assert prev_sum + sizes[i] > cap


# ---------------------------------------------------------------------------
# q_repetition_score
# ---------------------------------------------------------------------------
def test_repetition_score_invariants(spark, sf_dir):
    rows = QUERIES["q_repetition_score"](spark, sf_dir).collect()
    docs_n = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == docs_n
    for r in rows:
        assert 0 <= r["n_distinct"] <= r["n_grams"]
        assert 0.0 <= r["dup_ratio"] < 1.0 or r["n_grams"] == 0


def test_repetition_score_is_scan_side(spark, sf_dir):
    # per-doc scoring is a zero-shuffle projection: no Exchange in the plan
    plan = query_plan(spark, sf_dir, "q_repetition_score")
    assert "Exchange" not in plan
    assert "codegen id" in plan


# ---------------------------------------------------------------------------
# q_boilerplate_ngrams / q_similarity_ann_lsh — plan shapes
# ---------------------------------------------------------------------------
def test_boilerplate_topk_is_one_agg_plus_take_ordered(spark, sf_dir):
    # "simple" mode keeps Exchange and its partitioning on one line
    plan = query_plan(spark, sf_dir, "q_boilerplate_ngrams", mode="simple")
    assert "TakeOrderedAndProject" in plan  # never a global sort
    assert "partial_count" in plan  # map-side combine absorbs duplication
    assert plan.count("Exchange hashpartitioning") == 1  # one gram shuffle


def test_ann_lsh_broadcasts_query_and_takes_ordered(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_similarity_ann_lsh", mode="simple")
    assert "TakeOrderedAndProject" in plan
    # the 1-row query side and the 1-row bits row are broadcast; the corpus
    # side never shuffles for the probe
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_cap_per_source_null_text_ranks_last(spark, tmp_path):
    # NULL text must rank LAST on both engines (Spark asc defaults
    # nulls-first, DuckDB ASC nulls-last — the operator pins nulls-last on
    # the Spark side and NULLS LAST in the oracle); a NULL doc must never
    # displace a hashed doc from the kept set
    import duckdb

    from cdmx_airquality_etl_spark.registry import ORACLES, QUERIES

    rows = [(i, None if i % 7 == 0 else f"doc text {i}", "en", "srcA", 10)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        tuple(r) for r in QUERIES["q_cap_per_source"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLES["q_cap_per_source"]).fetchall())
    assert got == want
    # nulls-last means the 6 NULL-text docs rank 35-40 — beyond the cap —
    # so the kept set is exactly 15 hashed docs and no NULL doc displaces one
    assert len(got) == 15
    assert all(doc_id % 7 != 0 for (_, doc_id, _) in got)


def test_chunk_documents_covers_every_token(spark, tmp_path):
    # chunking laws, on docs straddling the window boundaries: chunk i is
    # exactly tokens[i*stride : i*stride+chunk]; every token appears in
    # some chunk; chunk count = floor((n-1)/stride)+1
    from cdmx_airquality_etl_spark.operators.llm_ops import (
        _CHUNK_STRIDE,
        _CHUNK_TOKS,
    )
    from cdmx_airquality_etl_spark.registry import QUERIES

    lengths = [1, 14, 15, 16, 20, 21, 35, 100]
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)), "en", "srcA", 10)
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = QUERIES["q_chunk_documents"](spark, str(tmp_path)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    for doc_id, n in enumerate(lengths):
        toks = [f"t{doc_id}_{j}" for j in range(n)]
        chunks = by_doc[doc_id]
        assert len(chunks) == (n - 1) // _CHUNK_STRIDE + 1
        seen = set()
        for i, r in chunks.items():
            want = toks[i * _CHUNK_STRIDE : i * _CHUNK_STRIDE + _CHUNK_TOKS]
            assert r.chunk_text.split(" ") == want
            assert r.n_chunk_tokens == len(want) <= _CHUNK_TOKS
            seen.update(want)
        assert seen == set(toks)
