"""Training-corpus curation, end to end: the LLM-data path this engine adds
on top of the reference's ETL surface, composed as ONE lazy Spark plan per
stage over the driver test corpus.

    raw documents
      → planning            (LSH parameter table, classifier calibration,
                             DSIR target-domain preview)
      → rule battery        (Gopher-style flags: q_gopher_rules)
      → model scoring       (unigram-LM band + zlib compression ratio)
      → exact dedup         (md5 fingerprint, keep the longest copy)
      → decontamination     (drop docs sharing a 5-gram with the benchmark)
      → train/eval split    (content-hash buckets, re-run-stable)
      → sequence packing    (greedy first-fit into 2000-token bins per lang)
      → deterministic shuffle → sharded JSONL a trainer streams

Every stage is the library form of an oracle-checked registry query
(q_gopher_rules, q_unigram_lm, compression_scores, q_dedup_keep_best,
q_decontaminate, q_train_test_split, q_pack_sequences, q_global_shuffle),
so the example is a tour, not new semantics.

Run: python examples/curation_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.functions import content_fingerprint, split_bucket, tokens
from cdmx_airquality_etl_spark.operators.llm_ops import (
    _DECON_N,
    _PACK_CAP,
    _grams_spark,
    pack_bins,
)
from cdmx_airquality_etl_spark.operators.corpus_quality import (
    q_gopher_rules,
    q_unigram_lm,
)
from cdmx_airquality_etl_spark.operators.udf_surface import compression_scores
from cdmx_airquality_etl_spark.session import get_spark
from cdmx_airquality_etl_spark.sinks import export_jsonl_shards
from cdmx_airquality_etl_spark.sources.parquet import load_table
from cdmx_airquality_etl_spark.streaming.hygiene import decontaminate_stream


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("curation-example")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()
    print(f"raw corpus: {n0} docs")

    # 0. plan before running: pick LSH dedup parameters from the observed
    #    pair-similarity distribution (q_lsh_planner), check whether the
    #    quality model's scores need recalibration (q_isotonic_calibration),
    #    and preview target-domain selection weights (q_dsir_weights)
    print("== planning: LSH (bands × rows) design table ==")
    from cdmx_airquality_etl_spark.registry import QUERIES

    QUERIES["q_lsh_planner"](spark, sf_dir).orderBy("bands", ascending=False).show()
    iso = QUERIES["q_isotonic_calibration"](spark, sf_dir).orderBy("band")
    drift = iso.select(
        F.max(F.abs(F.col("raw_rate") - F.col("iso_rate"))).alias("d")
    ).collect()[0]["d"]
    print(f"quality-model calibration: max |raw - isotonic| = {drift:.3f}")
    dsir = QUERIES["q_dsir_weights"](spark, sf_dir)
    kept = dsir.filter(F.col("dsir_score") > 0).count()
    print(f"DSIR preview: {kept}/{dsir.count()} docs lean toward the target domain")

    # 1a. rule battery: Gopher-style flags, keep rule-passing docs
    #     (scan-side; the registry's q_gopher_rules over this corpus)
    passing = q_gopher_rules(spark, sf_dir).filter(F.col("pass_all") == 1)
    rules_ok = docs.join(passing.select("doc_id"), "doc_id", "left_semi")
    print(f"after Gopher rule battery: {rules_ok.count()} docs")

    # 1b. model scores: drop the extreme unigram-LM band (common-word soup)
    #     and near-incompressible noise (zlib ratio ≈ 1)
    lm = q_unigram_lm(spark, sf_dir).select("doc_id", "avg_prob")
    # per-document zlib ratios come from the production scorer
    # (q_compression_ratio is its fixture-CALIBRATION twin — it returns
    # per-class band aggregates, not per-doc rows)
    comp = compression_scores(docs, "doc_id", "text").select("doc_id", "ratio")
    grams3 = _grams_spark(3)
    dup_ratio = F.when(
        F.size(grams3) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(grams3)).cast("double") / F.size(grams3),
    ).otherwise(F.lit(0.0))
    clean = (
        rules_ok.join(lm, "doc_id")
        .join(comp, "doc_id")
        .filter((F.col("avg_prob") < 0.08) & (F.col("ratio") < 0.9))
        .filter((F.col("n_chars") >= 80) & (dup_ratio < 0.2))
        .drop("avg_prob", "ratio")
    )
    print(f"after model scores + legacy gate: {clean.count()} docs")

    # 2. exact dedup, keep the longest copy per fingerprint
    fp = content_fingerprint(F.col("text"))
    quality = F.col("n_chars") * 10_000_000_000 - F.col("doc_id")
    deduped = (
        clean.withColumn("fp", fp)
        .groupBy("fp")
        .agg(
            F.max_by("doc_id", quality).alias("doc_id"),
            F.max_by("lang", quality).alias("lang"),
            F.max_by("text", quality).alias("text"),
            F.max_by("n_chars", quality).alias("n_chars"),
        )
        .drop("fp")
    )
    print(f"after exact dedup: {deduped.count()} docs")

    # 3. decontaminate against the benchmark slice (src0 stands in);
    #    stream-static form works identically on a batch frame
    bench = docs.filter(F.col("source") == "src0") if "source" in docs.columns else None
    survivors = (
        decontaminate_stream(deduped, bench.select("doc_id", "text"), n=_DECON_N)
        if bench is not None
        else deduped
    )
    print(f"after decontamination: {survivors.count()} docs")

    # 4. content-hash train/eval split (stable under re-runs/repartitions)
    split = survivors.withColumn(
        "split", F.when(split_bucket("doc_id", 1, 10) < 8, "train").otherwise("eval")
    )

    # 5. greedy packing per (split, lang) via the pure recurrence
    toks = F.size(tokens("text"))
    packed = (
        split.withColumn("n_toks", toks)
        .groupBy("split", "lang")
        .applyInPandas(
            lambda pdf: pdf.sort_values("doc_id").assign(
                bin_id=pack_bins(
                    list(pdf.sort_values("doc_id")["n_toks"]), _PACK_CAP
                )
            )[["split", "lang", "doc_id", "n_toks", "bin_id"]],
            "split string, lang string, doc_id long, n_toks long, bin_id long",
        )
    )
    bins = packed.groupBy("split", "lang").agg(
        F.max("bin_id").alias("n_bins"), F.sum("n_toks").alias("tokens")
    )
    print("packed bins per (split, lang):")
    for r in sorted(bins.collect(), key=lambda r: (r["split"], r["lang"])):
        print(f"  {r['split']:>5} {r['lang']}: {r['n_bins']} bins, {r['tokens']} tokens")

    # 6. deterministic sharded JSONL export (content-hash shards + manifest)
    with tempfile.TemporaryDirectory() as out:
        manifest = export_jsonl_shards(
            packed, os.path.join(out, "shards"), n_shards=8, key_col="doc_id"
        )
        total = sum(c for _, c in manifest)
        print(f"wrote {len(manifest)} deterministic JSONL shards, {total} rows")



if __name__ == "__main__":
    main()
    from cdmx_airquality_etl_spark.session import get_spark
    get_spark().stop()  # script invocation owns the session; main() does not
