"""Band-key skew probe for the set-similarity dedup family (round-9
VERDICT #3).

The round-7/8 skew evidence covered equi-join key skew (the celebrity
order key). The dedup family's distinct scale risk is a HOT BAND/ANCHOR:
one boilerplate block shared by a large fraction of documents makes its
minhash band buckets and its shingle-adjacency anchors hot, and a hot key
in a candidate SELF-join expands quadratically in the cluster size even
when every resulting pair fails exact verification (sub-threshold
boilerplate — the wasted-work regime; pairs ABOVE threshold are the
operator's own output and irreducible).

This probe builds a boilerplate-heavy twin of the documents table —
a fraction ``f`` of docs share one fixed word block, each wrapped in a
unique random tail sized so the pairwise Jaccard sits just BELOW the 0.5
threshold (all collision work is wasted by construction) — and measures,
for q_dedup_fuzzy (adjacency anchors) and q_dedup_minhash (banded LSH):

- raw anchor self-join rows Σc(c−1)/2 (the quadratic work term) over the
  operator's own anchor frame, plus the actual ≥2-key|__small candidate
  count entering exact verify — the one configuration q_dedup_fuzzy
  runs,
- output rows,
- warm wall time (min of --runs noop-sink executions),

against the standard corpus at the same scale. One JSON line on stdout;
BASELINE.md "band skew" quotes it.

Usage: python tools/band_skew_probe.py [--sf 1] [--boiler-frac 0.3]
           [--boiler-words 24] [--runs 2] [--out BAND_SKEW.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from gen_scale_data import VOCAB, _rng, gen_documents  # noqa: E402

from cdmx_airquality_etl_spark.session import get_spark  # noqa: E402


def gen_boiler_documents(sf: float, frac: float, boiler_words: int) -> pa.Table:
    """The standard documents twin with a boilerplate cluster injected:
    round(frac*n) docs = one FIXED boiler block + a unique random tail of
    ~2x the boiler length, so cluster pairs share the block's shingles but
    land just below the 0.5 Jaccard threshold (J ≈ b/(b+2t) with t ≈ b)."""
    base = gen_documents(sf)
    n = base.num_rows
    rng = _rng("boiler", sf)
    k = int(round(n * frac))
    boiler = " ".join(VOCAB[rng.integers(0, len(VOCAB), boiler_words)])
    texts = base.column("text").to_pylist()
    idx = rng.choice(n, size=k, replace=False)
    for i in idx:
        tail = " ".join(VOCAB[rng.integers(0, len(VOCAB), 2 * boiler_words)])
        texts[i] = f"{boiler} {tail}"
    return pa.table(
        {
            "doc_id": base.column("doc_id"),
            "text": pa.array(texts, pa.string()),
            "lang": base.column("lang"),
            "source": base.column("source"),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_onehot_documents(sf: float, hot_docs: int, block_words: int = 4) -> pa.Table:
    """The ONE-hot-key worst case the salted split exists for (round-10
    narrative, pinned as an artifact since round 11): ``hot_docs`` docs
    share a single short fixed block — its adjacency anchors collapse to
    ~one key of df = hot_docs, i.e. ~df²/2 candidate pairs through ONE
    self-join key, the single quadratic task AQE cannot split. Each doc's
    unique tail keeps every cluster pair far below the 0.5 threshold, so
    all of that work is sub-threshold (wasted by construction)."""
    base = gen_documents(sf)
    n = base.num_rows
    if hot_docs > n:
        raise SystemExit(f"--one-hot-docs {hot_docs} > corpus size {n}")
    rng = _rng("onehot", sf)
    block = " ".join(VOCAB[rng.integers(0, len(VOCAB), block_words)])
    texts = base.column("text").to_pylist()
    idx = rng.choice(n, size=hot_docs, replace=False)
    for i in idx:
        tail = " ".join(VOCAB[rng.integers(0, len(VOCAB), 8 * block_words)])
        texts[i] = f"{block} {tail}"
    return pa.table(
        {
            "doc_id": base.column("doc_id"),
            "text": pa.array(texts, pa.string()),
            "lang": base.column("lang"),
            "source": base.column("source"),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _anchors(spark, sf_dir: str):
    """The anchor-key frame of q_dedup_fuzzy's candidate stage — the
    operator's OWN dd._anchor_keys (hashed keys, size-adaptive dual-anchor
    reach), not a reconstruction that could drift."""
    import cdmx_airquality_etl_spark.operators.dedup as dd
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    shingled = dd._doc_shingles(load_table(spark, sf_dir, "documents"))
    return dd._anchor_keys(shingled, dd._JACCARD_THRESHOLD)


def _candidates_fuzzy(spark, sf_dir: str):
    """Σ c·(c−1)/2 over anchor keys — the raw self-join ROW volume (the
    quadratic work term).  Under the dual-anchor rule this is the input
    to the ≥2-key collapse, not the verify-stage candidate count; the
    post-collapse count is measured separately (_candidates_dual)."""
    from pyspark.sql import functions as F

    anch = _anchors(spark, sf_dir)
    return anch.groupBy("akey").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum(F.expr("c * (c - 1) / 2")).cast("long").alias("cands"),
        F.max("c").alias("hottest_key"),
    ).first()


def _candidates_dual(spark, sf_dir: str) -> int:
    """The ACTUAL candidate-pair count entering exact verification under
    the shipped dual-anchor rule (≥2 shared keys OR both __small) — the
    operator's own _salted_anchor_candidates over the same frame."""
    import cdmx_airquality_etl_spark.operators.dedup as dd

    return dd._salted_anchor_candidates(_anchors(spark, sf_dir)).count()


def _candidates_minhash(spark, sf_dir: str):
    from pyspark.sql import functions as F

    import cdmx_airquality_etl_spark.operators.dedup as dd
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    bands = dd._mh_bands(dd._mh_sigs(dd._doc_shingles(
        load_table(spark, sf_dir, "documents"))))
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.expr("c * (c - 1) / 2")).cast("long").alias("cands"),
            F.max("c").alias("hottest_key"),
        )
        .first()
    )


def _time_df(spark, mk, runs: int) -> dict:
    mk().write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    best = math.inf
    for _ in range(runs):
        t0 = time.time()
        mk().write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
        spark.catalog.clearCache()
    rows = mk().count()
    spark.catalog.clearCache()
    return {"warm_sec": round(best, 3), "output_rows": rows}


def _time_query(spark, name: str, sf_dir: str, runs: int) -> dict:
    from cdmx_airquality_etl_spark.registry import QUERIES

    return _time_df(spark, lambda: QUERIES[name](spark, sf_dir), runs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--boiler-frac", type=float, default=0.3)
    ap.add_argument("--boiler-words", type=int, default=24)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--one-hot-docs",
        type=int,
        default=0,
        help="also probe the ONE-hot-key twin: this many docs share a "
        "single 4-word block (df ≈ this value on ~one anchor key) — the "
        "worst case the salted split exists for (VERDICT r10 #7)",
    )
    ap.add_argument("--out", default=os.path.join(REPO_ROOT, "BAND_SKEW.json"))
    args = ap.parse_args()

    spark = get_spark("band-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base_dir = os.path.join(REPO_ROOT, ".scaledata", f"sf{args.sf:g}")
    boiler_dir = os.path.join(
        REPO_ROOT, ".scaledata", f"sf{args.sf:g}-boiler{args.boiler_frac:g}"
    )
    os.makedirs(boiler_dir, exist_ok=True)
    tbl = gen_boiler_documents(args.sf, args.boiler_frac, args.boiler_words)
    pq.write_table(tbl, os.path.join(boiler_dir, "documents.parquet"))

    corpora = [("standard", base_dir), ("boiler", boiler_dir)]
    if args.one_hot_docs:
        onehot_dir = os.path.join(
            REPO_ROOT, ".scaledata",
            f"sf{args.sf:g}-onehot{args.one_hot_docs}",
        )
        os.makedirs(onehot_dir, exist_ok=True)
        pq.write_table(
            gen_onehot_documents(args.sf, args.one_hot_docs),
            os.path.join(onehot_dir, "documents.parquet"),
        )
        corpora.append(("onehot", onehot_dir))

    result = {
        "sf": args.sf,
        "boiler_frac": args.boiler_frac,
        "boiler_words": args.boiler_words,
        "one_hot_docs": args.one_hot_docs,
        "corpora": {},
    }
    for label, d in corpora:
        cf = _candidates_fuzzy(spark, d)
        cm = _candidates_minhash(spark, d)
        entry = {
            # raw self-join rows over the DUAL-anchor frame (Σ c(c−1)/2)
            "anchor_join_rows": cf["cands"],
            "anchor_hottest_key": cf["hottest_key"],
            # pairs surviving the ≥2-key|__small collapse (verify input)
            "anchor_candidates_dual": _candidates_dual(spark, d),
            "band_candidates": cm["cands"],
            "band_hottest_key": cm["hottest_key"],
            "q_dedup_fuzzy": _time_query(spark, "q_dedup_fuzzy", d, args.runs),
            "q_dedup_minhash": _time_query(
                spark, "q_dedup_minhash", d, args.runs
            ),
        }
        result["corpora"][label] = entry
        print(label, json.dumps(entry), flush=True)

    line = json.dumps(result, separators=(",", ":"))
    with open(args.out, "w") as f:
        f.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
