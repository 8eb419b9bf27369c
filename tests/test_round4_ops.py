"""Semantics + plan-shape tests for the round-4 operator batch:
entity resolution, robust outliers, interpolation, incremental aggregate
maintenance, bloom-pruned semi-join, and PMI co-occurrence."""

from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.registry import QUERIES
from cdmx_airquality_etl_spark.sources.parquet import load_table
from tests.helpers import query_plan


# ---------------------------------------------------------------------------
# q_entity_resolution
# ---------------------------------------------------------------------------
def test_entity_resolution_blocking_and_threshold(spark, sf_dir):
    rows = QUERIES["q_entity_resolution"](spark, sf_dir).collect()
    assert rows, "expected at least one linked pair"
    seen = set()
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert r["name_a"].split(" ")[0] == r["name_b"].split(" ")[0], (
            "pair crosses a block boundary"
        )
        assert 1 <= r["edit_dist"] <= 3
        assert r["n_rows_a"] > 0 and r["n_rows_b"] > 0
        assert (r["name_a"], r["name_b"]) not in seen
        seen.add((r["name_a"], r["name_b"]))


def test_entity_resolution_candidates_are_value_domain(spark, sf_dir):
    # the pairwise stage must run on the distinct-name aggregate, not raw
    # rows: the plan joins two HashAggregate outputs
    plan = query_plan(spark, sf_dir, "q_entity_resolution")
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# q_outlier_mad
# ---------------------------------------------------------------------------
def test_outlier_mad_against_manual(spark, sf_dir):
    rows = {r["c_nationkey"]: r for r in QUERIES["q_outlier_mad"](spark, sf_dir).collect()}
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .collect()
    )
    by_nation: dict[int, list[float]] = {}
    for r in cust:
        by_nation.setdefault(r["c_nationkey"], []).append(r["c_acctbal"])
    assert set(rows) == set(by_nation)
    for nk, vals in by_nation.items():
        vals.sort()
        med = vals[(len(vals) + 1) // 2 - 1]  # lower median, 1-based rank
        devs = sorted(abs(v - med) for v in vals)
        mad = devs[(len(devs) + 1) // 2 - 1]
        n_out = sum(1 for v in vals if abs(v - med) > 3 * mad)
        r = rows[nk]
        assert r["med_acctbal"] == med
        assert r["mad"] == mad
        assert r["n_customers"] == len(vals)
        assert r["n_outliers"] == n_out


# ---------------------------------------------------------------------------
# q_interpolate
# ---------------------------------------------------------------------------
def test_interpolate_bounds_and_coverage(spark, sf_dir):
    df = QUERIES["q_interpolate"](spark, sf_dir)
    n_errors = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .count()
    )
    rows = df.collect()
    assert len(rows) == n_errors
    # est_value may be NULL only for users with no clicks at all
    ev = load_table(spark, sf_dir, "events")
    users_with_clicks = {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .collect()
    }
    for r in rows:
        if r["user_id"] in users_with_clicks:
            assert r["est_value"] is not None
        else:
            assert r["est_value"] is None


def test_interpolate_is_convex_combination(spark, sf_dir):
    # recompute neighbors independently: est must lie within [pv, nv]
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    ).collect()
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    bounds = {}
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        for i, r in enumerate(rs):
            if r["event_type"] != "error":
                continue
            pv = next(
                (x["value"] for x in reversed(rs[:i]) if x["event_type"] == "click"),
                None,
            )
            nv = next(
                (x["value"] for x in rs[i + 1 :] if x["event_type"] == "click"),
                None,
            )
            bounds[r["event_id"]] = (pv, nv)
    out = QUERIES["q_interpolate"](spark, sf_dir).collect()
    for r in out:
        pv, nv = bounds[r["event_id"]]
        if pv is not None and nv is not None:
            lo, hi = min(pv, nv), max(pv, nv)
            assert lo - 1e-9 <= r["est_value"] <= hi + 1e-9
        elif pv is not None:
            assert r["est_value"] == pv
        elif nv is not None:
            assert r["est_value"] == nv


# ---------------------------------------------------------------------------
# q_incremental_agg
# ---------------------------------------------------------------------------
def test_incremental_agg_equals_full_recompute(spark, sf_dir):
    inc = {
        r["o_custkey"]: r
        for r in QUERIES["q_incremental_agg"](spark, sf_dir).collect()
    }
    full = {
        r["o_custkey"]: r
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
                "last_order_date"
            ),
        )
        .collect()
    }
    assert set(inc) == set(full)
    for k, r in inc.items():
        f = full[k]
        assert r["order_cnt"] == f["order_cnt"]
        assert r["total_spend"] == f["total_spend"]  # DECIMAL combine: exact
        assert r["last_order_date"] == f["last_order_date"]


# ---------------------------------------------------------------------------
# q_bloom_prune
# ---------------------------------------------------------------------------
def test_bloom_prune_equals_plain_semijoin(spark, sf_dir):
    got = {
        r["o_orderpriority"]: r
        for r in QUERIES["q_bloom_prune"](spark, sf_dir).collect()
    }
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    want = {
        r["o_orderpriority"]: r
        for r in orders.join(
            dim, orders["o_custkey"] == dim["c_custkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert got[k]["n_orders"] == want[k]["n_orders"]
        assert got[k]["revenue"] == want[k]["revenue"]


def test_bloom_prune_plan_shape(spark, sf_dir):
    # prune must sit scan-side (a Filter with shiftright on xxhash64), and
    # the verify join must be a broadcast semi-join — no shuffle of orders
    plan = query_plan(spark, sf_dir, "q_bloom_prune")
    assert "shiftright" in plan
    simple = query_plan(spark, sf_dir, "q_bloom_prune", "simple")
    semi = [l for l in simple.splitlines() if "LeftSemi" in l]
    assert semi and all("Broadcast" in l for l in semi)


# ---------------------------------------------------------------------------
# q_cooccur_pmi
# ---------------------------------------------------------------------------
def test_cooccur_pmi_invariants(spark, sf_dir):
    rows = QUERIES["q_cooccur_pmi"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["token_a"] < r["token_b"]
        assert r["pair_docs"] >= 25
        assert r["pair_docs"] <= min(r["docs_a"], r["docs_b"])
        assert r["lift"] > 0


# ---------------------------------------------------------------------------
# q_skew_profile
# ---------------------------------------------------------------------------
def test_skew_profile_invariants(spark, sf_dir):
    rows = {r["key_name"]: r for r in QUERIES["q_skew_profile"](spark, sf_dir).collect()}
    assert set(rows) == {"orders.o_custkey", "lineitem.l_partkey", "events.user_id"}
    for r in rows.values():
        assert 1 <= r["p50_freq"] <= r["p90_freq"] <= r["p99_freq"] <= r["max_freq"]
        assert r["n_keys"] <= r["n_rows"]
        assert r["top_share"] == r["max_freq"] / r["n_rows"]


def test_skew_profile_matches_manual(spark, sf_dir):
    r = {x["key_name"]: x for x in QUERIES["q_skew_profile"](spark, sf_dir).collect()}[
        "orders.o_custkey"
    ]
    freqs = sorted(
        x["f"]
        for x in load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("f"))
        .collect()
    )
    n = len(freqs)
    assert r["n_keys"] == n
    assert r["n_rows"] == sum(freqs)
    assert r["max_freq"] == freqs[-1]
    assert r["p50_freq"] == freqs[(n + 1) // 2 - 1]
    assert r["p90_freq"] == freqs[(n * 9 + 9) // 10 - 1]
    assert r["p99_freq"] == freqs[(n * 99 + 99) // 100 - 1]


# ---------------------------------------------------------------------------
# q_zone_map
# ---------------------------------------------------------------------------
def test_zone_map_covers_table_and_prunes_correctly(spark, sf_dir):
    rows = QUERIES["q_zone_map"](spark, sf_dir).collect()
    li_count = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == li_count
    for r in rows:
        assert r["min_ship"] <= r["max_ship"]
        assert r["min_price"] <= r["max_price"]
        want_prune = r["max_ship"] < "1997-01-01" or r["min_ship"] >= "1998-01-01"
        assert r["pruned"] == want_prune


# ---------------------------------------------------------------------------
# q_heavy_hitters
# ---------------------------------------------------------------------------
def test_heavy_hitters_exact_vs_plain_groupby(spark, sf_dir):
    got = {r["token"]: r["cnt"] for r in QUERIES["q_heavy_hitters"](spark, sf_dir).collect()}
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t"))
        .filter(F.col("t") != "")
    )
    counts = {
        r["t"]: r["c"]
        for r in tok.groupBy("t").agg(F.count("*").alias("c")).collect()
    }
    total = sum(counts.values())
    want = {t: c for t, c in counts.items() if c * 100 > total * 3}
    assert got == want, "sketch-then-verify must equal the exact answer"


def test_misra_gries_superset_guarantee():
    """Any token with frequency > N/k must survive the sketch (the property
    the two-pass plan's exactness rests on)."""
    import pandas as pd

    from cdmx_airquality_etl_spark.operators.corpus_stats import (
        _MG_COUNTERS,
        _mg_candidates,
    )

    # adversarial stream: one hot token drowned in k*8 distinct cold ones
    stream = (["hot"] * 300) + [f"cold{i}" for i in range(_MG_COUNTERS * 8)]
    stream = stream[::2] + stream[1::2]  # interleave
    out = list(_mg_candidates(iter([pd.DataFrame({"token": stream})])))[0]
    n = len(stream)
    assert 300 > n / _MG_COUNTERS  # hot qualifies for the guarantee
    assert "hot" in set(out["token"])
    assert len(out) <= _MG_COUNTERS


# ---------------------------------------------------------------------------
# q_bigram_lm
# ---------------------------------------------------------------------------
def test_bigram_lm_matches_manual(spark, sf_dir):
    out = {r["doc_id"]: r for r in QUERIES["q_bigram_lm"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    from collections import Counter

    bgs_per_doc = {}
    vocab = set()
    for d in docs:
        if d["text"] is None:
            continue
        ts = [t for t in d["text"].strip().lower().split()]
        vocab.update(ts)
        if len(ts) >= 2:
            bgs_per_doc[d["doc_id"]] = [
                f"{a} {b}" for a, b in zip(ts, ts[1:])
            ]
    counts = Counter(b for bgs in bgs_per_doc.values() for b in bgs)
    n2, v = sum(counts.values()), len(vocab)
    assert set(out) == set(bgs_per_doc)
    for doc_id, bgs in bgs_per_doc.items():
        r = out[doc_id]
        assert r["n_bg"] == len(bgs)
        s = sum(counts[b] + 1 for b in bgs)
        assert r["avg_prob"] == s / (len(bgs) * (n2 + v * v))


# ---------------------------------------------------------------------------
# q_pagerank
# ---------------------------------------------------------------------------
def test_pagerank_invariants(spark, sf_dir):
    rows = QUERIES["q_pagerank"](spark, sf_dir).collect()
    assert len(rows) == 20
    ranks = [r["rank_fp"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    for r in rows:
        assert r["rank_fp"] > 0
        assert r["node_type"] == (
            "customer" if r["node_id"] % 2 == 0 else "supplier"
        )


def test_pagerank_deterministic_across_runs(spark, sf_dir):
    a = [tuple(r) for r in QUERIES["q_pagerank"](spark, sf_dir).collect()]
    b = [
        tuple(r)
        for r in QUERIES["q_pagerank"](spark, sf_dir)
        .repartition(7)
        .orderBy(F.col("rank_fp").desc(), F.col("node_id").asc())
        .collect()
    ]
    assert a == b  # integer fixed-point: partitioning cannot change ranks


# ---------------------------------------------------------------------------
# q_funnel / q_retention / q_percentile_cont
# ---------------------------------------------------------------------------
def test_funnel_monotone_and_manual(spark, sf_dir):
    r = QUERIES["q_funnel"](spark, sf_dir).collect()[0]
    assert r["n_signup"] >= r["n_click"] >= r["n_purchase"] >= 0
    assert r["click_rate"] == r["n_click"] / r["n_signup"]
    assert r["purchase_rate"] == r["n_purchase"] / r["n_signup"]
    # independent recompute of the ordering constraint
    ev = load_table(spark, sf_dir, "events").collect()
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    n1 = n2 = n3 = 0
    for rs in by_user.values():
        t1 = min((e["ts"] for e in rs if e["event_type"] == "signup"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min(
            (e["ts"] for e in rs if e["event_type"] == "click" and e["ts"] >= t1),
            default=None,
        )
        if t2 is None:
            continue
        n2 += 1
        if any(e["event_type"] == "purchase" and e["ts"] >= t2 for e in rs):
            n3 += 1
    assert (r["n_signup"], r["n_click"], r["n_purchase"]) == (n1, n2, n3)


def test_retention_week0_is_full_cohort(spark, sf_dir):
    rows = QUERIES["q_retention"](spark, sf_dir).collect()
    assert rows
    total_cohort_users = {r["cohort"]: r["cohort_size"] for r in rows}
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(total_cohort_users.values()) == n_users
    for r in rows:
        assert 0 < r["n_active"] <= r["cohort_size"]
        assert r["retention_rate"] == r["n_active"] / r["cohort_size"]
        if r["week_offset"] == 0:
            assert r["n_active"] == r["cohort_size"], (
                "every user is active in their own first week"
            )


def test_percentile_cont_matches_numpy_definition(spark, sf_dir):
    rows = {
        r["o_orderpriority"]: r
        for r in QUERIES["q_percentile_cont"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").collect()
    by_prio: dict[str, list[float]] = {}
    for o in orders:
        by_prio.setdefault(o["o_orderpriority"], []).append(o["o_totalprice"])
    assert set(rows) == set(by_prio)
    for prio, vals in by_prio.items():
        vals.sort()
        n = len(vals)
        r = rows[prio]
        assert r["n_orders"] == n
        for q_num, q_den, col in [(1, 2, "p50_price"), (9, 10, "p90_price")]:
            pos_num = (n - 1) * q_num
            lo = pos_num // q_den
            rem = pos_num % q_den
            hi = lo if rem == 0 else lo + 1
            want = vals[lo] + (vals[hi] - vals[lo]) * (rem / q_den)
            assert r[col] == want


# ---------------------------------------------------------------------------
# q_multimodal_frames
# ---------------------------------------------------------------------------
def test_multimodal_frames_reassembles(spark, sf_dir):
    """Frame slicing must tile the payload byte stream: per media, frame
    lengths are full except possibly the last, digests match hashing the
    actual byte slices, and the char-sliced oracle domain (ASCII corpus)
    holds."""
    import hashlib

    rows = QUERIES["q_multimodal_frames"](spark, sf_dir).collect()
    docs = {
        d["doc_id"]: d["text"]
        for d in load_table(spark, sf_dir, "documents").collect()
    }
    # corpus must stay ASCII or the char-sliced oracle stops matching
    assert all(t is None or t.isascii() for t in docs.values())
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for media_id, frames in by_media.items():
        payload = docs[media_id].encode()
        frames.sort(key=lambda r: r["frame_idx"])
        assert [f["frame_idx"] for f in frames] == list(range(len(frames)))
        assert len(frames) == min(8, (len(payload) + 63) // 64)
        for f in frames:
            chunk = payload[f["frame_idx"] * 64 : f["frame_idx"] * 64 + 64]
            assert f["frame_len"] == len(chunk)
            assert f["frame_digest"] == hashlib.sha256(chunk).hexdigest()[:16]


# ---------------------------------------------------------------------------
# q_scd2
# ---------------------------------------------------------------------------
def test_scd2_intervals_tile_the_timeline(spark, sf_dir):
    rows = QUERIES["q_scd2"](spark, sf_dir).collect()
    n_signups = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .count()
    )
    assert len(rows) == n_signups
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, versions in by_user.items():
        versions.sort(key=lambda r: r["version_n"])
        assert [v["version_n"] for v in versions] == list(
            range(1, len(versions) + 1)
        )
        # exactly one current version, and it is the last
        currents = [v for v in versions if v["is_current"]]
        assert len(currents) == 1 and currents[0] is versions[-1]
        assert versions[-1]["valid_to"] is None
        # intervals chain: each version's valid_to == next valid_from
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] <= a["valid_to"]


# ---------------------------------------------------------------------------
# q_dataset_card
# ---------------------------------------------------------------------------
def test_dataset_card_matches_manual(spark, sf_dir):
    r = QUERIES["q_dataset_card"](spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents").collect()
    import hashlib
    import re as _re

    n_docs = len(docs)
    toks = []
    fps = set()
    n_empty = 0
    langs = {}
    for d in docs:
        t = d["text"]
        if t is None or t.strip() == "":
            n_empty += 1
            toks.append(0)
        else:
            toks.append(len(t.strip().lower().split()))
        norm = _re.sub(r"\s+", " ", (t or "").strip().lower())
        fps.add(hashlib.md5(norm.encode()).hexdigest())
        langs[d["lang"]] = langs.get(d["lang"], 0) + 1
    assert r["n_docs"] == n_docs
    assert r["n_empty"] == n_empty
    assert r["n_distinct_contents"] == len(fps)
    assert r["total_tokens"] == sum(toks)
    assert r["dup_rate"] == (n_docs - len(fps)) / n_docs
    assert r["median_tokens"] == sorted(toks)[(n_docs + 1) // 2 - 1]
    top = max(sorted(langs), key=lambda k: langs[k])
    assert r["top_lang"] == top
    assert r["top_lang_share"] == langs[top] / n_docs


# ---------------------------------------------------------------------------
# q_bm25
# ---------------------------------------------------------------------------
def test_bm25_matches_reference_formula(spark, sf_dir):
    import math

    rows = QUERIES["q_bm25"](spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    docs = load_table(spark, sf_dir, "documents").collect()
    terms = ["table", "spark", "merge"]
    k1, b = 1.2, 0.75
    toks = {
        d["doc_id"]: (d["text"] or "").strip().lower().split() for d in docs
        if d["text"] is not None
    }
    n = len(toks)
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    dls = {i: len(ts) for i, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    for r in rows:
        ts = toks[r["doc_id"]]
        want = 0.0
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                want += 0.0
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            want += idf * (tf * (1.0 + k1)) / (
                tf + k1 * (1.0 - b + b * (len(ts) / avgdl))
            )
        assert abs(r["bm25"] - want) < 1e-12
        assert r["dl"] == len(ts)


# ---------------------------------------------------------------------------
# q_theil_sen
# ---------------------------------------------------------------------------
def test_theil_sen_matches_manual_and_resists_outliers(spark, sf_dir):
    rows = {
        r["c_nationkey"]: r
        for r in QUERIES["q_theil_sen"](spark, sf_dir).collect()
    }
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .collect()
    )
    by_nation: dict[int, list] = {}
    for c in cust:
        by_nation.setdefault(c["c_nationkey"], []).append(
            (c["c_custkey"], c["c_acctbal"])
        )
    assert set(rows) == set(by_nation)
    for nk, pts in by_nation.items():
        pts.sort()
        slopes = [
            ((y2 - y1) / float(k2 - k1), k1, k2)
            for i, (k1, y1) in enumerate(pts)
            for k2, y2 in pts[i + 1 :]
        ]
        slopes.sort()
        n = len(slopes)
        r = rows[nk]
        assert r["n_pairs"] == n
        assert r["ts_slope"] == slopes[(n + 1) // 2 - 1][0]


# ---------------------------------------------------------------------------
# q_weighted_sample
# ---------------------------------------------------------------------------
def test_weighted_sample_deterministic_and_rate_tracks_p(spark, sf_dir):
    a = {r["lang"]: r for r in QUERIES["q_weighted_sample"](spark, sf_dir).collect()}
    b = {r["lang"]: r for r in QUERIES["q_weighted_sample"](spark, sf_dir).collect()}
    assert {k: (v["n_docs"], v["n_kept"]) for k, v in a.items()} == {
        k: (v["n_docs"], v["n_kept"]) for k, v in b.items()
    }, "content-hash draws: identical sample on every run"
    for r in a.values():
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert r["kept_rate"] == r["n_kept"] / r["n_docs"]
    # draws are uniform; with length-capped keep_p mostly near 1 on this
    # corpus, the aggregate rate must be substantially positive
    total = sum(r["n_docs"] for r in a.values())
    kept = sum(r["n_kept"] for r in a.values())
    assert kept > total * 0.2


# ---------------------------------------------------------------------------
# q_anomaly_days
# ---------------------------------------------------------------------------
def test_anomaly_days_matches_manual(spark, sf_dir):
    rows = {r["day"]: r for r in QUERIES["q_anomaly_days"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").collect()
    from collections import Counter

    daily = Counter(e["ts"].strftime("%Y-%m-%d") for e in ev)
    assert set(rows) == set(daily)
    counts = sorted(daily.values())
    med = counts[(len(counts) + 1) // 2 - 1]
    devs = sorted(abs(c - med) for c in counts)
    mad = devs[(len(devs) + 1) // 2 - 1]
    for day, r in rows.items():
        assert r["n_events"] == daily[day]
        assert r["median_events"] == med
        assert r["mad"] == mad
        assert r["is_anomaly"] == (abs(daily[day] - med) > 4 * mad)


# ---------------------------------------------------------------------------
# q_dedup_weighted
# ---------------------------------------------------------------------------
def test_weighted_jaccard_downweights_boilerplate(spark, sf_dir):
    """Weighted pairs must satisfy the score definition recomputed from raw
    shingles, and rare-shingle overlap must dominate: for every returned
    pair the weighted score >= a manual recomputation with integer
    weights, exactly."""
    from cdmx_airquality_etl_spark.registry import QUERIES as Q

    rows = Q["q_dedup_weighted"](spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents").collect()
    sh = {}
    for d in docs:
        ws = (d["text"] or "").lower().split()
        sh[d["doc_id"]] = set(
            " ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))
        )
    n = len(docs)
    from collections import Counter

    df = Counter(s for ss in sh.values() for s in ss)
    for r in rows:
        a, b = sh[r["doc_id_a"]], sh[r["doc_id_b"]]
        w = lambda ss: sum(n - df[s] for s in ss)
        want = w(a & b) / (w(a) + w(b) - w(a & b))
        assert r["weighted_jaccard"] == want
        assert want >= 0.5
