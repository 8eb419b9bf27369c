"""Physical-plan shape tests: the scale properties SURVEY.md §4 promises must
be visible in the plans, not just intended — predicate pushdown, column
pruning, broadcast dim joins, TakeOrderedAndProject top-k, partial hash
aggregation. These are the guarantees that survive a 100× scale-up."""

import pytest

from tests.helpers import query_plan


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_filter_pred")
    assert "PushedFilters:" in plan
    assert "IsNotNull(l_discount)" in plan or "GreaterThan(l_discount" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # column pruning: unused wide columns never read
    assert "l_comment" not in plan
    assert "l_tax" not in plan


def test_scan_project_prunes_columns(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_scan_project")
    read_schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"):
        assert col in read_schema_line
    for col in ("l_shipdate", "l_suppkey", "l_partkey"):
        assert col not in read_schema_line


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_dim_join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_flagship_revenue")
    # nation and region must be broadcast; fact-fact joins may be any
    # shuffle strategy
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters:" in plan  # shipdate filter reaches the scan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_sort_limit_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort materialization


def test_group_agg_partial_final(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_group_agg")
    assert "partial" in plan.lower()  # map-side combine present
    # partial + final pair around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_fuzzy_dedup_anchor_join_shape(spark, sf_dir):
    # round-11 DUAL-ANCHOR formulation (≥2 shared anchor keys at every
    # threshold after the sf10 single-anchor saturation cliff): anchors
    # exploded map-side (Generate) as HASHED 8-byte keys — xxhash64(lo, hi),
    # join key `akey` — candidates from an EQUI self-join on (akey[, bucket])
    # — never a cartesian/NL join — then a candidate-collapse AGGREGATE on
    # the bare ids keyed (doc_id_a, doc_id_b) with count(1) + max(__both_small)
    # and the `__nk >= 2 OR __both_small` multiplicity filter BEFORE the
    # verify joins. This subsumes the old bare-id distinct (round ≤10) and is
    # a strictly stronger guard: the ≥2-shared-anchor requirement is what
    # keeps the candidate set ∝ true-pair volume at saturating vocabularies
    # (measured at sf3 by a since-retired probe, BASELINE.md round 11:
    # 4.0M ≥1-key vs 22.8k ≥2-key candidates).
    plan = query_plan(spark, sf_dir, "q_dedup_fuzzy", mode="simple")
    assert "Generate explode" in plan  # map-side anchor expansion
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "akey" in plan and "xxhash64" in plan  # hashed anchor equi key
    import re as _re

    # the candidate-collapse aggregate: keyed on exactly the bare ids, with
    # the multiplicity count and the small-doc escape flag (partial+final,
    # so the count combines map-side before the shuffle)
    assert _re.search(
        r"HashAggregate\(keys=\[doc_id_a#\d+L?, doc_id_b#\d+L?\], "
        r"functions=\[count\(1\), max\(__both_small#\d+\)\]",
        plan,
    ), "dual-anchor candidate-collapse aggregate missing from the fuzzy plan"
    assert _re.search(
        r"HashAggregate\(keys=\[doc_id_a#\d+L?, doc_id_b#\d+L?\], "
        r"functions=\[partial_count\(1\), partial_max\(__both_small#\d+\)\]",
        plan,
    ), "candidate collapse lost its map-side partial aggregate"
    # the ≥2-key multiplicity guard (with the both-small escape hatch) sits
    # between the collapse and the verify join
    assert _re.search(
        r"Filter \(\(__nk#\d+L? >= 2\) OR __both_small#\d+\)", plan
    ), "dual-anchor >=2-key multiplicity filter missing from the fuzzy plan"


@pytest.mark.parametrize("name", ["q_join_semi", "q_join_anti"])
def test_semi_anti_join_shapes(spark, sf_dir, name):
    plan = query_plan(spark, sf_dir, name)
    kind = "LeftSemi" if name == "q_join_semi" else "LeftAnti"
    assert kind in plan


def test_topk_per_group_pushes_group_limit(spark, sf_dir):
    # rank<=k must become a WindowGroupLimit so each map task keeps only k
    # rows per group before the window shuffle — without it, the full fact
    # table flows through the sort at 100 TB
    plan = query_plan(spark, sf_dir, "q_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_range_join_is_broadcast_nlj(spark, sf_dir):
    # non-equi join against a 3-row band table: must be a broadcast nested
    # loop (map-side, no shuffle of the fact side), never a cartesian
    plan = query_plan(spark, sf_dir, "q_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_exists_subquery_rewrites_to_joins(spark, sf_dir):
    # Catalyst must decorrelate EXISTS/NOT EXISTS into semi/anti hash joins —
    # no per-row subquery execution survives in the physical plan
    plan = query_plan(spark, sf_dir, "q_exists_subquery")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_unpivot_is_narrow_expand(spark, sf_dir):
    # melt = Expand (each row → 3 rows) with no exchange: a narrow transform
    plan = query_plan(spark, sf_dir, "q_unpivot")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_time_bucket_partial_agg(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_time_bucket")
    assert "partial" in plan.lower()
    assert plan.count("HashAggregate") >= 2


def test_stratified_sample_is_one_pruned_agg(spark, sf_dir):
    # hash-membership sampling must stay a scan-side filter feeding one hash
    # aggregate: only (doc_id, lang) read, one exchange, no window/join
    plan = query_plan(spark, sf_dir, "q_stratified_sample", mode="simple")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "Window" not in plan
    read = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "text" not in read  # never deserializes document bodies


def test_pii_scrub_is_scan_side(spark, sf_dir):
    # redaction is a pure projection: pushed id filter, no exchange at all
    plan = query_plan(spark, sf_dir, "q_pii_scrub")
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in plan
    assert "Exchange" not in plan


def test_quantile_bucket_broadcasts_boundaries(spark, sf_dir):
    # the scale-safe global-quantile form: boundaries reduce to ONE row
    # (SinglePartition exchange of a pruned 1-column scan) and come back as
    # a broadcast — the fact scan itself never sorts or shuffles
    plan = query_plan(spark, sf_dir, "q_quantile_bucket", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds cross join
    assert "Exchange SinglePartition" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_dedup_incremental_is_anti_join_on_fingerprints(spark, sf_dir):
    plan = query_plan(spark, sf_dir, "q_dedup_incremental", mode="simple")
    assert "LeftAnti" in plan
    # both sides push their doc_id split predicate into the scan
    full = query_plan(spark, sf_dir, "q_dedup_incremental")
    assert "GreaterThanOrEqual(doc_id,250)" in full
    assert "LessThan(doc_id,250)" in full


def test_quality_classifier_is_scan_side(spark, sf_dir):
    # the hashed linear model is a pure projection: no shuffle, no join —
    # at 100 TB it runs at parquet-scan speed
    plan = query_plan(spark, sf_dir, "q_quality_classifier", mode="simple")
    assert "Exchange" not in plan
    assert "Join" not in plan
    read_schema_line = next(
        l for l in plan.splitlines() if "ReadSchema" in l
    )
    assert "text" in read_schema_line and "source" not in read_schema_line


def test_tfidf_single_token_shuffle_and_broadcast_n(spark, sf_dir):
    # tf/df aggregate is the only pass over token volume (one exchange on
    # (lang, term) + partial agg); per-language doc counts join broadcast;
    # the window runs on per-term rows, never raw tokens
    plan = query_plan(spark, sf_dir, "q_tfidf_topterms")
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()
    assert "SortMergeJoin" not in plan


def test_lateral_join_decorrelates(spark, sf_dir):
    # Catalyst must rewrite the correlated LATERAL subquery into a
    # join + per-key ranking (WindowGroupLimit), NOT per-outer-row
    # re-execution; both scans keep their pushed filters
    plan = query_plan(spark, sf_dir, "q_lateral_join")
    assert "WindowGroupLimit" in plan
    assert "LessThan(c_custkey,300)" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_dedup_semantic_anchor_is_linear(spark, sf_dir):
    # every member scores against exactly ONE anchor: the member↔anchor
    # join is on bucket (equi), and no all-pairs self-join condition
    # (vec_id < vec_id) appears anywhere in the plan
    plan = query_plan(spark, sf_dir, "q_dedup_semantic", mode="simple")
    assert "vec_id#" in plan
    assert " < vec_id" not in plan.replace("anchor_id", "")


def test_chunk_documents_is_zero_shuffle_generate(spark, sf_dir):
    # chunking is a scan-side explode over window starts: no exchange, no
    # join — output volume is the stride-policy duplication only
    plan = query_plan(spark, sf_dir, "q_chunk_documents", mode="simple")
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_cap_per_source_uses_window_group_limit(spark, sf_dir):
    # rank<=K per source must pre-cut map-side (WindowGroupLimit) so the
    # shuffle never carries the full corpus for a hot source
    plan = query_plan(spark, sf_dir, "q_cap_per_source")
    assert "WindowGroupLimit" in plan


def test_wscg_detection_uses_aqe_off_plan(spark, sf_dir):
    """Round-8 VERDICT #7: AQE's pre-execution formatted plan omits
    "[codegen id :" below the AdaptiveSparkPlan node, so WSCG detection on
    it under-reports. dump_plans now detects codegen from a second AQE-off
    explain — known-codegen plans must read wscg=True there."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from dump_plans import summarize

    for name in ("q_scan_project", "q_group_agg"):
        plan = query_plan(spark, sf_dir, name)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan_no_aqe = query_plan(spark, sf_dir, name)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert summarize(plan, plan_no_aqe)["wscg"] is True
    # and the under-reporting the fix replaces: the AQE-on string alone
    # misses q_group_agg's codegen spans
    assert "[codegen id :" not in query_plan(spark, sf_dir, "q_group_agg")


def test_signature_kernels_fan_out_before_band_join(spark, sf_dir):
    """Round-12 scaling-sweep find: the Arrow signature kernels removed the
    postings shuffle, but that shuffle was load-bearing — without it the
    banded self-join's stream side inherits the scan's single partition
    (one row group at test scale) and the whole candidate expansion runs
    in ONE task (q_dedup_simhash re-measured 18 s sf1 / >400 s sf3 vs the
    retired plan's 10.9 s / ~30 s). _sig_fan_out must put a doc-grain
    hash exchange between MapInPandas and the join on both signature
    consumers."""
    import re

    for name in (
        "q_dedup_simhash",
        "q_dedup_minhash",
        # round-13 (VERDICT r12 #4): the pin covers ALL signature-kernel
        # consumers, not just the two the r12 fix touched — any future
        # plan restructure that drops the fan-out re-creates the
        # 1-partition-band-join cliff for whichever consumer loses it
        "q_minhash_estimate",
        "q_simhash_calibration",
    ):
        plan = query_plan(spark, sf_dir, name, mode="simple")
        assert "MapInPandas" in plan, name
        # a repartition exchange keyed on the bare doc_id (the distinct's
        # exchange is keyed on doc_id_a/doc_id_b and does not match)
        assert re.search(r"hashpartitioning\(doc_id#\d+L?,", plan), (
            name,
            "signature fan-out exchange missing — band join is single-task",
        )


def test_no_single_partition_python_kernel_feeds_wide_input(spark, sf_dir):
    """Round-13 generalization of the r12 cliff guard: every mapInPandas
    kernel whose input is a raw (single-row-group) scan must sit above a
    fan-out — every under-split scan is fanned to cluster width, so its
    plan carries a RoundRobinPartitioning below the MapInPandas node.
    Covers the resampling kernel with a scan-grain input; the
    q_permutation_test / q_fdr_screen kernels read post-aggregate frames
    (already behind an exchange) and are exempt by the same rule."""
    plan = query_plan(spark, sf_dir, "q_bootstrap_ci", mode="formatted")
    assert "MapInPandas" in plan
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, (
        "bootstrap kernel input lost its fan-out — the vectorized draw "
        "runs in one Python task at test scale"
    )
