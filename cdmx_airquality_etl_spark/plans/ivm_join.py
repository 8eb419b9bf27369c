"""Incremental maintenance for a JOIN view (delta-join algebra).

Completes the IVM story: plans/rollup.py maintains AGGREGATE views from
partial states; this module maintains a materialized equi-JOIN view
``V = A ⋈_k B`` without full recomputation, using the two patterns
production systems actually run:

* **Fact appends** (the overwhelmingly common delta): for append-only
  ΔA, the view delta is exactly ``ΔA ⋈ B`` — join the new fact rows
  against the CURRENT dimension and append. Cost is O(|ΔA|), never
  O(|A|).
* **Dimension updates** (slowly changing keys): when B rows change, the
  correct view rows for the AFFECTED KEYS are unknowable from deltas
  alone (old joined rows must disappear). The maintenance move is
  key-scoped recompute: delete view rows whose key ∈ keys(ΔB), then
  append ``A ⋈ ΔB_new`` for just those keys. Cost is O(rows of the
  touched keys), never a full refresh.

Lineage: generalizes the reference's keyed re-merge of a re-scraped
report (scrapper.py:186-242 — the same snapshot's rows are replaced by
key, untouched history is never rewritten) from single-table upsert to a
joined view.

Scale notes: both paths keep the big side (A) partitioned by the join
key; ΔB and the affected-key set are dimension-sized and broadcast. The
view is stored partitioned the same way the merge writer stores targets
(plans/merge.py), so the delete+append touches only affected files on a
real table format. The dimension-update rewrite is
plans/maintenance.rewrite_table (its docstring is the protocol); a
production deployment swaps in the ACID MERGE/DELETE of plans/merge.py's
Delta seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .maintenance import rewrite_table


def build_view(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """The view definition: inner equi-join, dimension broadcast."""
    return a.join(F.broadcast(b), key)


def apply_fact_delta(
    spark: SparkSession, view_path: str, a_delta: DataFrame, b: DataFrame, key: str
) -> None:
    """Append-only fact delta: ΔV = ΔA ⋈ B, appended to the view."""
    build_view(a_delta, b, key).write.mode("append").parquet(view_path)


def apply_dim_delta(
    spark: SparkSession,
    view_path: str,
    a: DataFrame,
    b_delta_new: DataFrame,
    key: str,
) -> None:
    """Dimension update: key-scoped delete + recompute.

    ``b_delta_new`` carries the NEW images of the changed dimension rows
    (one row per changed key). View rows for those keys are dropped (an
    anti-join rewrite here; a DELETE WHERE on an ACID format) and the
    join is recomputed only for the affected keys. The rewrite is one
    locked :func:`~.maintenance.rewrite_table`: the new view materializes
    fully before the old one moves aside, so a crash never loses it."""
    affected = b_delta_new.select(key).distinct()

    def build(current: DataFrame) -> DataFrame:
        kept = current.join(F.broadcast(affected), key, "left_anti")
        a_touched = a.join(F.broadcast(affected), key, "left_semi")
        return kept.unionByName(build_view(a_touched, b_delta_new, key))

    rewrite_table(spark, view_path, build)
