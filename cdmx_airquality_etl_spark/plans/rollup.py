"""Incremental aggregate maintenance: keep a materialized rollup in sync with
a stream of fact batches without ever rescanning history.

This is the reference's ``nupdates`` counter (M-COUNT,
/root/reference/scrapper.py:197-199) generalized from "count per key" to any
*additive* aggregate set (COUNT / SUM / MIN / MAX): each batch is reduced to
partial aggregates at the rollup grain, then merged into the stored rollup by
adding counts/sums and taking min/max — classic incremental view maintenance,
restricted to self-decomposable aggregates so the merge is exact.

Scale: the expensive side (the fact batch) is aggregated *before* the merge
join, so the join touches |rollup-grain| rows, not |facts|; the stored rollup
is rewritten through plans/maintenance.rewrite_table. AVG is derived
as sum/count at read time — never stored, so it stays mergeable. DECIMAL sums
keep the result bitwise-identical to a from-scratch recompute (the invariant
the test asserts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .maintenance import rewrite_table

# aggregate spec: measure column -> list of additive aggs to maintain
AggSpec = dict[str, list[str]]

_SUPPORTED = {"count", "sum", "min", "max"}


def _agg_cols(spec: AggSpec) -> list:
    cols = [F.count(F.lit(1)).alias("n_rows")]
    for col, aggs in spec.items():
        for a in aggs:
            if a not in _SUPPORTED:
                raise ValueError(
                    f"{a}({col}) is not self-decomposable; store sum+count "
                    "and derive it at read time"
                )
            if a == "count":
                cols.append(F.count(col).alias(f"count_{col}"))
            elif a == "sum":
                cols.append(
                    F.sum(F.col(col).cast("decimal(28,6)")).alias(f"sum_{col}")
                )
            elif a == "min":
                cols.append(F.min(col).alias(f"min_{col}"))
            elif a == "max":
                cols.append(F.max(col).alias(f"max_{col}"))
    return cols


def batch_partials(batch: DataFrame, keys: list[str], spec: AggSpec) -> DataFrame:
    """Reduce a fact batch to partial aggregates at rollup grain."""
    return batch.groupBy(*keys).agg(*_agg_cols(spec))


def merge_partials(
    current: DataFrame, delta: DataFrame, keys: list[str], spec: AggSpec
) -> DataFrame:
    """current ⊕ delta: add counts/sums, min/max of min/max — exact because
    every maintained aggregate is self-decomposable."""
    both = current.unionByName(delta, allowMissingColumns=True)
    cols = [F.sum("n_rows").alias("n_rows")]
    for col, aggs in spec.items():
        for a in aggs:
            name = f"{a}_{col}"
            if a in ("count", "sum"):
                cols.append(F.sum(name).alias(name))
            elif a == "min":
                cols.append(F.min(name).alias(name))
            elif a == "max":
                cols.append(F.max(name).alias(name))
    return both.groupBy(*keys).agg(*cols)


def refresh_rollup(
    spark: SparkSession,
    batch: DataFrame,
    rollup_path: str,
    keys: list[str],
    spec: AggSpec,
) -> DataFrame:
    """Fold one fact batch into the rollup stored at ``rollup_path``
    (create on first call) and return the refreshed rollup frame. The
    store is one locked :func:`~.maintenance.rewrite_table`."""
    delta = batch_partials(batch, keys, spec)
    rewrite_table(
        spark,
        rollup_path,
        lambda cur: delta if cur is None else merge_partials(cur, delta, keys, spec),
    )
    return spark.read.parquet(rollup_path)
