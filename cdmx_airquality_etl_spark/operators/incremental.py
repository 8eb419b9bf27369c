"""Incremental (materialized-view) aggregate maintenance.

The batch twin of the reference's accumulate-forever model: every scheduled
run MERGEs one snapshot into history and bumps per-key counters
(``scrapper.py:188-224``, nupdates at ``scrapper.py:197-199``). Generalized:
a standing per-customer aggregate ("the view") is maintained by combining
its stored state with the partial aggregate of just the new batch — the
classic self-maintainable-view algebra for distributive aggregates
(COUNT/SUM combine; AVG = SUM/COUNT at read time).

Scale story (100 TB): the whole point. Re-aggregating an append-only fact
table from scratch is O(history) per refresh; combining state with a batch
partial is O(state + batch) — and the combine is a co-partitioned full-outer
join on the view key, shuffle-free if state and batch partials are both
bucketed by key. The oracle IS the from-scratch aggregate over the union —
proving the incremental plan computes exactly what the full recompute would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

# Batch boundary: orders strictly before this date are the standing view
# state; the rest are "today's batch". Mid-range at every test scale factor
# (orders span 1995-01-01 .. 2001-08-01 at all SFs).
_CUTOFF = "1999-01-01"


@register(
    "q_incremental_agg",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*) AS order_cnt,
           {sql_exact_sum("o_totalprice")}
             AS total_spend,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order_date
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-customer order aggregate incrementally: partial-agg
    the historical state and the new batch separately, then COMBINE partials
    (counts add, DECIMAL sums add, maxes max) on the view key instead of
    re-aggregating history.

    Both partials shuffle once on o_custkey and the combine join reuses that
    partitioning (co-partitioned full outer — in a deployed view both sides
    are bucketed by key, making refresh shuffle-free). Sums combine through
    DECIMAL(18,2) so the result is bit-identical to the from-scratch oracle
    regardless of how history is split from the batch. COUNT/SUM/MAX are
    all distributive — AVG would be maintained as (SUM, COUNT) state."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
            F.max("o_orderdate").alias("last_dt"),
        )

    state = partial(orders.filter(F.col("o_orderdate") < cutoff))
    batch = partial(orders.filter(F.col("o_orderdate") >= cutoff))

    s, b = state.alias("s"), batch.alias("b")
    combined = s.join(b, F.col("s.o_custkey") == F.col("b.o_custkey"), "full")
    zero = F.lit(0).cast("decimal(18,2)")
    return combined.select(
        F.coalesce(F.col("s.o_custkey"), F.col("b.o_custkey")).alias(
            "o_custkey"
        ),
        (
            F.coalesce(F.col("s.cnt"), F.lit(0))
            + F.coalesce(F.col("b.cnt"), F.lit(0))
        ).alias("order_cnt"),
        (
            F.coalesce(F.col("s.spend"), zero)
            + F.coalesce(F.col("b.spend"), zero)
        )
        .cast("decimal(18,2)")
        .cast("double")
        .alias("total_spend"),
        # string per the temporal-output policy (DATE canonicalizes to
        # different pandas dtypes from the two engines; see q_time_bucket)
        F.date_format(
            F.greatest(
                F.coalesce(F.col("s.last_dt"), F.col("b.last_dt")),
                F.coalesce(F.col("b.last_dt"), F.col("s.last_dt")),
            ),
            "yyyy-MM-dd",
        ).alias("last_order_date"),
    )
