"""Fan-out of under-split scans to cluster width (guide §2.1/§2.6/§6).

Every driver test table is a single-row-group parquet file, so its scan
is ONE task and all pre-exchange compute — shingling, anchor/prefix
emission, the Arrow signature kernels — runs single-threaded no matter
how wide ``local[N]`` is (why the bench's 8-vs-32-core scaling ratios sat
≈ 1 for most dedup queries). The scale-correct shape is the one a
100 TB table produces naturally: the scan splits by
``maxPartitionBytes`` into far more tasks than cores. ``fan_out_scan``
restores that shape at test scale with a round-robin repartition to
``defaultParallelism``, applied ONLY when the scan has fewer partitions
than the cluster width — so on real data, where the scan already
splits, it inserts nothing.

Round 12 measured this unconditional form as a REGRESSION
(OPTIMIZATION_r12.md §7), but on a degraded window where the VM's
effective parallelism was ~5 cores (1/4/32-partition probe at
0.45/0.42/0.68 s), so a 32-way fan-out paid pure scheduling overhead.
On the healthy r13 window the fanned emissions ran 1.5-3× faster
(anchor emission 3.3 → 1.1 s, q_char_trigram 2.33 → 1.05 s).

Correctness: a repartition only moves rows. Callers must be
partition-order-insensitive — every consumer here aggregates exact
integers or computes row-local scores (the dedup family's documented
bitwise-portability discipline), so placement cannot change any result.
``spark.sql.execution.sortBeforeRepartition`` (default on) keeps the
round-robin assignment deterministic under task retries.

Tests that need the un-fanned reference shape monkeypatch
``scan_fanout_parallelism`` to return 0; ``fan_out_scan`` looks it up at
call time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def scan_fanout_parallelism(spark: SparkSession) -> int:
    """Target partition count for under-split scans: ``defaultParallelism``,
    or 0 (leave scans alone) on a one-core cluster."""
    dp = spark.sparkContext.defaultParallelism
    return dp if dp > 1 else 0


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to cluster width IF it is under-split (see module
    docstring). No-op on real multi-split inputs and on a one-core
    cluster."""
    n = scan_fanout_parallelism(df.sparkSession)
    if not n:
        return df
    # under-split check: the physical scan's split count. At 100 TB the
    # scan yields >> defaultParallelism splits and nothing is inserted;
    # the single-row-group test files yield 1.
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
