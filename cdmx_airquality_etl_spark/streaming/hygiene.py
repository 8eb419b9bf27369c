"""ST-DECON — streaming benchmark decontamination (stream–static join).

The streaming form of q_decontaminate (operators/llm_ops.py): documents
arrive as a stream; the benchmark n-gram set is STATIC. A doc is dropped if
any of its word n-grams appears in the benchmark set.

Two formulations, both stateless (append mode, no watermark, no state
store) because the static side is fixed for the run:

- ``decontaminate_stream``: the benchmark grams are collapsed to ONE static
  row holding a sorted gram array; the stream cross-joins that row
  (stream–static broadcast, 1 row) and filters docs whose gram array has an
  empty intersection with it — contamination checked entirely SCAN-SIDE per
  micro-batch row, no shuffle, no per-batch job. Right-sized while the
  benchmark fits one array cell (~10^6 grams); beyond that,
- ``decontaminate_batch`` (used via foreachBatch) is the explode +
  broadcast-semi-join plan of the batch operator, which scales to any
  broadcastable benchmark and degrades to a shuffle semi-join past that.

Batch-equivalence (tests/test_streaming_hygiene.py): draining the stream
over a closed directory emits exactly the docs the batch plan keeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import tokens, word_shingles


def doc_grams(col_name: str = "text", n: int = 5):
    """Word n-gram array for a document column; [] when shorter than n
    words (matches the batch operator's gate)."""
    c = F.col(col_name)
    return F.when(
        F.size(tokens(c)) >= n, word_shingles(c, k=n)
    ).otherwise(F.array().cast("array<string>"))


def benchmark_gram_row(bench_docs: DataFrame, n: int = 5) -> DataFrame:
    """STATIC side: the benchmark corpus collapsed to one row holding the
    distinct sorted gram array (computed once per run, broadcast to every
    micro-batch)."""
    return (
        bench_docs.select(F.explode(doc_grams("text", n)).alias("gram"))
        .agg(F.sort_array(F.collect_set("gram")).alias("bench_grams"))
    )


def decontaminate_stream(
    docs: DataFrame, bench_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Streaming-safe clean-doc filter: stream–static cross join against the
    1-row benchmark gram array, then a scan-side empty-intersection filter.
    Works identically on a batch ``docs`` frame (the equivalence contract).
    """
    bench = benchmark_gram_row(bench_docs, n)
    return (
        docs.withColumn("__grams", doc_grams("text", n))
        .crossJoin(broadcast(bench))
        .filter(F.size(F.array_intersect("__grams", "bench_grams")) == 0)
        .drop("__grams", "bench_grams")
    )


def decontaminate_batch(
    batch_df: DataFrame, bench_grams: DataFrame, n: int = 5
) -> DataFrame:
    """foreachBatch form for benchmarks too large for one array cell:
    explode the batch's grams, broadcast-semi-join the benchmark gram table
    to find contaminated ids, anti-join them away. ``bench_grams`` is a
    (gram) DataFrame computed once outside the stream."""
    grams = batch_df.select(
        "doc_id", F.explode(doc_grams("text", n)).alias("gram")
    )
    contaminated = (
        grams.join(broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return batch_df.join(contaminated, "doc_id", "left_anti")
