"""Dedup clustering: connected components over near-duplicate pairs.

Pairwise near-dup detection (q_dedup_fuzzy / q_dedup_embedding) yields edges;
an LLM-data pipeline then needs *clusters* — each group of transitively-linked
documents keeps one representative and drops the rest. That closure is an
iterative algorithm no single SQL pass expresses: min-label propagation, the
standard Spark formulation of connected components (each round, every node
takes the min label in its neighborhood; fixpoint in O(component diameter)
rounds).

Scale design: each round is one shuffle join edges⋈labels + a min-aggregate —
all set-based, no driver-side graph. ``localCheckpoint`` after every round
cuts the lineage chain (without it the plan doubles each iteration and
Catalyst analysis itself becomes the bottleneck); convergence is detected
with one label-sum aggregate per round, which is also what bounds the loop. For
web-scale graphs the same loop holds (it is GraphX/GraphFrames' CC algorithm
re-expressed on DataFrames). Past ``max_iter`` rounds it raises rather
than return a partial clustering.

The DuckDB oracle runs the same closure as a recursive CTE (UNION-dedup
guarantees termination on cycles) — exact agreement, so this "iterative,
non-SQL" operator still gets a full value-hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .similarity import _LSH_BITS_SQL, _NEAR_DUP_COS, _SIGN_BUCKET_SQL, _sql_cos


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """(src, dst) undirected edges → (node, label) with label = min node id
    reachable; nodes appearing in no edge are absent (callers union them back
    if isolated nodes matter)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def label_sum(df: DataFrame):
        # labels are monotonically non-increasing per node under the min
        # aggregation, so an unchanged total sum ⟺ no label moved — one
        # cheap aggregate per round instead of a join + count. DECIMAL sum:
        # node-count × id-magnitude can overflow int64 at graph scale.
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = label_sum(labels)
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), "label")
        )
        # LAZY checkpoint: the label_sum aggregate below is the round's ONE
        # driver action — it materializes the checkpoint (cutting lineage
        # exactly as the eager form did) and returns the convergence stat
        # in the same job, instead of paying a separate materialization job
        # per round.
        new_labels = (
            labels.unionByName(nbr_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (components with diameter > max_iter exist) rather "
        "than use a partial clustering"
    )


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    nb AS (SELECT {_LSH_BITS_SQL} AS bits FROM embeddings),
    e AS (
      SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket
      FROM embeddings, nb
    ),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {_NEAR_DUP_COS}
    ),
    edges AS (SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT edges.a, reach.r FROM edges JOIN reach ON edges.b = reach.node
    )
    SELECT node AS vec_id, MIN(r) AS cluster_id,
           (MIN(r) = node) AS is_representative
    FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (sign-LSH blocked cosine, as q_dedup_embedding) →
    transitive clusters → keep-one-per-cluster flag. The end-to-end dedup
    decision a training-data pipeline actually applies."""
    from ..registry import QUERIES

    pairs = QUERIES["q_dedup_embedding"](spark, sf_dir)
    labels = connected_components(pairs, "vec_id_a", "vec_id_b")
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("node")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# q_dedup_text_clusters — the TEXT twin of q_dedup_clusters: verified
# shingle-Jaccard pairs → transitive closure → keep-one flag
# ---------------------------------------------------------------------------
def _text_clusters_oracle() -> str:
    from .dedup import (
        _JACCARD_THRESHOLD,
        _SQL_FUZZY_JACCARD,
        _SQL_SHINGLE_PAIR_CTES,
    )

    return f"""
    WITH RECURSIVE {_SQL_SHINGLE_PAIR_CTES},
    p AS (
      SELECT doc_id_a AS va, doc_id_b AS vb
      FROM pairs
      WHERE {_SQL_FUZZY_JACCARD} >= {_JACCARD_THRESHOLD}
    ),
    edges AS (SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT edges.a, reach.r FROM edges JOIN reach ON edges.b = reach.node
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id,
           (MIN(r) = node) AS is_representative
    FROM reach GROUP BY node
    """


@register("q_dedup_text_clusters", oracle=_text_clusters_oracle())
def q_dedup_text_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup pairs (exact shingle-Jaccard ≥ threshold, the
    q_dedup_fuzzy verification) → connected components → one
    representative per cluster — the end-to-end KEEP/DROP decision for
    textual duplicates, mirroring q_dedup_clusters' embedding-space form
    so a curation run can diff the two dedup modalities' verdicts
    (documents the embedding pass groups but the text pass doesn't are
    paraphrases, the interesting band).

    Same scale shape as its parts: adjacency-anchor candidate generation
    with exact verification (dedup._anchor_jaccard_pairs — the round-9
    restructure that keeps the pair stage ~linear on saturating
    vocabularies), then the O(diameter) min-label propagation with
    per-round lineage cuts (connected_components above). The pair CTE
    text is SHARED with the fuzzy oracle (dedup._SQL_SHINGLE_PAIR_CTES),
    so the two stages can never disagree about what a duplicate pair is."""
    from ..registry import QUERIES

    pairs = QUERIES["q_dedup_fuzzy"](spark, sf_dir)
    labels = connected_components(pairs, "doc_id_a", "doc_id_b")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("node")).alias("is_representative"),
    )
