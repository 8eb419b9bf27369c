"""Graph-extension + sketch-calibration batch: bounded-hop shortest paths,
link prediction, degree distribution, count-min calibration, and winnowing
fingerprints.

Lineage: extends the trade-graph surface (operators/graph.py — PageRank /
LPA over the customer↔supplier bipartite graph; operators/clustering.py —
connected components) with the path/structure queries, and the sketch
surface (q_kmv_distinct, q_heavy_hitters, q_bloom_prune) with the count-min
estimator plus its calibration against exact counts — the
estimator-quality pattern q_minhash_estimate / q_ann_recall pins.

Determinism policy: node ids, distances, degrees and sketch cells are pure
BIGINT; hashes are the portable md5-derived int64
(functions/portable.md5_int) so both engines bucket identically; ratios divide
exact integers once at the end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import md5_int, sql_md5_int, sql_tokens, tokens
from ..registry import register
from ..sources.parquet import load_table

_SP_MAX_HOPS = 4
_SP_SOURCE = 2  # node id of customer 1 (customer nodes are 2·custkey)
_CM_ROWS = 4
_CM_WIDTH = 256
_CM_PROBES = 20
_WIN_K = 3  # tokens per gram
_WIN_W = 4  # grams per winnowing window

# shared bipartite trade-graph CTEs (q_pagerank's node encoding:
# customers 2k, suppliers 2k+1; edges = distinct observed trades, both
# directions)
_SQL_GRAPH = """
    pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst AS src, src AS dst FROM pairs
    )
"""


def _bi_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


# ---------------------------------------------------------------------------
# q_shortest_path — bounded-hop BFS distances from one source node
# ---------------------------------------------------------------------------
def _sp_oracle() -> str:
    lvls = ["d0 AS (SELECT CAST({src} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)".format(src=_SP_SOURCE)]
    prev = "d0"
    for i in range(1, _SP_MAX_HOPS + 1):
        lvls.append(
            f"""d{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT bi.dst AS node, {prev}.dist + 1 AS dist
        FROM {prev} JOIN bi ON bi.src = {prev}.node
      ) GROUP BY node
    )"""
        )
        prev = f"d{i}"
    return f"""
    WITH {_SQL_GRAPH},
    {", ".join(lvls)}
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           dist
    FROM {prev}
    """


@register("q_shortest_path", oracle=_sp_oracle())
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path distances (≤ {hops} hops) from customer 1 over
    the trade graph — the reachability primitive behind supply-chain
    blast-radius queries. The frontier loop is UNROLLED to a fixed hop
    bound: each level unions the previous distance set with
    edges-join-frontier and takes MIN(dist) per node, so the plan is
    {hops} joins + aggregates with NO driver-side convergence action at
    all (cf. clustering.py's CC loops, which must poll a convergence
    scalar). Distances are exact integers. At 100 TB the per-level join
    shuffles on node id; a bounded-hop BFS is the production form —
    unbounded BFS over a high-diameter graph is a different algorithm
    (use the CC/star machinery). The edge list localCheckpoints before
    the loop (the Pregel persist rule, graph.py:125) so the
    lineitem⋈orders derivation runs once, not once per hop.

    Round-7 diet: the first cut grew the WHOLE distance set through every
    level (dist referenced twice per level — join and union — so the
    static DAG doubled per hop: 38 exchanges, and settled nodes
    re-expanded every level). Now a true frontier BFS: only nodes first
    reached at level k expand at level k+1 (an anti-join against the
    settled set), and both iterating frames lazily checkpoint per level,
    cutting the lineage to linear. Per-level work is frontier-sized —
    the shape that survives when the graph is 100 TB and hop 1 already
    touches most of it is exactly this one, because a settled node never
    re-enters a shuffle."""
    edges = _bi_edges(spark, sf_dir).localCheckpoint(eager=False)
    seed = spark.createDataFrame([(int(_SP_SOURCE), 0)], "node bigint, dist bigint")
    dist, frontier = seed, seed
    for _ in range(_SP_MAX_HOPS):
        grown = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # only the frontier lineage-cuts (it feeds three downstream refs
        # per level: expand, anti-join, union); dist stays a plain union
        # of the checkpointed frontiers, so the final plan remains the
        # honest union tree rather than one opaque checkpoint scan
        frontier = grown.join(dist, "node", "left_anti").localCheckpoint(
            eager=False
        )
        dist = dist.unionByName(frontier)
    return dist.select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("node_type"),
        "dist",
    )


q_shortest_path.__doc__ = q_shortest_path.__doc__.format(hops=_SP_MAX_HOPS)


# ---------------------------------------------------------------------------
# q_link_prediction — supplier-pair similarity by shared part catalog
# ---------------------------------------------------------------------------
@register(
    "q_link_prediction",
    oracle="""
    WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    deg AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM sp GROUP BY 1),
    common AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM sp a JOIN sp b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, shared,
           CAST(CAST(shared AS DOUBLE) / CAST(da.n + db.n - shared AS DOUBLE) AS DOUBLE) AS jaccard
    FROM common
    JOIN deg da ON da.l_suppkey = supp_a
    JOIN deg db ON db.l_suppkey = supp_b
    ORDER BY jaccard DESC, supp_a, supp_b
    LIMIT 20
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction between suppliers: Jaccard similarity of their
    shipped-part catalogs (common-neighbors in the supplier–part bipartite
    graph). The pair generator joins on the PART key — postings per part
    are the handful of suppliers shipping it, the same bounded-postings
    shape as the dedup batch, never supplier-quadratic. Jaccard = shared /
    (|A| + |B| − shared) divides exact integers once. Top-20 by score with
    total tiebreak is a TakeOrderedAndProject."""
    sp = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    deg = sp.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    a = sp.alias("a")
    b = sp.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("supp_a"),
            F.col("b.l_suppkey").alias("supp_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    da = deg.select(F.col("l_suppkey").alias("ka"), F.col("n").alias("na"))
    db = deg.select(F.col("l_suppkey").alias("kb"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(da), F.col("supp_a") == F.col("ka"))
        .join(F.broadcast(db), F.col("supp_b") == F.col("kb"))
        .select(
            "supp_a", "supp_b", "shared",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "supp_a", "supp_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_degree_distribution — trade-graph degree histogram
# ---------------------------------------------------------------------------
@register(
    "q_degree_distribution",
    oracle=f"""
    WITH {_SQL_GRAPH},
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM bi GROUP BY src
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg
    GROUP BY 1, 2
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the trade graph, split by node role — the
    first thing a graph job inspects before choosing join strategies
    (hub detection feeds the salting / postings-cap decisions every other
    graph operator here makes). Two hash aggregates: degree per node,
    count per (role, degree). Output is O(distinct degrees)."""
    deg = _bi_edges(spark, sf_dir).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy(
        F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("node_type"),
        "degree",
    ).agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# q_countmin — count-min sketch estimates calibrated against exact counts
# ---------------------------------------------------------------------------
@register(
    "q_countmin",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({sql_tokens('text')}) AS token FROM documents
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY token
    ),
    rows_ AS (SELECT * FROM range(0, {_CM_ROWS}) AS t(r)),
    cells AS (
      SELECT r,
             {sql_md5_int("r || '|' || token", 15)} % {_CM_WIDTH} AS bucket,
             CAST(SUM(exact_n) AS BIGINT) AS cell_n
      FROM exact CROSS JOIN rows_
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT token, exact_n FROM exact
      ORDER BY exact_n DESC, token LIMIT {_CM_PROBES}
    )
    SELECT p.token, p.exact_n,
           CAST(MIN(c.cell_n) AS BIGINT) AS cm_est,
           CAST(MIN(c.cell_n) - p.exact_n AS BIGINT) AS overestimate
    FROM probes p
    CROSS JOIN rows_
    JOIN cells c
      ON c.r = rows_.r
     AND c.bucket = {sql_md5_int("rows_.r || '|' || p.token", 15)} % {_CM_WIDTH}
    GROUP BY p.token, p.exact_n
    """,
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch ({rows}×{width}, portable md5 row-hashes) over the
    corpus token stream, calibrated against exact counts for the top-{k}
    tokens — the estimator-quality triad pattern (q_minhash_estimate,
    q_ann_recall) extended to frequency sketches. The sketch builds as ONE
    hash aggregate on (row, bucket) — {rows}·{width} cells regardless of
    corpus size, the whole point of CMS at 100 TB — and the probe lookup
    is a broadcast join of the 1k-cell table. CMS guarantees est ≥ exact;
    `overestimate` is the measured collision error a production deployment
    watches to size the width."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
    )
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    rows = spark.range(_CM_ROWS).select(F.col("id").alias("r"))
    keyed = exact.crossJoin(F.broadcast(rows))
    bucket = (
        md5_int(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token")), 15)
        % _CM_WIDTH
    )
    cells = keyed.groupBy("r", bucket.alias("bucket")).agg(
        F.sum("exact_n").alias("cell_n")
    )
    probes = (
        exact.orderBy(F.col("exact_n").desc(), "token")
        .limit(_CM_PROBES)
        .crossJoin(F.broadcast(rows))
        .withColumn("pbucket", bucket)
    )
    return (
        probes.join(
            F.broadcast(cells),
            (probes.r == cells.r) & (F.col("pbucket") == cells.bucket),
        )
        .groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("cm_est"))
        .select(
            "token", "exact_n", "cm_est",
            (F.col("cm_est") - F.col("exact_n")).alias("overestimate"),
        )
    )


q_countmin.__doc__ = q_countmin.__doc__.format(rows=_CM_ROWS, width=_CM_WIDTH, k=_CM_PROBES)


# ---------------------------------------------------------------------------
# q_winnowing — window-min fingerprint selection per document
# ---------------------------------------------------------------------------
@register(
    "q_winnowing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             {sql_md5_int(f"array_to_string(w[i:i+{_WIN_K - 1}], ' ')", 15)} AS h
      FROM tok, unnest(range(1, greatest(len(w) - {_WIN_K - 1}, 1) + 1)) AS t(i)
      WHERE len(w) >= {_WIN_K}
    ),
    wmin AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams
    )
    SELECT doc_id,
           CAST(MAX(n_grams) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           CAST(MIN(fp) AS BIGINT) AS min_fp
    FROM wmin
    WHERE pos + {_WIN_W - 1} <= n_grams
    GROUP BY doc_id
    """,
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken): hash
    every {k}-token gram, slide a {w}-gram window, keep each window's
    minimum hash, and deduplicate — the content-defined fingerprinting
    scheme that guarantees any shared run of ≥ k+w−1 tokens yields a
    shared fingerprint (the theoretical footing q_doc_fingerprint's plain
    rolling-hash sampling lacks). Gram hashes are the portable md5 int64;
    the window-min partitions BY DOCUMENT (bounded by doc length, the
    per-doc shape every shingle operator here uses — no global window).
    Output per doc: gram count, selected-fingerprint count, and the
    global minimum (the doc's cheapest retrieval probe)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= _WIN_K
    )
    grams = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(w) - {_WIN_K - 1}, 1)),"
                f" i -> array_join(slice(w, i, {_WIN_K}), ' '))"
            )
        ).alias("pos0", "gram"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        md5_int(F.col("gram"), 15).alias("h"),
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    wcnt = Window.partitionBy("doc_id")
    sel = grams.select(
        "doc_id", "pos",
        F.min("h").over(wmin).alias("fp"),
        F.count(F.lit(1)).over(wcnt).alias("n_grams"),
    ).filter(F.col("pos") + (_WIN_W - 1) <= F.col("n_grams"))
    return sel.groupBy("doc_id").agg(
        F.max("n_grams").alias("n_grams"),
        F.countDistinct("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
    )


q_winnowing.__doc__ = q_winnowing.__doc__.format(k=_WIN_K, w=_WIN_W)


# ---------------------------------------------------------------------------
# q_assortativity — degree assortativity of the trade graph
# ---------------------------------------------------------------------------
@register(
    "q_assortativity",
    oracle=f"""
    WITH {_SQL_GRAPH},
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM bi GROUP BY src
    ),
    ed AS (
      SELECT ds.d AS dx, dd.d AS dy
      FROM bi
      JOIN deg ds ON ds.node = bi.src
      JOIN deg dd ON dd.node = bi.dst
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(dx) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(dy) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(dx * dx) AS BIGINT) AS DOUBLE) AS qx,
             CAST(CAST(SUM(dy * dy) AS BIGINT) AS DOUBLE) AS qy,
             CAST(CAST(SUM(dx * dy) AS BIGINT) AS DOUBLE) AS sxy
      FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           (n * sxy - sx * sy)
             / (sqrt(n * qx - sx * sx) * sqrt(n * qy - sy * sy))
             AS assortativity
    FROM m
    WHERE n * qx > sx * sx AND n * qy > sy * sy
    """,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over every directed edge — negative means hubs
    attach to leaves (the usual shape of trade/interaction graphs),
    positive means hubs cluster. One number that summarizes whether
    q_degree_distribution's tail nodes talk to each other.

    Scale shape: one degree aggregate, two hash joins to decorate each
    edge with its endpoint degrees (both sides partition by node id),
    one scalar moment rollup. The five moments are exact BIGINTs (degree
    ≤ |nodes|, Σd·d' ≤ |E|·deg_max² stays far inside 2⁶³ at any real
    skew); the correlation is ONE fixed-shape double expression with the
    exact-integer degenerate guard applied in both engines."""
    edges = _bi_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ed = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "dx")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst"
        )
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dx").cast("long").cast("double").alias("sx"),
        F.sum("dy").cast("long").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").cast("double").alias("qx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").cast("double").alias("qy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    qx, qy, sxy = F.col("qx"), F.col("qy"), F.col("sxy")
    return m.filter((n * qx > sx * sx) & (n * qy > sy * sy)).select(
        n.cast("long").alias("n_directed_edges"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * qx - sx * sx) * F.sqrt(n * qy - sy * sy))
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q_modularity — per-community modularity terms of the nation partition
# ---------------------------------------------------------------------------
@register(
    "q_modularity",
    oracle=f"""
    WITH {_SQL_GRAPH},
    comm AS (
      SELECT c_custkey * 2 AS node, CAST(c_nationkey AS BIGINT) AS c
      FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1 AS node, CAST(s_nationkey AS BIGINT) AS c
      FROM supplier
    ),
    ce AS (
      SELECT cs.c AS c_src, cd.c AS c_dst
      FROM bi
      JOIN comm cs ON cs.node = bi.src
      JOIN comm cd ON cd.node = bi.dst
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM ce),
    per AS (
      SELECT c_src AS community,
             CAST(COUNT(*) AS BIGINT) AS degree_total,
             CAST(COUNT(*) FILTER (WHERE c_src = c_dst) AS BIGINT)
               AS within_directed
      FROM ce GROUP BY c_src
    )
    SELECT community, degree_total, within_directed,
           CAST(within_directed AS DOUBLE) / m2
             - (CAST(degree_total AS DOUBLE) / m2)
               * (CAST(degree_total AS DOUBLE) / m2) AS modularity_term
    FROM per, m
    """,
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the trade graph,
    one row per community: Q_c = e_c/2m − (d_c/2m)² (directed-edge
    counting, so 2m is the bi-directed edge total and e_c counts
    within-community directed edges). Σ Q_c answers 'does geography
    explain who trades with whom' — the objective q_label_propagation
    optimizes implicitly, here evaluated exactly against a GIVEN
    partition (the modularity-of-a-partition primitive every community
    pipeline needs for before/after comparisons).

    Scale shape: two hash joins decorate each directed edge with its
    endpoint communities (partition by node id), then a
    community-cardinality aggregate + a broadcast scalar. The per-ROW
    grain is the determinism move: each term is one fixed-shape double
    of exact BIGINTs; the 25-row fold to scalar Q happens at read time,
    never as an engine float sum."""
    edges = _bi_edges(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 2).alias("node"),
        F.col("c_nationkey").cast("long").alias("c"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node"),
        F.col("s_nationkey").cast("long").alias("c"),
    )
    comm = cust.unionByName(supp)
    ce = (
        edges.join(comm.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("c", "c_src")
        .join(
            comm.select(F.col("node").alias("dst"), F.col("c").alias("c_dst")),
            "dst",
        )
        .select("c_src", "c_dst")
    )
    m = ce.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    per = ce.groupBy(F.col("c_src").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("degree_total"),
        F.count_if(F.col("c_src") == F.col("c_dst")).cast("long").alias(
            "within_directed"
        ),
    )
    dt = F.col("degree_total").cast("double") / F.col("m2")
    return per.crossJoin(F.broadcast(m)).select(
        "community",
        "degree_total",
        "within_directed",
        (
            F.col("within_directed").cast("double") / F.col("m2") - dt * dt
        ).alias("modularity_term"),
    )
