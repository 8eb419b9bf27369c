"""Warehouse-pattern operators: multi-join reporting, data-quality
constraint suites, snapshot CDC, and degree-capped graph motif counting.

- q_tpch_shipping     — TPC-H Q3-shaped 3-way join + top-k by aggregated
                        revenue (the reference's reporting joins generalized:
                        scrapper.py:197-214 merges keyed snapshots before
                        reporting; this is the same shape at star-schema
                        scale with the dimension side broadcast).
- q_tpch_local_volume — TPC-H Q5-shaped 6-way join through region→nation→
                        customer/supplier co-location; the canonical
                        broadcast-dimension plan.
- q_constraint_suite  — Deequ-style declarative checks (completeness,
                        uniqueness, range, domain, referential integrity)
                        computed in ONE scan + one anti-join; generalizes the
                        reference's quality gate (V-GATE, scrapper.py:120-139:
                        malformed-row and missing-station checks before load).
- q_snapshot_diff     — CDC changelog between two keyed snapshots
                        (insert/update/delete classification via one
                        co-partitioned full-outer join); the set-based twin
                        of the reference's row-wise upsert detection
                        (M-UPSERT/M-COUNT, scrapper.py:197-214).
- q_triangle_count    — triangle counting over a per-node top-k-sparsified
                        co-occurrence graph. The raw supplier co-occurrence
                        graph is ~91% dense at sf0.1 (453k/499k possible
                        edges) so motif counting on it would blow up
                        combinatorially at scale; capping each node to its
                        top-3 strongest neighbors bounds the wedge join at
                        O(k^2 * n) — the sparsification every production
                        graph pipeline applies before motif mining.

Scale notes (100 TB): the two TPC-H plans keep every dimension join
broadcast (region/nation/supplier/customer are orders-of-magnitude smaller
than the fact table) so the only shuffle is the final aggregate; the
constraint suite is a single fact-table scan producing a 6-row report (the
anti-join's build side is the dimension, broadcastable); snapshot diff
shuffles both snapshots once on the same key (co-partitioned, and on a
bucketed/Delta table it would be shuffle-free); the motif count never
materializes the dense graph — the top-k cap happens in the same shuffle
that counts co-occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_Q3_CUTOFF = "1998-06-01"
_TOPK_NEIGHBORS = 3


# ---------------------------------------------------------------------------
# q_tpch_shipping — TPC-H Q3: unshipped-order revenue, top 10
# ---------------------------------------------------------------------------
@register(
    "q_tpch_shipping",
    oracle=f"""
    SELECT l_orderkey,
           {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF} 00:00:00'
      AND l_shipdate  > TIMESTAMP '{_Q3_CUTOFF} 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 plan: both filters reach the scans (pushdown), the customer side is
    broadcast (15k rows at sf0.1 vs 600k lineitem), revenue sums through
    DECIMAL so the top-10 cut is bit-identical across engines, and the final
    ORDER BY ... LIMIT is a TakeOrderedAndProject — no global sort."""
    cutoff = F.lit(_Q3_CUTOFF).cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(disc_price, scale=4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_tpch_local_volume — TPC-H Q5: revenue where customer and supplier share
# a nation, per ASIA nation, one order-year
# ---------------------------------------------------------------------------
@register(
    "q_tpch_local_volume",
    oracle=f"""
    SELECT n_name,
           {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_tpch_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 plan: every dimension (region→nation, supplier, customer) is
    broadcast, so the fact table is scanned once and shuffles only for the
    5-row nation aggregate. The c_nationkey = s_nationkey co-location
    predicate rides the supplier broadcast join — no extra pass."""
    nations = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(exact_sum(disc_price, scale=4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q_constraint_suite — declarative data-quality checks as a report table
# ---------------------------------------------------------------------------
@register(
    "q_constraint_suite",
    oracle="""
    WITH a AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_custkey) AS n_null_cust,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_key,
             SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS n_bad_price,
             SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS n_bad_status
      FROM orders
    ), o AS (
      SELECT COUNT(*) AS n_orphan
      FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    )
    SELECT 'row_count' AS check_name, CAST(n_rows AS BIGINT) AS metric, n_rows > 0 AS passed FROM a
    UNION ALL
    SELECT 'completeness_o_custkey', CAST(n_null_cust AS BIGINT), n_null_cust = 0 FROM a
    UNION ALL
    SELECT 'uniqueness_o_orderkey', CAST(n_dup_key AS BIGINT), n_dup_key = 0 FROM a
    UNION ALL
    SELECT 'range_o_totalprice_positive', CAST(n_bad_price AS BIGINT), n_bad_price = 0 FROM a
    UNION ALL
    SELECT 'domain_o_orderstatus', CAST(n_bad_status AS BIGINT), n_bad_status = 0 FROM a
    UNION ALL
    SELECT 'referential_o_custkey', CAST(n_orphan AS BIGINT), n_orphan = 0 FROM o
    """,
)
def q_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All scan-side checks fold into ONE aggregate over the fact table
    (Catalyst runs them as a single partial+final hash agg); referential
    integrity is a broadcast anti-join counted in the same job. The 6-row
    report is built by exploding a struct array — no driver-side collect, so
    the pattern holds when 'orders' is 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("n_null_cust"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_dup_key"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("n_bad_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("n_bad_status"),
    )
    orphans = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphan"))
    )

    def _check(name: str, metric, passed):
        return F.struct(
            F.lit(name).alias("check_name"),
            metric.cast("long").alias("metric"),
            passed.alias("passed"),
        )

    return (
        agg.crossJoin(orphans)
        .select(
            F.explode(
                F.array(
                    _check("row_count", F.col("n_rows"), F.col("n_rows") > 0),
                    _check(
                        "completeness_o_custkey",
                        F.col("n_null_cust"),
                        F.col("n_null_cust") == 0,
                    ),
                    _check(
                        "uniqueness_o_orderkey",
                        F.col("n_dup_key"),
                        F.col("n_dup_key") == 0,
                    ),
                    _check(
                        "range_o_totalprice_positive",
                        F.col("n_bad_price"),
                        F.col("n_bad_price") == 0,
                    ),
                    _check(
                        "domain_o_orderstatus",
                        F.col("n_bad_status"),
                        F.col("n_bad_status") == 0,
                    ),
                    _check(
                        "referential_o_custkey",
                        F.col("n_orphan"),
                        F.col("n_orphan") == 0,
                    ),
                )
            ).alias("c")
        )
        .select("c.check_name", "c.metric", "c.passed")
    )


# ---------------------------------------------------------------------------
# q_snapshot_diff — CDC changelog between two keyed snapshots
# ---------------------------------------------------------------------------
@register(
    "q_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <> 0
    ), v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + CAST(10.0 AS DOUBLE)
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 10 <> 1
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           v1.price AS old_price,
           v2.price AS new_price
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.price <> v2.price
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-snapshot CDC: one full-outer join on the key classifies
    every row as insert / delete / update and drops the unchanged majority.
    Both snapshots here derive from one scan (deterministic key-mod
    filters simulate yesterday/today), and both sides hash-shuffle on the
    SAME key — on a bucketed or Delta/Iceberg table this join is
    shuffle-free. The unchanged-row filter runs inside the join stage, so
    only the changelog (a tiny fraction at 100 TB) flows downstream."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = (
        orders.filter(F.col("o_orderkey") % 10 != 0)
        .select("o_orderkey", F.col("o_totalprice").alias("old_price"))
    )
    v2 = (
        orders.filter(F.col("o_orderkey") % 10 != 1)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.col("o_totalprice") + F.lit(10.0),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("new_price"),
        )
    )
    j = v1.join(v2, "o_orderkey", "full_outer")
    return (
        j.select(
            "o_orderkey",
            F.when(F.col("old_price").isNull(), "insert")
            .when(F.col("new_price").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            "old_price",
            "new_price",
        ).filter(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )


# ---------------------------------------------------------------------------
# q_triangle_count — motifs over a top-k-sparsified co-occurrence graph
# ---------------------------------------------------------------------------
@register(
    "q_triangle_count",
    oracle=f"""
    WITH os AS (
      SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
    ), co AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS cnt
      FROM os a JOIN os b ON a.ok = b.ok AND a.s <> b.s
      GROUP BY a.s, b.s
    ), topk AS (
      SELECT u, v FROM (
        SELECT u, v,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY cnt DESC, v) AS rn
        FROM co
      ) WHERE rn <= {_TOPK_NEIGHBORS}
    ), edges AS (
      SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM topk
    ), tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(*) FROM (SELECT a FROM edges UNION SELECT b FROM edges)) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles via the oriented wedge join (a<b<c once each). The raw
    supplier co-occurrence graph is ~91% dense at sf0.1, so the graph is
    first sparsified to each node's top-3 strongest neighbors (ties broken
    by neighbor id — deterministic); after symmetrization max degree is
    O(k + incoming), bounding the wedge join at O(k^2 * n) regardless of
    corpus size. The top-k cut happens inside the same shuffle that counts
    co-occurrences (window over the grouped pairs), never materializing the
    dense graph."""
    os_ = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = os_.alias("a"), os_.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.s") != F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("u").orderBy(F.col("cnt").desc(), F.col("v"))
    topk = co.select("u", "v", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= _TOPK_NEIGHBORS
    )
    edges = topk.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    # Round-7 diet: the oriented wedge join (edges³ self-join) plus three
    # scalar branches re-referenced the edges pipeline six times (37
    # exchanges). Adjacency-intersection form: one greater-neighbor list
    # per node (c ∈ g(u) ⇔ edge (u,c), u < c), then per edge (a,b) the
    # triangle count through that edge is |g(a) ∩ g(b)| — membership in
    # g(b) already enforces c > b, so each triangle a<b<c counts exactly
    # once, on its (a,b) edge. No wedge materialization (the wedge join
    # builds O(k·n) wedge rows before filtering; the intersect is O(k log k)
    # per edge), and n_nodes/n_edges ride the SAME final aggregate via a
    # posexplode of the edge endpoints instead of crossJoin(scalar) pairs.
    gadj = edges.groupBy(F.col("a").alias("u")).agg(
        F.collect_set("b").alias("nbrs")
    )
    per_edge = (
        edges.join(gadj.alias("ga"), F.col("a") == F.col("ga.u"))
        .join(gadj.alias("gb"), F.col("b") == F.col("gb.u"), "left")
        .select(
            "a",
            "b",
            F.size(
                F.array_intersect(
                    F.col("ga.nbrs"),
                    F.coalesce(F.col("gb.nbrs"), F.expr("array()")),
                )
            ).alias("t"),
        )
    )
    expl = per_edge.select(
        "t", F.posexplode(F.array("a", "b")).alias("pos", "node")
    )
    return expl.agg(
        F.countDistinct("node").cast("long").alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        F.sum(F.when(F.col("pos") == 0, F.col("t")).otherwise(0))
        .cast("long")
        .alias("n_triangles"),
    )


# ---------------------------------------------------------------------------
# q_tpch_market_share — TPC-H Q8: one nation's share of regional volume
# ---------------------------------------------------------------------------
@register(
    "q_tpch_market_share",
    oracle="""
    WITH v AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             n2.n_name AS supp_nation,
             CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS vol
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON p_partkey = l_partkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT yr,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_9' THEN vol
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE) AS mkt_share,
           CAST(SUM(vol) AS DOUBLE) AS total_volume
    FROM v
    GROUP BY yr
    """,
)
def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 plan: the fact table joins two ROLES of the nation dimension
    (customer's nation filtered through region, supplier's nation kept as
    the share label) — both broadcast, as are part/customer/supplier. The
    share is a ratio of two DECIMAL-exact sums computed in the SAME
    conditional aggregate (one pass, no second scan), cast to double only
    for the final division — bit-identical across engines and partition
    orders."""
    asia_nations = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cust_nationkey"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("cust_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(promo), F.col("l_partkey") == promo.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("yr"),
            "supp_nation",
            vol.alias("vol"),
        )
        .groupBy("yr")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_9", F.col("vol")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("vol").cast("double")
            ).alias("mkt_share"),
            F.sum("vol").cast("double").alias("total_volume"),
        )
    )


# ---------------------------------------------------------------------------
# q_changelog_apply — roll a snapshot forward by its CDC changelog and
# verify the reconstruction (the inverse of q_snapshot_diff)
# ---------------------------------------------------------------------------
@register(
    "q_changelog_apply",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <> 0
    ), v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + CAST(10.0 AS DOUBLE)
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 10 <> 1
    ), chg AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
             CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                  WHEN v2.o_orderkey IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type,
             v2.price AS new_price
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
         OR v1.price <> v2.price
    ), recon AS (
      SELECT v1.o_orderkey,
             COALESCE(chg.new_price, v1.price) AS price
      FROM v1 LEFT JOIN chg ON v1.o_orderkey = chg.o_orderkey
      WHERE chg.o_orderkey IS NULL OR chg.change_type = 'update'
      UNION ALL
      SELECT o_orderkey, new_price AS price
      FROM chg WHERE change_type = 'insert'
    )
    SELECT CAST((SELECT COUNT(*) FROM v2) AS BIGINT) AS n_v2,
           CAST((SELECT COUNT(*) FROM recon) AS BIGINT) AS n_recon,
           CAST((SELECT COUNT(*)
                 FROM recon r FULL OUTER JOIN v2 ON r.o_orderkey = v2.o_orderkey
                 WHERE r.o_orderkey IS NULL OR v2.o_orderkey IS NULL
                    OR r.price <> v2.price) AS BIGINT) AS n_mismatch
    """,
)
def q_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-apply: v1 + changelog → v2, returning its own verification
    (n_mismatch must be 0).

    Round-7 shuffle diet: the previous cut stacked FOUR key-joins (diff
    full-outer, apply left-join, insert union, verify full-outer — 17
    shuffles). But every per-key decision — what the changelog says, what
    the apply produces, and whether that equals v2 — is a function of the
    ONE (v1-row, v2-row) pair, so the whole op is a single full-outer
    merge on the key (the plans/merge.py shape) with the change
    classification, the MERGE apply rule (delete → drop, update/insert →
    new price, unchanged → OLD v1 price), and the row-wise equality
    verification all evaluated on that joined row, then one scalar
    conditional-sum aggregate. The verification is not vacuous: unchanged
    rows reconstruct from the v1 image, so a wrong classification or a
    drifted v1 price shows up as a mismatch. One join + one agg — on a
    bucketed table the join is shuffle-free."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1")
    )
    v2 = orders.filter(F.col("o_orderkey") % 10 != 1).select(
        F.col("o_orderkey").alias("k2"),
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(10.0))
        .otherwise(F.col("o_totalprice"))
        .alias("p2"),
    )
    merged = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    change_type = (
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .when(F.col("p1") != F.col("p2"), "update")
    )  # null = unchanged (not in the changelog)
    classified = merged.select(
        "k1",
        "k2",
        "p2",
        change_type.alias("change_type"),
        # the MERGE apply rule, per key: deletes drop; updates/inserts take
        # the changelog's new price; unchanged rows KEEP the v1 image
        (change_type.isNull() | (change_type != "delete")).alias("recon_exists"),
        F.when(change_type.isin("update", "insert"), F.col("p2"))
        .when(change_type.isNull(), F.col("p1"))
        .alias("recon_price"),
    )
    # verification rides the same joined row: key sets and prices compare
    # in place (recon and v2 are co-located per key — no second join)
    v2_exists = F.col("k2").isNotNull()
    mismatch = (F.col("recon_exists") != v2_exists) | (
        F.col("recon_exists") & v2_exists & (F.col("recon_price") != F.col("p2"))
    )
    return classified.agg(
        F.sum(v2_exists.cast("long")).cast("long").alias("n_v2"),
        F.sum(F.col("recon_exists").cast("long")).cast("long").alias("n_recon"),
        F.sum(mismatch.cast("long")).cast("long").alias("n_mismatch"),
    )
