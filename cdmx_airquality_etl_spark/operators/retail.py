"""Retail / merchandising analytics batch: market-basket affinity, RFM
segmentation, ABC (Pareto) classification, relational division, and
top-percent-per-group selection.

Lineage: the reference's warehouse consumers run exactly this class of
rollup over loaded facts (SURVEY §2B); these five add the classic
merchandising plan shapes — bounded pair self-joins, quantile scoring,
cumulative-share banding, universal quantification, and fraction-of-group
top-k.

Determinism policy (SURVEY.md §5.1): lift and share ratios assemble from
exact BIGINT counts / DECIMAL sums with one final double division; the ABC
class boundaries compare in pure DECIMAL (cum·5 ≤ total·4 for the 80% band)
so no float rounding can reclassify a boundary part; rank windows carry a
total tiebreak so both engines rank identically."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_BASKET_TOPK = 20
_DIVISION_BRANDS = ("Brand#1", "Brand#2", "Brand#3")


# ---------------------------------------------------------------------------
# q_market_basket — part-pair affinity (support + lift) within orders
# ---------------------------------------------------------------------------
@register(
    "q_market_basket",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM op),
    part_n AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS pair_n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, pair_n,
           CAST(CAST(pair_n AS DOUBLE) / CAST(n AS DOUBLE) AS DOUBLE) AS support,
           CAST(CAST(pair_n * n AS DOUBLE) / CAST(pa.cnt * pb.cnt AS DOUBLE) AS DOUBLE) AS lift
    FROM pairs
    JOIN part_n pa ON pa.l_partkey = part_a
    JOIN part_n pb ON pb.l_partkey = part_b
    CROSS JOIN n_orders
    ORDER BY pair_n DESC, part_a, part_b
    LIMIT {_BASKET_TOPK}
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: co-occurrence count,
    support, and lift for part pairs. The pair generator is a self-join on
    the order key over DISTINCT (order, part) rows — quadratic only in the
    BASKET size, which TPC-H-style orders bound at 7 lines (the analog of
    the dedup batch's postings cap: basket-bounded, never corpus-
    quadratic). Lift computes as (pair_n · N) / (n_a · n_b) — one double
    division of exact integers. Per-part counts broadcast back onto the
    pair aggregate; the final top-k is a TakeOrderedAndProject."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = op.agg(F.countDistinct("l_orderkey").alias("n"))
    part_n = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )
    pa = part_n.select(F.col("l_partkey").alias("ka"), F.col("cnt").alias("cnt_a"))
    pb = part_n.select(F.col("l_partkey").alias("kb"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(pa), F.col("part_a") == F.col("ka"))
        .join(F.broadcast(pb), F.col("part_b") == F.col("kb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "pair_n",
            (F.col("pair_n").cast("double") / F.col("n").cast("double")).alias("support"),
            (
                (F.col("pair_n") * F.col("n")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("pair_n").desc(), "part_a", "part_b")
        .limit(_BASKET_TOPK)
    )


# ---------------------------------------------------------------------------
# q_rfm — recency / frequency / monetary quintile segmentation
# ---------------------------------------------------------------------------
@register(
    "q_rfm",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS mo FROM orders),
    base AS (
      SELECT o_custkey AS c_custkey,
             CAST(datediff('day', CAST(MAX(o_orderdate) AS DATE), CAST(MAX(mo) AS DATE)) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {sql_exact_sum("o_totalprice")} AS monetary
      FROM orders, mx GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           CAST(6 - ntile(5) OVER (ORDER BY recency_days, c_custkey) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency, c_custkey) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary, c_custkey) AS BIGINT) AS m_score
    FROM base
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, days since last order (recency),
    order count (frequency), lifetime spend (monetary, DECIMAL-summed),
    each scored into quintiles. Recency inverts (recent = 5). The ntile
    windows carry a custkey tiebreak so both engines assign identical
    quintiles at value ties. Scale note: ntile is a global-sort window
    over the CUSTOMER grain (already 5-6 orders of magnitude smaller than
    the fact); for corpora where even that grain is too large, the
    threshold-bucket formulation of q_quantile_bucket
    (relational_ext.py) replaces the window — same scores, no global
    sort."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mo"))
    base = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(
                F.max("mo").cast("date"), F.max("o_orderdate").cast("date")
            ).cast("bigint").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            exact_sum(F.col("o_totalprice")).alias("monetary"),
        )
    )
    return base.select(
        "c_custkey", "recency_days", "frequency", "monetary",
        (F.lit(6) - F.ntile(5).over(Window.orderBy("recency_days", "c_custkey"))).cast("bigint").alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "c_custkey")).cast("bigint").alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "c_custkey")).cast("bigint").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# q_abc_analysis — Pareto A/B/C classification by cumulative revenue share
# ---------------------------------------------------------------------------
@register(
    "q_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS p_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT p_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, p_partkey) AS cum,
             (SELECT SUM(r) FROM rev) AS tot
      FROM rev
    )
    SELECT p_partkey,
           CAST(r AS DOUBLE) AS revenue,
           CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                WHEN cum * 20 <= tot * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue; the first
    80% of cumulative revenue is class A, the next 15% B, the tail C. The
    band tests compare in PURE DECIMAL (cum·5 ≤ tot·4; cum·20 ≤ tot·19) —
    integer-scaled exact arithmetic, so a part at the 80.0000% boundary
    classifies identically in both engines. The cumulative window runs
    over the PART grain (one row per part after the revenue aggregate)
    with a total (revenue, partkey) order. Scale note: a 10^8-part catalog
    makes this window the bottleneck — the two-pass alternative (histogram
    the revenue distribution, derive band thresholds, then classify by
    broadcast compare) trades exactness at band boundaries for a
    shuffle-free second pass."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("tot"))
    w = Window.orderBy(F.col("r").desc(), "p_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = rev.withColumn("cum", F.sum("r").over(w)).crossJoin(F.broadcast(tot))
    return ranked.select(
        "p_partkey",
        F.col("r").cast("double").alias("revenue"),
        F.when(F.col("cum") * 5 <= F.col("tot") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("tot") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# q_relational_division — customers who bought EVERY brand in the target set
# ---------------------------------------------------------------------------
@register(
    "q_relational_division",
    oracle=f"""
    WITH target AS (
      SELECT p_partkey, p_brand FROM part
      WHERE p_brand IN ({", ".join(f"'{b}'" for b in _DIVISION_BRANDS)})
    ),
    bought AS (
      SELECT DISTINCT o_custkey AS c_custkey, p_brand
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN target ON p_partkey = l_partkey
    )
    SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_brands
    FROM bought
    GROUP BY c_custkey
    HAVING COUNT(*) = {len(_DIVISION_BRANDS)}
    """,
)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (universal quantification): customers who have
    purchased from ALL brands in the target set. The FOR ALL folds into
    counting distinct matched brands per customer and keeping count =
    |set| — one semi-filtered fact scan (the PART dimension broadcasts;
    the brand filter shrinks the fact before the orders join, which AQE
    plans from the measured sizes — orders is fact-scale and must NOT
    carry a broadcast hint), one distinct on (customer, brand) that the
    aggregate absorbs map-side, no per-element EXISTS chain. The classic
    NOT EXISTS(NOT EXISTS(...)) phrasing would plan two correlated
    anti-joins; the count formulation is the scale-correct equivalent for
    a fixed target set."""
    target = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(*_DIVISION_BRANDS))
        .select("p_partkey", "p_brand")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bought = (
        li.join(F.broadcast(target), li.l_partkey == target.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"), "p_brand")
        .distinct()
    )
    return (
        bought.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_brands"))
        .filter(F.col("n_brands") == len(_DIVISION_BRANDS))
    )


# ---------------------------------------------------------------------------
# q_top_percent — top 1% of orders by price within each market segment
# ---------------------------------------------------------------------------
@register(
    "q_top_percent",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM orders JOIN customer ON c_custkey = o_custkey
    )
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM seg WHERE rn * 100 <= n
    """,
)
def q_top_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 1% of orders by value within each market segment. The fraction
    cut is exact integer arithmetic (rn·100 ≤ n — no float percentile),
    the rank carries a total (price, orderkey) tiebreak, and the window
    partitions by segment so ranking parallelizes across segments. Scale
    note: per-segment partitions are the natural parallel unit; a skewed
    mega-segment would use the two-pass threshold plan (approx 99th
    percentile, filter, exact rank on survivors) — the pattern
    q_quantile_bucket pins."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wn = Window.partitionBy("c_mktsegment")
    return (
        seg.select(
            "c_mktsegment",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") * 100 <= F.col("n"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rn").cast("bigint").alias("rn"))
    )
