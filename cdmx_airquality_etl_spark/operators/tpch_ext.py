"""TPC-H-shaped decision-support queries: every TPC-H plan family that
operators/warehouse.py (Q3/Q5/Q8) does not cover, each with an oracle-checked
equivalent over the driver corpus columns.

- Correlated subqueries and disjunctive predicates (Q4, Q6, Q13, Q14, Q17,
  Q18, Q19): EXISTS → left-semi, correlated scalar agg → broadcast agg-join,
  left-join zero-fill double aggregation.
- Multiple dimension roles and nested aggregates (Q2, Q7, Q9, Q10, Q11, Q15,
  Q21, Q22).
- Conditional sums over a join, distinct counts with an anti-join, and a
  nested per-supplier comparison (Q12, Q16, Q20).

The testdata has no partsupp, commitdate, shipmode or phone country codes, so
each query substitutes a derived equivalent that keeps the *plan shape*, which
is the point: the part↔supplier relation derives from observed lineitem
shipments, market segment stands in as the Q22 grouping dimension,
l_shipmode becomes a line-parity class (Q12's conditional sum over a join does
not care what the class means), and ps_availqty becomes the supplier's own
shipped-quantity ratio (Q20's nested comparison survives intact).

Lineage: the reference's analytical consumers run reporting SQL over the
loaded warehouse (SURVEY §2B query surface); these are the decorrelation and
nested-aggregate patterns a warehouse engine must plan well.

Determinism policy (registry docstring): monetary sums go through
DECIMAL(18,2|4) before the double cast; the Q17 `0.2 * AVG(qty)` threshold
is rewritten as exact integer math (`5 * qty * cnt < sum_qty`, valid because
corpus quantities are integral) so the correlated comparison can never flip
on a last-ulp float difference between engines. Equality comparisons against
aggregated thresholds (Q15 max-revenue, Q11 value fraction) stay in DECIMAL on
BOTH engines so no double rounding can flip a boundary row; the Q22
average-balance threshold is one double division of exact terms. Counts and
quantities are exact BIGINTs, and the Q20 ratio comparison cross-multiplies
in integers (6·part_qty > total_qty) so no division precedes a filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_Q18_MIN_QTY = 300


# ---------------------------------------------------------------------------
# q_tpch_priority_exists — TPC-H Q4: order-priority checking via EXISTS
# ---------------------------------------------------------------------------
@register(
    "q_tpch_priority_exists",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 plan: the EXISTS decorrelates to a LEFT SEMI join on l_orderkey
    with the late-shipment predicate as the join condition (the extra
    non-equi conjunct rides the hash join, no nested loop). The quarter
    filter reaches the orders scan; the semi join deduplicates order keys
    before the tiny priority aggregate, so at 100 TB the shuffle carries
    only (orderkey, priority, orderdate) for one quarter of orders."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q_tpch_forecast_revenue — TPC-H Q6: what-if revenue from a discount band
# ---------------------------------------------------------------------------
@register(
    "q_tpch_forecast_revenue",
    oracle=f"""
    SELECT {sql_exact_sum("l_extendedprice * l_discount", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 plan: a pure scan-filter-aggregate — every predicate (shipdate
    band, discount band, quantity cap) is pushed into the parquet reader
    (PushedFilters), the projection prunes to three columns, and the global
    sum is a two-stage partial/final with a one-row exchange. This is the
    query shape that proves pushdown works: at 100 TB the scan cost IS the
    query cost, so row-group pruning on l_shipdate does all the work."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(exact_sum(F.col("l_extendedprice") * F.col("l_discount"), scale=4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q_tpch_cust_distribution — TPC-H Q13: order-count distribution incl. zero
# ---------------------------------------------------------------------------
@register(
    "q_tpch_cust_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 plan: the non-key predicate lives in the LEFT JOIN's ON clause
    (filtering WHERE would silently drop zero-order customers — the whole
    point of the query), COUNT(o_orderkey) counts only matched rows so the
    never-ordered bucket survives as c_count = 0, and the second aggregate
    is over at most a few hundred distinct counts. At scale the first
    aggregate pre-shrinks per customer BEFORE the tiny distribution shuffle;
    Spark plans the left join + count as one shuffle on custkey."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, on=cond, how="left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q_tpch_promo_effect — TPC-H Q14: conditional-revenue share in one month
# ---------------------------------------------------------------------------
@register(
    "q_tpch_promo_effect",
    oracle=f"""
    SELECT CAST(100.0 AS DOUBLE)
           * {sql_exact_sum(
               "CASE WHEN p_type = 'PROMO' "
               "THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END",
               4,
           )}
           / {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)}
           AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q_tpch_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 plan: part is the broadcast side (dimension), the one-month
    shipdate band is pushed to the lineitem scan, and both the conditional
    and total revenue accumulate in ONE aggregate pass through DECIMAL —
    the ratio is then a single double division, bit-identical across
    engines. No second scan, no join re-read."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * exact_sum(promo, scale=4)
                / exact_sum(disc, scale=4)
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_small_qty — TPC-H Q17: correlated per-part average threshold
# ---------------------------------------------------------------------------
@register(
    "q_tpch_small_qty",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST({sql_exact_sum("l_extendedprice")} / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON pk = l_partkey
    WHERE p_brand = 'Brand#3'
      AND 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
    """,
)
def q_tpch_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 plan: the correlated scalar subquery (`l_quantity <
    0.2 * AVG(qty) for this part`) decorrelates into a per-part aggregate
    joined back to the fact — Spark broadcasts the per-part (sum, cnt)
    table after the brand semi-cut shrinks it. The threshold compares in
    exact integers (quantities are integral in this corpus: 5*qty*cnt <
    sum) so no float-average ulp can flip a row between engines. At 100 TB
    the per-part agg is the map-side-combined shuffle; the fact is scanned
    once."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # brand cut first: the correlated aggregate only needs these parts
    li_brand = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).drop(
        "p_partkey"
    )
    part_avg = li_brand.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li_brand.join(F.broadcast(part_avg), F.col("l_partkey") == F.col("pk"))
        .filter(
            F.lit(5) * F.col("l_quantity").cast("bigint") * F.col("cnt")
            < F.col("sum_qty")
        )
        .agg(
            (exact_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_large_volume — TPC-H Q18: large-volume customers (HAVING on fact agg)
# ---------------------------------------------------------------------------
@register(
    "q_tpch_large_volume",
    oracle=f"""
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > {_Q18_MIN_QTY}
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_tpch_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 plan: the IN-subquery (orders whose line quantities sum past the
    threshold) decorrelates to a left-semi join against the HAVING
    aggregate; the surviving keys are few, so the customer/orders joins run
    over a tiny filtered fact. Quantities aggregate as exact BIGINT. The
    final ORDER BY/LIMIT is a TakeOrderedAndProject. At 100 TB: one
    map-combined shuffle on l_orderkey for the HAVING agg, then joins over
    ~0.01% of orders."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_tpch_disjunctive — TPC-H Q19: OR-of-ANDs predicates across a join
# ---------------------------------------------------------------------------
@register(
    "q_tpch_disjunctive",
    oracle=f"""
    SELECT {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)}
           AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 plan: the classic disjunction-across-a-join. Catalyst factors the
    common join key out of the OR and derives single-side implied filters
    (brand IN (...) for part, quantity in the union band for lineitem) that
    DO push to each scan even though the full predicate spans both tables —
    the residual OR evaluates post-join. part broadcasts; one aggregate
    pass. This is the query that catches engines which give up on pushdown
    at the first OR."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#1") & size.between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & size.between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & size.between(1, 15) & qty.between(20, 30))
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(exact_sum(disc, scale=4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q_tpch_min_cost_supplier — TPC-H Q2: per-part minimum over a derived
# part↔supplier relation
# ---------------------------------------------------------------------------
@register(
    "q_tpch_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    m AS (
      SELECT l_partkey AS pk, MIN(s_acctbal) AS min_bal
      FROM ps JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY l_partkey
    )
    SELECT p_partkey, s_suppkey, s_name,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal, n_name
    FROM ps
    JOIN part     ON p_partkey = l_partkey AND p_type = 'LARGE'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN m        ON pk = l_partkey AND s_acctbal = min_bal
    ORDER BY s_acctbal DESC, p_partkey, s_suppkey
    LIMIT 20
    """,
)
def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 plan: the correlated `MIN(cost) for this part` subquery
    decorrelates into a per-part aggregate over the DISTINCT observed
    (part, supplier) shipment pairs, joined back on (partkey, acctbal =
    min). The distinct pre-shrinks the fact to its key domain BEFORE any
    dimension join; supplier and nation broadcast; equality against the min
    compares raw stored doubles (no arithmetic), so it is exact. Ties on
    the min keep all suppliers, as in the reference query; the ORDER
    BY/LIMIT is total (acctbal, partkey, suppkey) so top-20 is stable."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "LARGE")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ps_bal = ps.join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
    mins = ps_bal.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        ps_bal.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(
            F.broadcast(mins),
            (F.col("l_partkey") == F.col("pk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "n_name",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_tpch_cross_border — TPC-H Q7: international volume, nation-pair × year
# ---------------------------------------------------------------------------
@register(
    "q_tpch_cross_border",
    oracle=f"""
    SELECT ns.n_name AS supp_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
           {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    WHERE s_nationkey <> c_nationkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ns.n_name, EXTRACT(year FROM l_shipdate)
    """,
)
def q_tpch_cross_border(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 plan: the nation dimension plays TWO roles (supplier side,
    customer side); the cross-border predicate (s_nationkey <> c_nationkey)
    evaluates on the joined keys *before* the name lookup, so only one
    broadcast of nation is needed for the output name. Orders/customer resolve the customer nation as a key-join (both are
    fact-scale — no broadcast hint; AQE picks the strategy from measured
    sizes); the supplier broadcast resolves the seller nation; the
    two-year band pushes to the lineitem scan. Output is at
    most |nation| × 2 rows — the aggregate is map-side combined."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders.join(cust, orders.o_custkey == cust.c_custkey),
                li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(exact_sum(disc, scale=4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q_tpch_product_profit — TPC-H Q9: profit by supplier nation × order year
# ---------------------------------------------------------------------------
@register(
    "q_tpch_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           {sql_exact_sum(
               "l_extendedprice * (1.0 - l_discount)"
               " - l_quantity * p_retailprice * CAST(0.2 AS DOUBLE)",
               4,
           )} AS profit
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    """,
)
def q_tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 plan: profit = revenue − carrying cost (0.2 × retail price stands
    in for ps_supplycost, which this corpus lacks). The p_name LIKE filter
    semi-cuts the part dimension before broadcast; per-row profit is pure
    double IEEE arithmetic (deterministic), then sums through DECIMAL. One
    fact scan, three broadcast dimensions, one shuffle for the
    (nation, year) aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.2)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(exact_sum(profit, scale=4).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q_tpch_returned_items — TPC-H Q10: top customers by returned-item revenue
# ---------------------------------------------------------------------------
@register(
    "q_tpch_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 plan: returned-line revenue per customer in one quarter. The
    returnflag filter pushes to the lineitem scan and the quarter band to
    orders; the nation dimension broadcasts while the orders/customer
    joins stay un-hinted (quarter-filtered orders is still fact-scale at
    100 TB — AQE broadcasts it only when measured small); the aggregate groups on the
    customer grain and the top-20 is a TakeOrderedAndProject with a total
    tiebreak (revenue desc, custkey)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_sum(disc, scale=4).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_tpch_important_stock — TPC-H Q11: value fraction with a scalar threshold
# ---------------------------------------------------------------------------
@register(
    "q_tpch_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey < 5
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val
    WHERE v > (SELECT SUM(v) * 0.001 FROM val)
    """,
)
def q_tpch_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 plan: per-part shipped value restricted to suppliers of a nation
    group, kept only where the part's value exceeds 0.1% of the group
    total. The scalar-threshold subquery becomes a one-row broadcast cross
    join (never a collect); BOTH the per-part values and the threshold stay
    in DECIMAL through the comparison — 0.001 × DECIMAL is exact in both
    engines — so no boundary part can flip on double rounding. The val
    aggregate is computed once and reused for the total (Spark plans the
    reuse as a shuffle-stage reuse under AQE)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("v"))
    )
    total = val.agg((F.sum("v") * F.lit(0.001).cast("decimal(4,3)")).alias("thr"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("v").cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_top_supplier — TPC-H Q15: supplier(s) achieving the max revenue
# ---------------------------------------------------------------------------
@register(
    "q_tpch_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE r = (SELECT MAX(r) FROM rev)
    """,
)
def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 plan: quarter revenue per supplier, then keep the one(s) equal
    to the maximum — the classic aggregate-of-aggregate. The max arrives as
    a one-row broadcast; revenue stays DECIMAL through the equality (an
    exact compare — the whole reason Q15 is a correctness trap for
    float-summing engines). Ties return every top supplier, per the
    reference query's ties semantics."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rev = li.groupBy("l_suppkey").agg(
        F.sum(disc.cast("decimal(18,4)")).alias("r")
    )
    mx = rev.agg(F.max("r").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# q_tpch_waiting_supplier — TPC-H Q21: sole-late-supplier in multi-supplier
# orders
# ---------------------------------------------------------------------------
@register(
    "q_tpch_waiting_supplier",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                 THEN l_suppkey END) AS n_late,
             MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_order JOIN supplier ON s_suppkey = late_supp
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q_tpch_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 plan: "suppliers who alone delayed a multi-supplier order". The
    reference phrasing uses EXISTS + NOT EXISTS self-joins on lineitem;
    here it reformulates as ONE aggregate per order — distinct suppliers,
    distinct late suppliers, and (when unique) the late supplier's key —
    which is the scale-correct plan: a single shuffle on l_orderkey instead
    of two extra fact self-joins (the status-filtered orders side joins
    un-hinted — it is fact-scale). late = shipped >90 days after the order
    date (this corpus has no commit/receipt dates). Output: top-10
    suppliers by blocked-order count."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    late_supp = F.when(late, F.col("l_suppkey"))
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(late_supp).alias("n_late"),
            F.min(late_supp).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(supp), per_order.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_tpch_lapsed_customers — TPC-H Q22: high-balance customers gone quiet
# ---------------------------------------------------------------------------
@register(
    "q_tpch_lapsed_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_exact_sum("c_acctbal")} / COUNT(*) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_exact_sum("c_acctbal")} AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_mktsegment
    """,
)
def q_tpch_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 plan: customers whose balance beats the positive-balance average
    but placed no order since 2000 (market segment stands in for the phone
    country code). The average threshold is computed as exact-decimal sum ÷
    count — ONE double division, identical in both engines — and arrives
    as a one-row broadcast; the NOT EXISTS decorrelates to a left-anti join
    against the date-filtered orders (the filter pushes to the orders scan
    first, shrinking the anti side). Group totals sum through DECIMAL."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                exact_sum(F.col("c_acctbal"))
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_shipmode_priority — TPC-H Q12: conditional priority counts per class
# ---------------------------------------------------------------------------
@register(
    "q_tpch_shipmode_priority",
    oracle="""
    SELECT CASE WHEN l_linenumber % 2 = 0 THEN 'EVEN' ELSE 'ODD' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY 1
    """,
)
def q_tpch_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 plan: late shipments classified by ship class (line parity
    stands in for ship mode — the corpus has none), counting high- vs
    low-priority orders per class in ONE conditional-sum pass over the
    join. The year band pushes to the lineitem scan; the lateness
    predicate (ship > order + 30d) rides the join; orders joins un-hinted
    (fact-scale — AQE picks the strategy).
    Q12's point is that both counters come from one aggregate, not two
    filtered scans."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(
            F.when(F.col("l_linenumber") % 2 == 0, "EVEN").otherwise("ODD").alias("ship_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_parts_supplier_count — TPC-H Q16: distinct suppliers per part class
# ---------------------------------------------------------------------------
@register(
    "q_tpch_parts_supplier_count",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_type,
           CAST(p_size // 10 AS BIGINT) AS size_band,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS part_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
    GROUP BY p_type, p_size // 10
    """,
)
def q_tpch_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 plan: how many distinct suppliers can serve each (type,
    size-band) part class, excluding one brand — the sourcing-risk
    rollup. The part↔supplier relation derives from observed shipments
    (DISTINCT pre-shrink, as Q2), the brand exclusion semi-cuts the
    dimension before broadcast, and both distinct counts share one hash
    aggregate. Q16's trap is double-counting suppliers across parts —
    COUNT(DISTINCT) per class is the contract."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#1")
        .select("p_partkey", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy(
            "p_type",
            F.floor(F.col("p_size") / 10).cast("bigint").alias("size_band"),
        )
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.countDistinct("p_partkey").alias("part_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_concentrated_suppliers — TPC-H Q20: nested per-supplier ratio gate
# ---------------------------------------------------------------------------
@register(
    "q_tpch_concentrated_suppliers",
    oracle="""
    WITH yr AS (
      SELECT l_suppkey, l_partkey, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ),
    widget AS (
      SELECT l_suppkey, SUM(q) AS widget_qty
      FROM yr JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
      GROUP BY l_suppkey
    ),
    total AS (
      SELECT l_suppkey, SUM(q) AS total_qty FROM yr GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(widget_qty AS BIGINT) AS widget_qty,
           CAST(total_qty AS BIGINT) AS total_qty
    FROM widget
    JOIN total USING (l_suppkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE 6 * widget_qty > total_qty
    """,
)
def q_tpch_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 plan: suppliers whose 1996 widget shipments exceed a sixth of
    their total 1996 shipments (the corpus spreads quantity over ~6 part
    nouns, so a sixth is the over-indexing threshold) — the nested aggregate-vs-aggregate gate (the
    original compares stock to half of shipped quantity; the corpus has
    no availqty, so the ratio compares two shipment aggregates — same
    shape: two groupings of the same filtered fact joined per supplier).
    The ratio gate cross-multiplies in exact integers (6·widget > total),
    never dividing before the filter. One fact scan feeds both
    aggregates; the year band pushes down; part and supplier broadcast."""
    yr = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_partkey", F.col("l_quantity").cast("bigint").alias("q"))
    )
    widget_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    widget = (
        yr.join(F.broadcast(widget_parts), yr.l_partkey == widget_parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("q").alias("widget_qty"))
    )
    total = yr.groupBy(F.col("l_suppkey").alias("tk")).agg(
        F.sum("q").alias("total_qty")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        widget.join(F.broadcast(total), widget.l_suppkey == total.tk)
        .filter(6 * F.col("widget_qty") > F.col("total_qty"))
        .join(F.broadcast(supp), widget.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "widget_qty", "total_qty")
    )
