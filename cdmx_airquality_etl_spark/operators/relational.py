"""Relational operator surface (SURVEY.md §2B, rows q_scan_project .. q_pivot).

Each operator is a (spark, sf_dir) -> DataFrame function registered together
with its DuckDB oracle SQL; the pairing in one place is what keeps aliases and
semantics in sync (the driver hash-compares values column-by-column).

Scale notes (100 TB framing, graded per BASELINE.json):
- Scans declare schemas and select only needed columns → parquet column
  pruning + predicate pushdown (verify with .explain: PushedFilters/ReadSchema).
- Dim joins (nation/region/month) are explicit ``broadcast()`` — never let a
  12..25-row dim shuffle the fact side.
- Fact-fact joins shuffle on their equi-keys; AQE (session.py) handles skew
  and coalesces post-shuffle partitions.
- Aggregations are plain groupBy → Catalyst emits partial (map-side) + final
  hash aggregates; no driver-side loops anywhere.
- Double sums go through DECIMAL so results are order-independent (exact) —
  see registry.py docstring; this is correctness-for-hashing, and at scale it
  also removes run-to-run nondeterminism of float reduction order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..functions import map_decode, normalize_text_col, pack_report_ts, svg_basename
from ..registry import register
from ..schemas import MONTH_MAP
from ..sources.parquet import load_table


# ---------------------------------------------------------------------------
# q_scan_project — scan + projection + rename + cast
# (generalizes S-TBL/P-PROJ/T-RENAME/F-CAST, scrapper.py:97-110,167-178)
# ---------------------------------------------------------------------------
@register(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey AS orderkey,
           l_linenumber AS linenum,
           CAST(l_quantity AS INTEGER) AS qty_int,
           l_extendedprice * (1.0 - l_discount) AS disc_price,
           l_returnflag AS returnflag
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenum"),
        # quantities are integral doubles; DuckDB rounds double→int while
        # Spark truncates, so integrality is load-bearing (checked in tests)
        F.col("l_quantity").cast("int").alias("qty_int"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("disc_price"),
        F.col("l_returnflag").alias("returnflag"),
    )


# ---------------------------------------------------------------------------
# q_filter_pred — conjunctive + null-aware predicates (F-ROWFILT/V-NULL,
# scrapper.py:94-95,56-75); pushed down to the parquet scan
# ---------------------------------------------------------------------------
@register(
    "q_filter_pred",
    oracle="""
    SELECT l_orderkey AS orderkey,
           l_linenumber AS linenum,
           l_quantity AS qty,
           l_discount AS discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount > 0.03
      AND l_returnflag = 'R'
      AND l_quantity IS NOT NULL
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.03)
        & (F.col("l_returnflag") == "R")
        & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenum"),
        F.col("l_quantity").alias("qty"),
        F.col("l_discount").alias("discount"),
    )


# ---------------------------------------------------------------------------
# q_normalize_text — the F-NORM pipeline as native expressions
# (scrapper.py:20-26,38,41,45 — lower/trim/collapse-whitespace→underscore)
# ---------------------------------------------------------------------------
@register(
    "q_normalize_text",
    oracle=r"""
    SELECT p_partkey,
           regexp_replace(lower(trim(p_name)), '\s+', '_', 'g') AS name_norm,
           lower(p_brand) AS brand_norm,
           substring(p_type, 1, 4) AS type_prefix,
           concat(lower(p_brand), ':', regexp_replace(lower(trim(p_name)), '\s+', '_', 'g')) AS brand_name_key
    FROM part
    """,
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    name_norm = F.expr(normalize_text_col("p_name"))
    return part.select(
        "p_partkey",
        name_norm.alias("name_norm"),
        F.lower("p_brand").alias("brand_norm"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.concat(F.lower("p_brand"), F.lit(":"), name_norm).alias("brand_name_key"),
    )


# ---------------------------------------------------------------------------
# q_regex_extract — path-like pattern extraction (F-IMG, scrapper.py:101-102)
# ---------------------------------------------------------------------------
@register(
    "q_regex_extract",
    oracle="""
    SELECT doc_id,
           regexp_extract(
             concat('https://cdn.example/', source, '/', lang, '_', CAST(doc_id AS VARCHAR), '.svg'),
             '([^/]+)[.]svg$', 1) AS icon_name
    FROM documents
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = (
        "concat('https://cdn.example/', source, '/', lang, '_', "
        "CAST(doc_id AS STRING), '.svg')"
    )
    return docs.selectExpr("doc_id", f"{svg_basename(url)} AS icon_name")


# ---------------------------------------------------------------------------
# q_map_decode — literal-map decode (F-DICT, scrapper.py:49 + config.yaml:5-17)
# ---------------------------------------------------------------------------
_NUM_TO_MONTH = {v: k for k, v in MONTH_MAP.items()}
_MONTH_CASE_SQL = "CASE " + " ".join(
    f"WHEN month(o_orderdate) = {n} THEN '{name}'" for n, name in _NUM_TO_MONTH.items()
) + " END"


@register(
    "q_map_decode",
    oracle=f"""
    SELECT {_MONTH_CASE_SQL} AS month_name_str,
           month(o_orderdate) AS month_num,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_map_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month_num = "month(o_orderdate)"
    return (
        orders.selectExpr(
            f"{map_decode(month_num, _NUM_TO_MONTH)} AS month_name_str",
            f"{month_num} AS month_num",
        )
        .groupBy("month_name_str", "month_num")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q_dim_join_broadcast — fact → small-dim star join, dims broadcast
# (F-DICT as a real join; FK pattern of sql_config.yaml:6,38)
# ---------------------------------------------------------------------------
@register(
    "q_dim_join_broadcast",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           {sql_exact_sum("c.c_acctbal")} AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_dim_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q_join_inner / left / semi / anti — the M-UPSERT matched/not-matched split
# (scrapper.py:197-206) as first-class joins
# ---------------------------------------------------------------------------
@register(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment,
           o.o_totalprice, o.o_orderpriority
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice", "o_orderpriority")
    )


@register(
    "q_join_left",
    oracle=f"""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_urgent_orders,
           {sql_exact_sum("o.o_totalprice")} AS sum_urgent_price
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join + aggregate: every customer kept, zero-count rows included —
    the unmatched-target half of M-UPSERT (scrapper.py:197-206)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_urgent_orders"),
            exact_sum(F.col("o_totalprice")).alias("sum_urgent_price"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (existence check, no fact columns emitted, no fan-out) —
    M-UPSERT's matched split (scrapper.py:197-206) as a query."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (absence check) — M-UPSERT's not-matched split
    (scrapper.py:197-206): which targets receive no update."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# q_merge_fullouter — join-based MERGE: the reference's flagship M-UPSERT +
# M-COUNT (scrapper.py:188-224) as a full-outer join + per-column coalesce.
# Target = orders with key % 4 != 0; source = re-scraped snapshot (key % 2 = 0,
# price uplifted, status 'U'). See plans/merge.py for the reusable writer.
# ---------------------------------------------------------------------------
@register(
    "q_merge_fullouter",
    oracle="""
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
         source AS (SELECT o_orderkey, o_custkey,
                           'U' AS o_orderstatus,
                           o_totalprice * 1.05 AS o_totalprice
                    FROM orders WHERE o_orderkey % 2 = 0)
    SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
           COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
                THEN 2 ELSE 1 END AS nupdates
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_merge_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.05).alias("o_totalprice"),
    )
    return merge_upsert(target, source, keys=["o_orderkey"], counter_col="nupdates")


# ---------------------------------------------------------------------------
# q_dedup_keys — exact dedup to key grain, deterministic keep-latest
# (PK enforcement of sql_config.yaml:18,34,50; north-star exact dedup)
# ---------------------------------------------------------------------------
@register(
    "q_dedup_keys",
    oracle="""
    SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.col("value").alias("latest_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_group_agg — TPC-H Q1-shaped hash aggregate (M-COUNT generalized,
# scrapper.py:197-199); Catalyst emits partial+final hash agg
# ---------------------------------------------------------------------------
@register(
    "q_group_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_exact_sum("l_quantity")} AS sum_qty,
           {sql_exact_sum("l_extendedprice")} AS sum_base_price,
           {sql_exact_sum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
           {sql_exact_sum("l_quantity")} / COUNT(l_quantity) AS avg_qty,
           {sql_exact_sum("l_discount", 4)} / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(disc_price, scale=4).alias("sum_disc_price"),
            (exact_sum(F.col("l_quantity")) / F.count("l_quantity")).alias("avg_qty"),
            (exact_sum(F.col("l_discount"), scale=4) / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q_group_distinct — per-group distinct counts (key-identity semantics,
# scrapper.py:329-331); exact here; q_group_approx is the HLL variant with a calibration oracle
# ---------------------------------------------------------------------------
@register(
    "q_group_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_distinct_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_group_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_distinct_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_HLL_RSD = 0.01  # requested HyperLogLog++ relative standard deviation
_HLL_BAND = 0.05  # pinned acceptance band: 5 sigma of the requested rsd


@register(
    "q_group_approx",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_exact,
           COUNT(*) AS n_orders,
           CAST(1 AS BIGINT) AS hll_within_band
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_group_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    COUNT(DISTINCT) would shuffle every key. The raw sketch value is
    estimator-specific (DuckDB's approx uses a different algorithm), so
    the comparable surface is a CALIBRATION verdict, the same move as the
    MinHash/SimHash/ANN estimator tables: emit the exact distinct (both
    engines compute it exactly) plus a flag that the HLL estimate landed
    within a pinned ±5% band (5 sigma of the requested rsd=0.01). A
    drifting estimator flips the flag to 0 and the value-hash compare
    fails — the estimate is checked without demanding bitwise equality."""
    orders = load_table(spark, sf_dir, "orders")
    # exact distinct via TWO-LEVEL aggregation, approx in its own branch,
    # joined on the 5-row group key: mixing countDistinct with other
    # aggregates makes Catalyst Expand every input row (2x scan mass, and
    # the 2^14-register HLL partials ride the expanded rows too) — A/B
    # measured 2.65 s -> 0.8 s warm at sf0.1. The two-level form is also
    # the shape that scales: no Expand, both branches plain hash
    # aggregates, the join is group-cardinality rows.
    per_key = orders.groupBy("o_orderpriority", "o_custkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    exact = per_key.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_exact"),
        F.sum("c").cast("long").alias("n_orders"),
    )
    approx = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=_HLL_RSD).alias("n_approx")
    )
    return exact.join(approx, "o_orderpriority").select(
        "o_orderpriority",
        "n_distinct_exact",
        "n_orders",
        (
            F.abs(F.col("n_approx") - F.col("n_distinct_exact"))
            <= F.col("n_distinct_exact") * F.lit(_HLL_BAND)
        )
        .cast("long")
        .alias("hll_within_band"),
    )


# ---------------------------------------------------------------------------
# q_rollup_cube — hierarchical totals over the denormalized date dim
# (scrapper.py:154-165)
# ---------------------------------------------------------------------------
@register(
    "q_rollup_cube",
    oracle=f"""
    SELECT year(o_orderdate) AS order_year,
           o_orderstatus,
           GROUPING(year(o_orderdate), o_orderstatus) AS gid,
           {sql_exact_sum("o_totalprice")} AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
    """,
)
def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").alias("order_year")
    return (
        orders.select(year, "o_orderstatus", "o_totalprice")
        .rollup("order_year", "o_orderstatus")
        .agg(
            F.grouping_id().alias("gid"),
            exact_sum(F.col("o_totalprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q_window_rank — latest-per-key ranking ("latest report per station",
# scrapper.py:44-52)
# ---------------------------------------------------------------------------
@register(
    "q_window_rank",
    oracle="""
    SELECT c_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_price
    FROM (
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_custkey
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ) WHERE rn = 1
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_totalprice").alias("latest_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_window_running — running sum + lag delta (M-COUNT as a running count,
# scrapper.py:198). DECIMAL inside the window sum keeps it order-exact.
# ---------------------------------------------------------------------------
@register(
    "q_window_running",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_orderkey
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


# ---------------------------------------------------------------------------
# q_sort_limit_topk — order + limit; Spark compiles to TakeOrderedAndProject
# (no full sort at scale). Ties broken by unique key for determinism.
# ---------------------------------------------------------------------------
@register(
    "q_sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q_union_dedup — UNION of union-compatible tables (cdmx ∪ edomex pattern,
# sql_config.yaml:5-19 vs :21-35)
# ---------------------------------------------------------------------------
@register(
    "q_union_dedup",
    oracle="""
    SELECT entity_key, entity_name, nationkey, acctbal FROM (
      SELECT c_custkey AS entity_key, c_name AS entity_name,
             c_nationkey AS nationkey, c_acctbal AS acctbal
      FROM customer
      UNION
      SELECT s_suppkey AS entity_key, s_name AS entity_name,
             s_nationkey AS nationkey, s_acctbal AS acctbal
      FROM supplier
    )
    """,
)
def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = supplier.select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s).distinct()


# ---------------------------------------------------------------------------
# q_intersect_except — key overlap/difference between snapshots
# (snapshot-vs-history identity, scrapper.py:329-331)
# ---------------------------------------------------------------------------
@register(
    "q_intersect_except",
    oracle="""
    SELECT 'both' AS side, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS side, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    rich_nations = customer.filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_nations = supplier.select(F.col("s_nationkey").alias("nationkey"))
    both = rich_nations.intersect(supp_nations).select(
        F.lit("both").alias("side"), "nationkey"
    )
    # subtract == EXCEPT DISTINCT (exceptAll would keep surviving duplicates)
    only = rich_nations.subtract(supp_nations).select(
        F.lit("customer_only").alias("side"), "nationkey"
    )
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# q_date_parts — timestamp ↔ parts, incl. the packed yyyyMMddHH report key
# (F-CONCAT + date-part derivation, scrapper.py:44-52,154-165)
# ---------------------------------------------------------------------------
@register(
    "q_date_parts",
    oracle="""
    SELECT event_id,
           year(ts) AS year_num,
           month(ts) AS month_num,
           dayofmonth(ts) AS month_day_num,
           hour(ts) AS hour_num,
           dayname(ts) AS week_day_str,
           CAST(year(ts) AS BIGINT) * 1000000 + month(ts) * 10000
             + dayofmonth(ts) * 100 + hour(ts) AS report_ts
    FROM events
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ts = F.col("ts")
    return events.select(
        "event_id",
        F.year(ts).alias("year_num"),
        F.month(ts).alias("month_num"),
        F.dayofmonth(ts).alias("month_day_num"),
        F.hour(ts).alias("hour_num"),
        F.date_format(ts, "EEEE").alias("week_day_str"),
        pack_report_ts(ts).alias("report_ts"),
    )


# ---------------------------------------------------------------------------
# q_json_extract — JSON string column → typed fields (events.props;
# config-as-data pattern of config.yaml)
# ---------------------------------------------------------------------------
@register(
    "q_json_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", 4)} AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k_int = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select(k_int.alias("k_int"), "value")
        .groupBy("k_int")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), scale=4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_pivot — wide report over a categorical domain (parametro_str pattern,
# sql_config.yaml:10). Explicit pivot values → no extra distinct-values job.
# ---------------------------------------------------------------------------
@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
    )
    # Spark pivot yields NULL for empty cells; COUNT(CASE) yields 0 — align.
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
    )
