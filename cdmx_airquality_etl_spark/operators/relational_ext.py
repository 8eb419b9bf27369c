"""Extended relational surface: the query shapes a user of a general-purpose
engine reaches for beyond the core group-by / join set of relational.py.

- Grouping and windows: CUBE / GROUPING SETS totals, tiling, RANGE frames,
  first/last/nth and distribution windows, top-k per group,
  gaps-and-islands, forward fill (last observation carried forward).
- Aggregates: ordered-set percentiles, conditional aggregation, argmax-by,
  ordered string aggregation, per-group mode, exact correlation moments.
- Subqueries and joins: EXISTS / scalar subqueries, range (banding) joins,
  NULL-safe equality, LATERAL joins, recursive CTEs, bag set operations.
- Reshaping and scalar functions: unpivot, lateral array expansion, time-bucket
  rollups, dense-grid zero-fill, string / array functions, error-safe try_*
  arithmetic, date/interval arithmetic, VARIANT path extraction.

Lineage: each generalizes the reference's denormalized date-dimension
reporting model (sql_config.yaml:12-17) the same way q_rollup_cube does. Its
``calidad_del_aire`` ordinal implies banding (range join), its normalize/split
text pipeline (scrapper.py:20-26,41) the string/array library, its cast with
failure handling (scrapper.py:63,114) the try_* forms, and its NULLs for
missing divs (scrapper.py:56-75) the gap repair and dense hourly grids.

NULL keys, gap repair and empty report cells are the corners where engines
silently disagree: ordinary equi-joins drop NULL keys, window last_value needs
IGNORE NULLS, and sparse data needs the empty cells materialized. Each is
pinned to the DuckDB oracle because the semantics are easy to get wrong.

Hash-stability: double sums go through DECIMAL (exact, order-independent);
decimal rounding of doubles is never exactly-halfway (a binary double cannot
land on a decimal .5 boundary), so Spark and DuckDB round identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum, sql_tokens, tokens
from ..registry import register
from ..sources.parquet import load_table


@register(
    "q_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           {sql_exact_sum("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^n grouping combinations in one
    Expand + hash-agg pass — the full cross-tab of the reference's
    denormalized report dims (sql_config.yaml:12-17)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority").agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (each flag alone + grand total): the
    hand-picked subset of CUBE a report actually needs — same single-pass
    Expand plan, fewer emitted groups."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n_rows
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q_window_ntile",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS balance_quartile,
           rank()   OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS balance_rank,
           dense_rank() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS rank_in_nation
    FROM customer
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quartiles/ranks. NOTE (scale): an unpartitioned window funnels
    the table through one task — acceptable for dimension-sized inputs like
    customer, by design. For fact-scale global bucketing use the
    boundary-broadcast form (q_quantile_bucket); for fact-scale global
    ranking, range partitioning + per-partition rank + offset merge."""
    customer = load_table(spark, sf_dir, "customer")
    w_global = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    w_nation = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return customer.select(
        "c_custkey",
        F.ntile(4).over(w_global).alias("balance_quartile"),
        F.rank().over(w_global).alias("balance_rank"),
        F.dense_rank().over(w_nation).alias("rank_in_nation"),
    )


@register(
    "q_quantile_bucket",
    oracle="""
    WITH b AS (
      SELECT quantile_disc(c_acctbal, 0.25) AS p25,
             quantile_disc(c_acctbal, 0.50) AS p50,
             quantile_disc(c_acctbal, 0.75) AS p75
      FROM customer
    )
    SELECT c_custkey,
           1 + CAST(c_acctbal > b.p25 AS INT) + CAST(c_acctbal > b.p50 AS INT)
             + CAST(c_acctbal > b.p75 AS INT) AS balance_quartile
    FROM customer, b
    """,
)
def q_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-scale form of q_window_ntile's global quartiles: compute the
    three boundary values as ONE tiny aggregate, broadcast the 1-row result
    back, and bucket by plain comparisons — no global sort, no single-task
    window; the scan side stays embarrassingly parallel. Boundaries here are
    exact percentile_disc (a data member, no interpolation → bitwise oracle
    agreement); at 100 TB swap in approx_percentile — a mergeable sketch with
    bounded rank error — and the plan shape is unchanged. Bucket semantics:
    count of boundaries strictly below the value (ties share a bucket), which
    is ntile minus its even-cardinality tie-splitting."""
    customer = load_table(spark, sf_dir, "customer")
    customer.createOrReplaceTempView("__cust_qb")
    bounds = spark.sql(
        """
        SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY c_acctbal) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal) AS p75
        FROM __cust_qb
        """
    )
    quartile = (
        F.lit(1)
        + (F.col("c_acctbal") > F.col("p25")).cast("int")
        + (F.col("c_acctbal") > F.col("p50")).cast("int")
        + (F.col("c_acctbal") > F.col("p75")).cast("int")
    )
    return customer.join(F.broadcast(bounds)).select(
        "c_custkey", quartile.alias("balance_quartile")
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT event_id, user_id, value,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS n_events_last_hour
    FROM events
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per event, how many of the user's events
    fall in the trailing hour — the sliding-window count ST-COUNT computes in
    streaming, as a batch analytic."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n_events_last_hour"),
    )


@register(
    "q_explode_tokens",
    oracle=rf"""
    SELECT doc_id, u.tok, CAST(u.pos AS INTEGER) AS pos
    FROM (
      SELECT doc_id, {sql_tokens("text")} AS w
      FROM documents WHERE doc_id < 50
    ), LATERAL (
      SELECT unnest(w) AS tok, generate_subscripts(w, 1) - 1 AS pos
    ) u
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral array expansion with ordinality (posexplode ↔ unnest WITH
    ORDINALITY) — the S-TBL rows→records shape as a first-class operator."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = tokens("text")
    return docs.select("doc_id", F.posexplode(toks).alias("pos", "tok")).select(
        "doc_id", "tok", F.col("pos").cast("int").alias("pos")
    )


@register(
    "q_collect_sorted",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect_set is unordered by contract,
    so sort_array makes the result comparable — the only safe way to emit
    array aggregates from a distributed engine. The sorted set is emitted as
    a ','-joined string so the result is hashable under pandas-based result
    canonicalization (array cells are unhashable lists there)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.50) AS p50_qty,
           quantile_disc(l_quantity, 0.90) AS p90_qty,
           quantile_disc(l_extendedprice, 0.99) AS p99_price,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (ordered-set aggregate). percentile_disc returns a
    member of the data set — no interpolation arithmetic — so Spark and DuckDB
    agree bitwise. At scale this is a single hash-agg pass with per-group
    sorted state; for fact-scale cardinalities prefer approx_percentile
    (see q_group_approx)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_pct")
    return spark.sql(
        """
        SELECT l_returnflag,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity) AS p50_qty,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99_price,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM __li_pct
        GROUP BY l_returnflag
        """
    )


_EXISTS_SQL = """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@register("q_exists_subquery", oracle=_EXISTS_SQL)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — the SQL face of semi/anti joins
    (M-UPSERT's matched/not-matched split, scrapper.py:197-206). Catalyst
    rewrites both subqueries to LeftSemi/LeftAnti hash joins, so the physical
    plan is identical to q_join_semi/q_join_anti — no per-row subquery."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders) * 2
          > 3 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
"""


@register("q_scalar_subquery", oracle=_SCALAR_SUBQ_SQL)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subqueries: orders priced above 1.5× the mean.
    Written as price*COUNT*2 > 3*SUM in exact DECIMAL so the threshold compare
    is bitwise-stable (AVG would force double division in DuckDB). Catalyst
    executes the scalar subqueries once and broadcasts the constants."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCALAR_SUBQ_SQL)


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (k=3 priciest orders per priority). At scale Catalyst
    pushes the rank filter into the window sort as a group-limit
    (WindowGroupLimit), so each partition keeps only k rows before shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          FROM lineitem WHERE l_orderkey < 100)
    UNPIVOT (value FOR measure IN (l_quantity, l_discount, l_tax))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (UNPIVOT): the inverse of q_pivot. Maps each source row
    to 3 (measure, value) rows without a shuffle — a narrow transform."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "q_range_join",
    oracle=f"""
    SELECT b.band, COUNT(*) AS n_orders,
           {sql_exact_sum("o.o_totalprice")} AS sum_price
    FROM orders o
    JOIN (VALUES ('low', 0.0, 50000.0),
                 ('mid', 50000.0, 150000.0),
                 ('high', 150000.0, 1e12)) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/banding) join: facts against interval bounds — the
    ordinal banding implied by the reference's calidad_del_aire scale
    (sql_config.yaml:9). The band table is tiny → Spark broadcasts it and the
    join is a BroadcastNestedLoopJoin: each fact partition scans 3 bands
    locally, no shuffle. At 100 TB this stays a map-side operation."""
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0), ("high", 150000.0, 1e12)],
        "band string, lo double, hi double",
    )
    joined = orders.join(
        F.broadcast(bands),
        (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum(F.col("o_totalprice")).alias("sum_price"),
    )


@register(
    "q_time_bucket",
    oracle=f"""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS bucket_day, event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", 6)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup: events into (day, type) cells —
    the batch form of ST-COUNT's windowed aggregation and the reporting query
    the reference's exploded date parts exist for (scrapper.py:154-165).
    The bucket expr is scalar, so this is one hash-agg shuffle; at scale the
    bucket column doubles as the partition key for the sink table."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            # emitted as an ISO string: Spark DATE→pandas object-of-date vs
            # DuckDB DATE→datetime64 hash differently under the driver canon
            F.to_date("ts").cast("string").alias("bucket_day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 6).alias("sum_value"),
        )
    )


@register(
    "q_conditional_agg",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) FILTER (l_returnflag = 'R') AS n_returned,
           COUNT(*) FILTER (l_quantity > 25)    AS n_bulk,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (l_discount > 0.05) AS DOUBLE) AS discounted_price,
           CAST(SUM(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_taxfree
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clause / count_if / CASE-sum): many
    measures over one scan instead of N filtered scans — at 100 TB the
    difference between reading the fact table once and N times."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.sum(
            F.when(
                F.col("l_discount") > 0.05,
                F.col("l_extendedprice").cast("decimal(18,2)"),
            )
        ).cast("double").alias("discounted_price"),
        F.sum(F.when(F.col("l_tax") == 0, 1).otherwise(0)).alias("n_taxfree"),
    )


@register(
    "q_window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS last_price,
           nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND UNBOUNDED FOLLOWING) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with explicit frames: last_value needs the
    full-partition frame (the default frame ends at CURRENT ROW — the classic
    silent-wrong-answer both engines share, pinned here by the oracle)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
    )


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           length(p_name) AS name_len,
           left(p_type, 5) AS type5,
           reverse(p_brand) AS brand_rev,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           repeat('*', p_size % 5) AS stars,
           translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
           levenshtein(p_brand, 'Brand#00') AS brand_dist,
           concat_ws('|', p_brand, p_type) AS brand_type
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar string-function surface beyond q_normalize_text: pad /
    reverse / repeat / translate / edit-distance / multi-concat — the library
    F-NORM/F-REPL (scrapper.py:20-26,38) draws from. All JVM built-ins inside
    one WholeStageCodegen projection; zero Python."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_caps_vowels"),
        F.levenshtein("p_brand", F.lit("Brand#00")).cast("long").alias("brand_dist"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "q_array_funcs",
    oracle=rf"""
    SELECT doc_id,
           len(toks) AS n_toks,
           len(list_distinct(toks)) AS n_distinct,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS first3_sorted,
           list_contains(toks, 'the') AS has_the
    FROM (
      SELECT doc_id, {sql_tokens("text")} AS toks
      FROM documents WHERE doc_id < 100
    )
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over tokenized text (F-SPLIT generalized,
    scrapper.py:41): size / distinct / sort / slice / membership, all native
    higher-order array exprs — the building blocks the dedup shingling ops
    compose. Distinct output is sorted before slicing because set order is
    engine-specific."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.concat_ws(",", F.slice(F.array_sort(F.array_distinct(toks)), 1, 3)).alias(
            "first3_sorted"
        ),
        F.array_contains(toks, "the").alias("has_the"),
    )


@register(
    "q_argmax_group",
    oracle="""
    SELECT c_nationkey,
           max_by(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                          * 10000000000 + c_custkey) AS richest_customer,
           MAX(c_acctbal) AS max_acctbal,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_argmax_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per group via max_by — a single map-side-combinable hash
    aggregate, versus the window-rank formulation (q_window_rank) that must
    shuffle and sort every row. At 100 TB this is the difference between one
    partial-agg pass and a full-table sort. Ties are broken deterministically
    by packing (acctbal_cents, custkey) into one orderable BIGINT — valid
    while custkey < 1e10 and |acctbal| < 9e6 (int64 headroom); beyond that
    switch to a struct ordering key."""
    cust = load_table(spark, sf_dir, "customer")
    order_key = (
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
        * 10_000_000_000
        + F.col("c_custkey")
    )
    return cust.groupBy("c_nationkey").agg(
        F.max_by("c_name", order_key).alias("richest_customer"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "q_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderkey < 200
    GROUP BY o_orderpriority
    """,
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG WITHIN GROUP ↔ string_agg): the
    deterministic-order contract matters — an unordered listagg is
    nondeterministic under distributed partial aggregation and would never
    hash-match."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    orders.createOrReplaceTempView("__ord_la")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS keys_csv,
               COUNT(*) AS n_orders
        FROM __ord_la
        GROUP BY o_orderpriority
        """
    )


@register(
    "q_try_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity - 25 = 0 THEN NULL
                ELSE l_extendedprice / (l_quantity - 25) END AS price_per_excess,
           TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS line_roundtrip
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: try_divide/try_cast yield NULL instead of
    failing the job — per-row failure isolation, where the reference's bare
    int() (scrapper.py:63,114) aborts its whole run on one bad cell. At scale
    a single malformed row must never kill a 1000-executor job."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25).alias(
            "price_per_excess"
        ),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_linenumber").cast("string").cast("int").alias("line_roundtrip"),
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT s_suppkey,
           percent_rank() OVER (PARTITION BY s_nationkey
                                ORDER BY s_acctbal, s_suppkey) AS pct_rank,
           cume_dist()    OVER (PARTITION BY s_nationkey
                                ORDER BY s_acctbal, s_suppkey) AS cume
    FROM supplier
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank/cume_dist): where a row
    sits inside its partition's distribution — (rank−1)/(n−1) and
    rows≤current/n, both integer-ratio divisions, so IEEE-identical across
    engines."""
    sup = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return sup.select(
        "s_suppkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS days_to_2025,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           isodow(o_orderdate) - 1 AS weekday_mon0
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic beyond part extraction (q_date_parts):
    offsets, day differences, month truncation, month-end, ISO weekday —
    the derivations a report_ts-keyed history table serves daily."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return orders.select(
        "o_orderkey",
        # date outputs emitted as ISO strings (driver-canon hash safety; see
        # q_time_bucket) — the arithmetic itself stays native DATE ops
        F.date_add(F.to_date("o_orderdate"), 30).cast("string").alias("due_date"),
        F.datediff(F.lit("2025-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days_to_2025"),
        F.trunc(F.to_date("o_orderdate"), "month").cast("string").alias("order_month"),
        F.last_day(F.to_date("o_orderdate")).cast("string").alias("month_end"),
        F.weekday("o_orderdate").cast("long").alias("weekday_mon0"),
    )


@register(
    "q_corr_manual",
    oracle="""
    WITH v AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
      FROM v
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_qty_discount,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta_discount_per_qty
    FROM s
    """,
)
def q_corr_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / regression slope per group with EXACT moment sums:
    built-in corr() accumulates floating-point state whose value depends on
    partial-aggregation order (non-reproducible across runs at scale, and
    never bitwise-equal across engines), so both variables are scaled to
    INTEGERS (×100 through a DECIMAL(18,2) cast — exact) and the moments
    (Σx, Σy, Σxy, Σx², Σy²) are summed as BIGINTs: associative, order-free,
    exact, and — because every sum here stays under 2^53 — exactly
    representable as doubles, so the closed-form corr/beta are deterministic
    functions of the data, identical in any engine. (The ×100 scaling
    cancels: corr is scale-invariant and both variables share the factor.)
    Deliberately NOT ``CAST(DECIMAL AS DOUBLE)`` on wide decimals: that cast
    is not correctly rounded in every engine (observed 1-ulp divergence on a
    DECIMAL(38,4) squared-price sum). Same map-side-combinable single-pass
    hash aggregate as corr()."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
    y = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    s = li.select("l_returnflag", x.alias("x"), y.alias("y")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_discount"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("beta_discount_per_qty"),
    )


@register(
    "q_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderkey % 13 END AS k
      FROM orders WHERE o_orderkey < 4000
    ),
    b AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 13 END AS k
      FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 8000
    )
    SELECT a.k AS key, COUNT(*) AS n_matches
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (<=> / IS NOT DISTINCT FROM): ordinary equi-joins
    silently drop NULL keys; merge semantics over nullable natural keys need
    NULL = NULL to match. Spark plans <=> as a regular hash join (NULL hashes
    like any value under null-safe equality), so the scale profile is
    unchanged — no fallback to nested-loop."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.when(F.col("o_orderkey") % 11 == 0, None).otherwise(
        F.col("o_orderkey") % 13
    )
    key_b = F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
        F.col("o_orderkey") % 13
    )
    a = orders.filter(F.col("o_orderkey") < 4000).select(key.alias("k"))
    b = orders.filter(
        (F.col("o_orderkey") >= 4000) & (F.col("o_orderkey") < 8000)
    ).select(key_b.alias("kb"))
    return (
        a.join(b, a["k"].eqNullSafe(b["kb"]))
        .groupBy(F.col("k").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


@register(
    "q_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events WHERE user_id < 50
    )
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill / LOCF: repair gaps by carrying the last non-NULL
    observation forward within each key's timeline — the standard repair for
    missed snapshots (the reference's failed hourly scrapes). One window
    pass, partitioned by key: shuffles once on user_id and scales linearly."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    v = F.when(F.col("event_type") == "click", None).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ts emitted as a zero-padded µs ISO string — raw timestamp outputs
    # canonicalize to datetime64[ns] (Spark) vs datetime64[us] (DuckDB)
    # under the pandas bridge, the dtype-sensitivity q_time_bucket documents
    return events.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.last(v, ignorenulls=True).over(w).alias("v_filled"),
    )


@register(
    "q_gaps_islands",
    oracle="""
    WITH hours AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('hour', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS h
      FROM events WHERE user_id < 40
    ),
    grp AS (
      SELECT user_id, h,
             h - row_number() OVER (PARTITION BY user_id ORDER BY h) AS island
      FROM hours
    )
    SELECT user_id, MIN(h) AS start_hour, MAX(h) AS end_hour,
           COUNT(*) AS n_hours
    FROM grp GROUP BY user_id, island
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's active hours into maximal
    consecutive runs (value − row_number is constant within a run). The
    continuity question an hourly snapshot history answers ("which coverage
    periods are unbroken, where did the scraper miss hours") — one window
    pass + one aggregate, both partitioned by user."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    hours = events.select(
        "user_id",
        # floor, not cast: cast truncates toward zero, which disagrees with
        # date_diff for pre-anchor timestamps and fuses the two half-hours
        # around the anchor
        F.floor(
            (F.unix_micros("ts") - F.unix_micros(F.lit("2024-01-01").cast("timestamp")))
            / F.lit(3_600_000_000)
        ).cast("long").alias("h"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    grp = hours.withColumn("island", F.col("h") - F.row_number().over(w))
    return grp.groupBy("user_id", "island").agg(
        F.min("h").alias("start_hour"),
        F.max("h").alias("end_hour"),
        F.count(F.lit(1)).alias("n_hours"),
    ).drop("island")


@register(
    "q_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           max_by(o_orderpriority,
                  n * 10 - CAST(substr(o_orderpriority, 1, 1) AS BIGINT)) AS modal_priority,
           MAX(n) AS modal_count
    FROM c GROUP BY o_orderstatus
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: two stacked hash aggregates (count,
    then argmax of count) with ties broken by the priority's leading ordinal
    — engines disagree on bare mode() tie-breaks, so the packing makes the
    answer well-defined everywhere."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    pack = F.col("n") * 10 - F.substring("o_orderpriority", 1, 1).cast("long")
    return counts.groupBy("o_orderstatus").agg(
        F.max_by("o_orderpriority", pack).alias("modal_priority"),
        F.max("n").alias("modal_count"),
    )


@register(
    "q_dense_grid",
    oracle="""
    WITH counts AS (
      SELECT c.c_nationkey AS nk, o.o_orderstatus AS st, COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT n.n_nationkey AS nationkey, s.st AS orderstatus,
           COALESCE(counts.n, 0) AS n_orders
    FROM nation n
    CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders) s
    LEFT JOIN counts ON counts.nk = n.n_nationkey AND counts.st = s.st
    """,
)
def q_dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid report: every (nation × status) cell materialized, zeros
    included — sparse aggregates leave reporting holes. The grid is a cross
    join of two *small distinct* sets (never of facts); the fact-side count
    is aggregated before the left join, so the expensive table is touched
    once."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("o_orderstatus").alias("st")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    statuses = orders.select(
        F.col("o_orderstatus").alias("st_g")
    ).distinct()
    grid = nation.select(F.col("n_nationkey").alias("nationkey")).crossJoin(
        statuses
    )
    return (
        grid.join(
            counts,
            (grid.nationkey == counts.nk) & (grid.st_g == counts.st),
            "left",
        )
        .select(
            "nationkey",
            F.col("st_g").alias("orderstatus"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q_lateral_join — correlated LATERAL subquery (per-row dependent subquery)
# ---------------------------------------------------------------------------
_LATERAL_K = 2


@register(
    "q_lateral_join",
    oracle=f"""
    SELECT c.c_custkey, c.c_mktsegment,
           l.o_orderkey,
           strftime(l.o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate,
           l.o_totalprice
    FROM customer c
    JOIN LATERAL (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      ORDER BY o_orderdate DESC, o_orderkey ASC
      LIMIT {_LATERAL_K}
    ) l ON true
    WHERE c.c_custkey < 300
    """,
)
def q_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark 4 ``DataFrame.lateralJoin`` +
    ``Column.outer()``): for each customer, its 2 most recent finished
    orders — the per-row dependent subquery shape (top-k per outer row)
    that SQL expresses as JOIN LATERAL and the DataFrame API could not
    express at all before Spark 4.

    Catalyst decorrelates the lateral subquery into a window-over-join
    (DecorrelateInnerQuery): the physical plan is the same shuffle +
    per-key ranking q_topk_per_group builds by hand — NOT a per-outer-row
    re-execution — so the lateral form costs one shuffle of the filtered
    orders at any scale. Deterministic: ties broken by o_orderkey; the
    orderstatus filter is pushed into the orders scan before the shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cust = customer.filter(F.col("c_custkey") < 300)
    recent = (
        orders.where(
            (F.col("o_custkey") == F.col("c_custkey").outer())
            & (F.col("o_orderstatus") == "F")
        )
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").asc())
        .limit(_LATERAL_K)
    )
    # o_orderdate emitted as a zero-padded µs ISO string (see q_forward_fill)
    return cust.lateralJoin(recent).select(
        "c_custkey",
        "c_mktsegment",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "o_orderdate"
        ),
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# q_recursive_cte — WITH RECURSIVE date spine (Spark 4 recursive CTE)
# ---------------------------------------------------------------------------
@register(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE days(d, dmax) AS (
      SELECT CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE) FROM events
      UNION ALL
      SELECT d + INTERVAL 1 DAY, dmax FROM days WHERE d < dmax
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
    )
    SELECT CAST(days.d AS VARCHAR) AS day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM days LEFT JOIN daily ON days.d = daily.d
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): build the dense calendar
    spine between the corpus's first and last event day, zero-filling days
    with no events — the reporting pattern q_dense_grid solves with a cross
    join, expressed through the new recursion surface instead. The anchor
    carries (min_day, max_day) so the recursive step needs no subquery;
    depth = calendar span in days, each step a constant-size row — the
    corpus itself is aggregated ONCE and joined to the spine, so recursion
    cost is independent of data volume. Day emitted as an ISO string per
    the temporal-output policy.

    Depth bound: Spark enforces spark.sql.cteRecursionLevelLimit on the
    spine (one level per day), where DuckDB does not — the session factory
    raises the limit to 1M levels (session.py) so any realistic calendar
    span fits; a corpus wider than that should step the spine in chunks."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_rcte")
    return spark.sql(
        """
        WITH RECURSIVE days(d, dmax) AS (
          SELECT CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE) FROM events_rcte
          UNION ALL
          SELECT date_add(d, 1), dmax FROM days WHERE d < dmax
        ),
        daily AS (
          SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
          FROM events_rcte GROUP BY CAST(ts AS DATE)
        )
        SELECT CAST(days.d AS STRING) AS day,
               CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
        FROM days LEFT JOIN daily ON days.d = daily.d
        """
    )


# ---------------------------------------------------------------------------
# q_variant_extract — Spark 4 VARIANT path for semi-structured fields
# ---------------------------------------------------------------------------
@register(
    "q_variant_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events
    GROUP BY 1
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed path
    access with ``variant_get`` — the scale path for heterogeneous JSON
    (variant decodes the document once and supports columnar shredding,
    where per-path ``get_json_object`` re-parses the string per extraction;
    q_json_extract keeps the classic path for comparison). The oracle is
    the PLAIN JSON extraction — value equality proves the variant path
    computes the same answer, the same oracle-as-equivalence-proof pattern
    as q_group_salted."""
    events = load_table(spark, sf_dir, "events")
    k_int = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        events.select(k_int.alias("k_int"), "event_id")
        .groupBy("k_int")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
    )


# ---------------------------------------------------------------------------
# q_set_ops_all — bag semantics: INTERSECT ALL / EXCEPT ALL multiplicities
# ---------------------------------------------------------------------------
@register(
    "q_set_ops_all",
    oracle="""
    SELECT 'both_all' AS side, nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
      INTERSECT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    ) GROUP BY nationkey
    UNION ALL
    SELECT 'customer_only_all' AS side, nationkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
      EXCEPT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    ) GROUP BY nationkey
    """,
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — the multiplicity twin of
    q_intersect_except's DISTINCT forms and another silent-divergence
    corner: INTERSECT ALL keeps min(m_left, m_right) copies per value and
    EXCEPT ALL keeps m_left − m_right (a ported report that swaps
    ALL/DISTINCT changes row counts without erroring). Spark's
    intersectAll/exceptAll compile to the same count-min/count-diff
    aggregate shape the SQL standard prescribes — one hash aggregate per
    side keyed on the value, no sort, scale-safe like any groupBy. The
    surviving multiplicities re-aggregate to (side, value, n) so the
    check pins the COUNTS, not just membership."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    rich = customer.filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = supplier.select(F.col("s_nationkey").alias("nationkey"))
    both = (
        rich.intersectAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("both_all").alias("side"), "nationkey", "n")
    )
    only = (
        rich.exceptAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("customer_only_all").alias("side"), "nationkey", "n")
    )
    return both.unionByName(only)
