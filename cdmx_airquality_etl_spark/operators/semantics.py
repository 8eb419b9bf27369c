"""SQL-semantics corner batch: the defaults engines silently disagree on —
NULL ordering, negative division/modulo, empty-input aggregation, NULL
keys in grouping/distinct — plus the window-explode rolling distinct count.

Lineage: relational_ext.py (q_null_safe_join, q_dense_grid) pins NULL-safe
joins and zero-fill; this module pins the remaining cross-engine semantic
traps. Each query's WHOLE POINT is that the naive phrasing returns
different answers in Spark vs DuckDB (Spark sorts NULLS FIRST ascending by
default, DuckDB NULLS LAST; both define x % y by dividend sign but
pmod differs; COUNT(col) vs COUNT(*) diverge on NULLs) — so every ordering
and arithmetic choice is EXPLICIT, and the oracle proves the explicit form
agrees. Porting a query surface without these pins is how silent
corruption ships."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_ROLL_DAYS = 7


# ---------------------------------------------------------------------------
# q_null_ordering — explicit NULLS FIRST/LAST in sort and window rank
# ---------------------------------------------------------------------------
@register(
    "q_null_ordering",
    oracle="""
    WITH k AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(o_totalprice AS DOUBLE) END AS price_n
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey, price_n,
           CAST(row_number() OVER (ORDER BY price_n ASC NULLS FIRST, o_orderkey) AS BIGINT) AS rn_nf,
           CAST(row_number() OVER (ORDER BY price_n ASC NULLS LAST, o_orderkey) AS BIGINT) AS rn_nl
    FROM k
    ORDER BY price_n ASC NULLS FIRST, o_orderkey
    """,
)
def q_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL ordering made explicit: Spark's ASC default is NULLS FIRST,
    DuckDB's is NULLS LAST — the same ORDER BY silently permutes between
    engines. Both ranks here spell the placement out (asc_nulls_first /
    asc_nulls_last), so the two engines agree rank-for-rank; the paired
    columns also document the relationship rn_nl = rn_nf shifted by the
    NULL count for non-null rows. This is the pin that makes every other
    ordered query in the repo trustworthy."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    price_n = F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
        F.col("o_totalprice").cast("double")
    )
    k = orders.select("o_orderkey", price_n.alias("price_n"))
    return (
        k.select(
            "o_orderkey", "price_n",
            F.row_number().over(
                Window.orderBy(F.col("price_n").asc_nulls_first(), "o_orderkey")
            ).cast("bigint").alias("rn_nf"),
            F.row_number().over(
                Window.orderBy(F.col("price_n").asc_nulls_last(), "o_orderkey")
            ).cast("bigint").alias("rn_nl"),
        )
        .orderBy(F.col("price_n").asc_nulls_first(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q_division_semantics — negative integer div/mod/pmod, spelled out
# ---------------------------------------------------------------------------
@register(
    "q_division_semantics",
    oracle="""
    WITH v AS (
      SELECT CAST(o_orderkey % 19 - 9 AS BIGINT) AS a,
             CAST(o_orderkey % 5 + 3 AS BIGINT) AS b
      FROM orders WHERE o_orderkey < 1000
    )
    SELECT a, b,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- both engines truncate integer division toward zero
           CAST(a // b AS BIGINT) AS div_trunc,
           -- remainder with dividend sign (both engines' %)
           CAST(a % b AS BIGINT) AS mod_signed,
           -- positive modulus (Spark pmod twin)
           CAST(((a % b) + b) % b AS BIGINT) AS mod_positive
    FROM v
    GROUP BY a, b
    """,
)
def q_division_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-operand integer division pinned: Spark's `div` and
    DuckDB's `//` BOTH truncate toward zero with dividend-sign remainder
    (verified empirically: −7 div 2 = −3, −7 % 2 = −1 in both) — the trap
    is against PYTHON, whose // floors toward −∞ and % follows the
    divisor, so any driver-side replay of engine arithmetic silently
    disagrees on negatives. The positive modulus ((a % b) + b) % b is the
    portable pmod (hash partitioners need it — a negative-keyed row must
    not pick a negative partition). Exact integers; the identity
    a = div_trunc·b + mod_signed is pinned by tests in both engines AND
    against Python's corrected form."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    v = orders.select(
        (F.col("o_orderkey") % 19 - 9).cast("bigint").alias("a"),
        (F.col("o_orderkey") % 5 + 3).cast("bigint").alias("b"),
    )
    return v.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("a div b").cast("bigint").alias("div_trunc"),
        (F.col("a") % F.col("b")).cast("bigint").alias("mod_signed"),
        F.pmod(F.col("a"), F.col("b")).cast("bigint").alias("mod_positive"),
    )


# ---------------------------------------------------------------------------
# q_empty_agg — aggregation over provably-empty input
# ---------------------------------------------------------------------------
@register(
    "q_empty_agg",
    oracle=f"""
    WITH none AS (SELECT * FROM orders WHERE o_totalprice < 0 AND o_totalprice > 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_vals,
           {sql_exact_sum("o_totalprice")} AS sum_price,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM none
    """,
)
def q_empty_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregation over an empty relation: COUNT returns 0, every
    other aggregate returns NULL, and exactly ONE row comes back (a
    grouped aggregate over the same input would return ZERO rows — the
    distinction downstream arithmetic must survive). The contradictory
    filter is unsatisfiable by construction, so both engines exercise the
    empty-input path, not an optimizer shortcut that skips it."""
    orders = load_table(spark, sf_dir, "orders")
    none = orders.filter((F.col("o_totalprice") < 0) & (F.col("o_totalprice") > 1))
    return none.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_vals"),
        exact_sum(F.col("o_totalprice")).alias("sum_price"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# q_distinct_nulls — NULL keys in GROUP BY / DISTINCT / COUNT variants
# ---------------------------------------------------------------------------
@register(
    "q_distinct_nulls",
    oracle="""
    WITH k AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderpriority END AS pri,
             o_custkey
      FROM orders WHERE o_orderkey < 3000
    )
    SELECT COALESCE(pri, '<NULL>') AS pri_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(pri) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM k
    GROUP BY pri
    """,
)
def q_distinct_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL grouping semantics pinned: GROUP BY treats all NULLs as ONE
    group (unlike join equality, which matches none), COUNT(col) skips
    NULLs where COUNT(*) doesn't, and COUNT(DISTINCT) ignores NULL
    members. The NULL group is surfaced as an explicit '<NULL>' key so
    the result hashes identically. These three counters diverging on the
    NULL row is the exact behavior ETL validation queries rely on."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    pri = F.when(F.col("o_orderkey") % 3 == 0, None).otherwise(F.col("o_orderpriority"))
    k = orders.select(pri.alias("pri"), "o_custkey")
    return (
        k.groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("pri").alias("n_nonnull"),
            F.countDistinct("o_custkey").alias("n_cust"),
        )
        .select(
            F.coalesce(F.col("pri"), F.lit("<NULL>")).alias("pri_key"),
            "n_rows", "n_nonnull", "n_cust",
        )
    )


# ---------------------------------------------------------------------------
# q_rolling_distinct — 7-day rolling distinct users via window-explode
# ---------------------------------------------------------------------------
@register(
    "q_rolling_distinct",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
             user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM d),
    member AS (
      SELECT days.day AS day, d.user_id
      FROM days JOIN d
        ON d.day BETWEEN days.day - {_ROLL_DAYS - 1} AND days.day
    )
    SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM member GROUP BY day
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (rolling MAU shape). DISTINCT
    is not decomposable over sliding windows — no windowed COUNT(DISTINCT)
    exists in either engine — so the scale-correct plan replicates each
    (day, user) presence row into the ≤7 window anchors it serves (a
    bounded explode, factor = window days) and hash-aggregates distinct
    per anchor. Cost: 7× the DAILY-grain distinct pairs, not 7× the
    events. The window-explode is THE standard trick for sliding distinct
    counts; the HLL-merge alternative (q_group_approx's sketch) trades
    exactness for a 1× pass."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint")
    d = ev.select(day.alias("day"), "user_id").distinct()
    days = d.select("day").distinct().select(F.col("day").alias("anchor"))
    member = days.join(
        d,
        (F.col("day") >= F.col("anchor") - (_ROLL_DAYS - 1))
        & (F.col("day") <= F.col("anchor")),
    )
    return member.groupBy(F.col("anchor").alias("day")).agg(
        F.countDistinct("user_id").alias("users_7d")
    )
