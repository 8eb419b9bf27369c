"""Flagship end-to-end query (SURVEY.md §7 step 3).

One plan exercising scan → pushed filter → fact-fact shuffle joins →
broadcast dim joins → date-part derivation → hash aggregate → sort:
revenue per region per order-year. This is what ``__spark_entry__.entry``
runs at sf0.001 as the driver smoke check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table


@register(
    "q_flagship_revenue",
    oracle=f"""
    SELECT r.r_name, year(o.o_orderdate) AS order_year,
           {sql_exact_sum("l.l_extendedprice * (1.0 - l.l_discount)", 4)}
             AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY r.r_name, year(o.o_orderdate)
    """,
)
def q_flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end plan (driver smoke target): revenue per
    region-year — scan → pushed filter → fact-fact shuffle join → broadcast
    dim joins → date derive → hash agg, SURVEY.md §7 step 3 in one query."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    revenue_expr = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", revenue_expr.alias("rev"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            exact_sum(F.col("rev"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
