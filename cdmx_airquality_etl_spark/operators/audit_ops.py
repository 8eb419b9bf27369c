"""Warehouse-audit batch: metric reconciliation across derivations,
temporal dimension lookup against SCD2 history, and capture-recapture
population estimation.

Lineage: the reference keeps a fact/summary pair that must agree
(`gral_stats` vs the per-station tables, sql_config.yaml:38-55) — the
reconciliation query generalizes that invariant; the temporal lookup
composes q_scd2's versioned history with the range-predicate join every
"value as of time T" report needs; capture-recapture extends the
estimator-calibration family (q_kmv_distinct, q_countmin, q_ann_recall)
with the classic two-sample population estimator.

Determinism: monetary sums through DECIMAL; version intervals compare raw
timestamps; capture membership is the portable md5 draw (q_weighted_sample's
convention); estimates are one double division of exact integers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import md5_int, sql_md5_int
from ..registry import register
from ..sources.parquet import load_table

_CAPTURE_MOD = 3  # each capture samples ~1/3 of the population

_CAP_A_SRC = "'a|' || c_custkey"
_CAP_B_SRC = "'b|' || c_custkey"
_SQL_CAP_A = f"{sql_md5_int(_CAP_A_SRC, 12)} % {_CAPTURE_MOD} = 0"
_SQL_CAP_B = f"{sql_md5_int(_CAP_B_SRC, 12)} % {_CAPTURE_MOD} = 0"


# ---------------------------------------------------------------------------
# q_recon_totals — the same metric derived two ways must be explained
# ---------------------------------------------------------------------------
@register(
    "q_recon_totals",
    oracle="""
    WITH o AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_orders
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))
                      * (100 + CAST(round(l_tax * 100) AS BIGINT)) AS DECIMAL(38,0))) AS rev_scaled
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1
    )
    SELECT o.month,
           CAST(rev_orders AS DOUBLE) AS rev_orders,
           CAST(CAST(rev_scaled AS DOUBLE) / 1000000.0 AS DOUBLE) AS rev_lineitem,
           CAST(CAST(rev_orders AS DOUBLE) - CAST(rev_scaled AS DOUBLE) / 1000000.0 AS DOUBLE) AS abs_diff,
           CAST((CAST(rev_orders AS DOUBLE) - CAST(rev_scaled AS DOUBLE) / 1000000.0)
                / CAST(rev_orders AS DOUBLE) AS DOUBLE) AS rel_diff
    FROM o JOIN l ON o.month = l.month
    """,
)
def q_recon_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric reconciliation: monthly revenue derived from the order
    header vs re-derived from line items (price × (1−discount) ×
    (1+tax)) — the controller-style audit that catches silent pipeline
    drift between denormalized copies of the same truth (the reference's
    summary-vs-fact pair is this exact invariant). The line-item side
    computes in EXACT scaled integers — price cents × (100 − discount
    cents) × (100 + tax cents), a pure BIGINT product summed losslessly
    through DECIMAL(38,0) (int64 would overflow past ~8·10^7 rows/month) —
    because the double 3-factor product lands on decimal-cast rounding
    ties that the engines break differently (observed at sf0.001); one
    descaling division at the end. Two aggregates on the month grain, one
    tiny join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    o = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_orders"))
    # per-row product fits BIGINT (~1.2e11); the SUM would overflow int64
    # past ~8e7 rows/month, so it accumulates in DECIMAL(38,0) — exact in
    # both engines to 1e38
    amt = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        * (F.lit(100) + F.round(F.col("l_tax") * 100).cast("bigint"))
    ).cast("decimal(38,0)")
    l = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.sum(amt).alias("rev_scaled"))
    )
    rev_li = F.col("rev_scaled").cast("double") / F.lit(1000000.0)
    return o.join(l, "month").select(
        "month",
        F.col("rev_orders").cast("double").alias("rev_orders"),
        rev_li.alias("rev_lineitem"),
        (F.col("rev_orders").cast("double") - rev_li).alias("abs_diff"),
        (
            (F.col("rev_orders").cast("double") - rev_li)
            / F.col("rev_orders").cast("double")
        ).alias("rel_diff"),
    )


# ---------------------------------------------------------------------------
# q_temporal_lookup — facts resolved against the SCD2 version at event time
# ---------------------------------------------------------------------------
@register(
    "q_temporal_lookup",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, "value" FROM events WHERE event_type = 'signup'
    ),
    hist AS (
      SELECT user_id, ts AS vf, lead(ts) OVER w AS vt,
             row_number() OVER w AS version_n
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, "value")
    ),
    facts AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT h.user_id, h.version_n, CAST(COUNT(*) AS BIGINT) AS n_clicks
    FROM facts f JOIN hist h
      ON f.user_id = h.user_id
     AND f.ts >= h.vf
     AND (h.vt IS NULL OR f.ts < h.vt)
    GROUP BY h.user_id, h.version_n
    """,
)
def q_temporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup: click facts resolve against the SCD2
    signup-version valid at the click's timestamp (q_scd2's intervals,
    rebuilt inline) — the "attribute as of time T" join every versioned
    warehouse report runs. Each fact matches AT MOST one version (the
    intervals partition the timeline per user), pinned by tests. The
    range predicate rides the user_id equi-join, so the plan is a hash
    join with a residual — per-user candidate versions are few; clicks
    before the first signup version drop (no valid version existed)."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("value").asc())
    hist = src.select(
        F.col("user_id").alias("hu"),
        F.col("ts").alias("vf"),
        F.lead("ts").over(w).alias("vt"),
        F.row_number().over(w).alias("version_n"),
    )
    facts = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    cond = (
        (facts.user_id == hist.hu)
        & (facts.ts >= hist.vf)
        & (hist.vt.isNull() | (facts.ts < hist.vt))
    )
    return (
        facts.join(hist, cond)
        .groupBy(F.col("hu").alias("user_id"), "version_n")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


# ---------------------------------------------------------------------------
# q_capture_recapture — Lincoln-Petersen population estimate vs truth
# ---------------------------------------------------------------------------
@register(
    "q_capture_recapture",
    oracle=f"""
    WITH marks AS (
      SELECT c_custkey,
             CASE WHEN {_SQL_CAP_A} THEN 1 ELSE 0 END AS in_a,
             CASE WHEN {_SQL_CAP_B} THEN 1 ELSE 0 END AS in_b
      FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS true_n,
           CAST(SUM(in_a) AS BIGINT) AS n1,
           CAST(SUM(in_b) AS BIGINT) AS n2,
           CAST(SUM(in_a * in_b) AS BIGINT) AS m,
           CAST(CAST(SUM(in_a) AS DOUBLE) * CAST(SUM(in_b) AS DOUBLE)
                / CAST(SUM(in_a * in_b) AS DOUBLE) AS DOUBLE) AS estimate,
           CAST((CAST(SUM(in_a) AS DOUBLE) * CAST(SUM(in_b) AS DOUBLE)
                 / CAST(SUM(in_a * in_b) AS DOUBLE) - COUNT(*))
                / COUNT(*) AS DOUBLE) AS rel_error
    FROM marks
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture: two independent deterministic
    'captures' (portable md5 draws, each marking ~1/{m} of the
    population) estimate the total as N̂ = n₁·n₂/m from their overlap —
    the estimator used when the population can only be sampled (and the
    simplest intuition pump for why sketch intersections estimate set
    sizes, cf. q_kmv_set_ops). Emitted with ground truth and relative
    error — the estimator-calibration contract of this repo: never ship
    an estimate the same query can't grade. One scan, one aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    in_a = (
        md5_int(F.concat(F.lit("a|"), F.col("c_custkey").cast("string")), 12)
        % _CAPTURE_MOD
        == 0
    ).cast("int")
    in_b = (
        md5_int(F.concat(F.lit("b|"), F.col("c_custkey").cast("string")), 12)
        % _CAPTURE_MOD
        == 0
    ).cast("int")
    marks = cust.select(in_a.alias("in_a"), in_b.alias("in_b"))
    est = (
        F.sum("in_a").cast("double")
        * F.sum("in_b").cast("double")
        / F.sum(F.col("in_a") * F.col("in_b")).cast("double")
    )
    return marks.agg(
        F.count(F.lit(1)).alias("true_n"),
        F.sum("in_a").alias("n1"),
        F.sum("in_b").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("m"),
        est.alias("estimate"),
        ((est - F.count(F.lit(1))) / F.count(F.lit(1))).alias("rel_error"),
    )


q_capture_recapture.__doc__ = q_capture_recapture.__doc__.format(m=_CAPTURE_MOD)
