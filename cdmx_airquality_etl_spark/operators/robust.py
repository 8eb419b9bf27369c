"""Robust-statistics / series-repair operators.

- q_outlier_mad  — per-group robust outlier detection via median/MAD
                   (median absolute deviation), the estimator that survives
                   the contaminated data a quality gate exists to catch
                   (mean/stddev are dragged by the very outliers being
                   hunted). Generalizes the reference's V-GATE quality
                   checks (``scrapper.py:53-55,139-144``) from
                   missing-value gating to distributional gating.
- q_interpolate  — linear interpolation of a gappy series between known
                   observations, the continuous twin of q_forward_fill's
                   LOCF (``relational_ext.py``). The reference's hourly
                   snapshot model (``scrapper.py:44-52``) produces exactly
                   such gappy series when runs are missed.

Exactness policy: medians are POSITIONAL (the lower-median element at rank
``(n+1) DIV 2`` in (value, key) order) on both engines — never interpolated
percentiles — so every emitted number is either an actual data element or a
fixed-order IEEE expression over them; the driver's hash compare then holds
bitwise. Interpolation arithmetic is written with the identical expression
shape on both sides (same casts, same operation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_MAD_K = 3  # flag |x - med| > K * MAD


@register(
    "q_outlier_mad",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey, c_custkey, c_acctbal FROM customer
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      FROM c
    ),
    med AS (
      SELECT c_nationkey, c_acctbal AS med_acctbal
      FROM r WHERE rn = (n + 1) // 2
    ),
    d AS (
      SELECT c.c_nationkey, c.c_custkey, c.c_acctbal, m.med_acctbal,
             abs(c.c_acctbal - m.med_acctbal) AS dev
      FROM c JOIN med m USING (c_nationkey)
    ),
    r2 AS (
      SELECT *,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY dev, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      FROM d
    ),
    mad AS (
      SELECT c_nationkey, dev AS mad FROM r2 WHERE rn = (n + 1) // 2
    )
    SELECT d.c_nationkey,
           d.med_acctbal,
           m.mad,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN d.dev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad m USING (c_nationkey)
    GROUP BY d.c_nationkey, d.med_acctbal, m.mad
    """,
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation robust outlier report: positional lower median of acctbal,
    MAD around it, and the count of customers beyond {_MAD_K}×MAD.

    Two ranked passes (value, then absolute deviation), each one shuffle on
    the group key; the medians broadcast back as a 25-row dim. At 100 TB
    the groups are nation-sized — the window never sees more than one
    group's rows per partition, and a skew-prone grouping would swap the
    positional rank for the same two-pass selection on pre-aggregated
    (value, count) runs. Every emitted number is a data element or a count;
    the only arithmetic (dev, the K×MAD bound) is fixed-order IEEE on both
    engines."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    wn = Window.partitionBy("c_nationkey")
    w1 = wn.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    r = cust.withColumn("rn", F.row_number().over(w1)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "c_nationkey", F.col("c_acctbal").alias("med_acctbal")
    )
    d = cust.join(F.broadcast(med), "c_nationkey").withColumn(
        "dev", F.abs(F.col("c_acctbal") - F.col("med_acctbal"))
    )
    w2 = wn.orderBy(F.col("dev").asc(), F.col("c_custkey").asc())
    r2 = d.withColumn("rn", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    mad = r2.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "c_nationkey", F.col("dev").alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "c_nationkey")
        .groupBy("c_nationkey", "med_acctbal", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.when(F.col("dev") > _MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "c_nationkey", "med_acctbal", "mad", "n_customers", "n_outliers"
        )
    )


@register(
    "q_interpolate",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us, event_type,
             "value",
             CASE WHEN event_type = 'click' THEN "value" END AS cv,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS cts
      FROM events
      WHERE event_type IN ('click', 'error')
    ),
    carried AS (
      SELECT *,
             last_value(cv IGNORE NULLS) OVER wp AS pv,
             last_value(cts IGNORE NULLS) OVER wp AS pts,
             first_value(cv IGNORE NULLS) OVER wf AS nv,
             first_value(cts IGNORE NULLS) OVER wf AS nts
      FROM base
      WINDOW
        wp AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        wf AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, "value" AS actual_value,
           CASE
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (CAST(ts_us - pts AS DOUBLE)
                                 / CAST(nts - pts AS DOUBLE))
             WHEN pv IS NOT NULL THEN pv
             ELSE nv
           END AS est_value
    FROM carried
    WHERE event_type = 'error'
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate each 'error' event's value by LINEAR interpolation between
    the user's surrounding 'click' observations (time-weighted in event-time
    microseconds); one-sided gaps degrade to carry-forward/backward fill,
    interior-only gaps to NULL.

    One shuffle on user_id serves both window frames (preceding carry +
    following carry share the sort); no self-join against the known points
    — the O(gaps × knowns) banded-join formulation this replaces is the
    plan that dies at scale. Interpolation arithmetic is the identical
    expression tree on both engines (long µs deltas cast to double at the
    division, then one multiply-add), so estimates agree bitwise."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    is_click = F.col("event_type") == "click"
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        F.when(is_click, F.col("value")).alias("cv"),
        F.when(is_click, F.unix_micros("ts")).alias("cts"),
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    carried = base.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts_us",
        F.last("cv", ignorenulls=True).over(wp).alias("pv"),
        F.last("cts", ignorenulls=True).over(wp).alias("pts"),
        F.first("cv", ignorenulls=True).over(wf).alias("nv"),
        F.first("cts", ignorenulls=True).over(wf).alias("nts"),
    )
    frac = (F.col("ts_us") - F.col("pts")).cast("double") / (
        F.col("nts") - F.col("pts")
    ).cast("double")
    est = (
        F.when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return carried.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.col("value").alias("actual_value"),
        est.alias("est_value"),
    )


# ---------------------------------------------------------------------------
# q_theil_sen — robust regression slope: the median of pairwise slopes
# ---------------------------------------------------------------------------
@register(
    "q_theil_sen",
    oracle="""
    WITH c AS (
      SELECT c_nationkey, c_custkey, c_acctbal FROM customer
    ),
    slopes AS (
      SELECT a.c_nationkey,
             a.c_custkey AS k1, b.c_custkey AS k2,
             (b.c_acctbal - a.c_acctbal)
               / CAST(b.c_custkey - a.c_custkey AS DOUBLE) AS slope
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY slope, k1, k2) AS rn,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      FROM slopes
    )
    SELECT c_nationkey,
           MAX(n) AS n_pairs,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN slope END) AS ts_slope
    FROM r
    GROUP BY c_nationkey
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator per nation: the positional lower median of all
    pairwise slopes (acctbal over custkey) — the robust regression line
    that tolerates up to ~29% contamination, completing the robust family
    with q_outlier_mad (location/scale) and contrasting with
    q_corr_manual's least-squares slope, which a single outlier drags.

    The pairwise stage is the honest cost: O(n²) slopes per group,
    generated by a within-group self-join whose group sizes are
    nation-bounded — the plan a production run keeps only when groups are
    small, switching to the repeated-median or a sampled-pairs variant
    beyond ~10⁴ rows per group (same candidate-bounding discipline as the
    dedup caps, noted here rather than hidden). Every slope is one IEEE
    division of a double difference by an exact integer difference —
    identical in both engines — and the median is positional with a full
    (slope, key-pair) tie order, so the selected element matches
    bitwise."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    a, b = cust.alias("a"), cust.alias("b")
    slope = (F.col("b.c_acctbal") - F.col("a.c_acctbal")) / (
        F.col("b.c_custkey") - F.col("a.c_custkey")
    ).cast("double")
    slopes = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_nationkey").alias("c_nationkey"),
        F.col("a.c_custkey").alias("k1"),
        F.col("b.c_custkey").alias("k2"),
        slope.alias("slope"),
    )
    wn = Window.partitionBy("c_nationkey")
    w = wn.orderBy(F.col("slope").asc(), F.col("k1").asc(), F.col("k2").asc())
    r = slopes.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return r.groupBy("c_nationkey").agg(
        F.max("n").alias("n_pairs"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("slope"))
        ).alias("ts_slope"),
    )


# ---------------------------------------------------------------------------
# q_anomaly_days — volume-anomaly monitor: daily event counts vs median/MAD
# ---------------------------------------------------------------------------
_ANOM_K = 4  # flag days with |count - median| > K * MAD


@register(
    "q_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY n_events, day) AS rn,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    med AS (SELECT n_events AS med FROM r WHERE rn = (n + 1) // 2),
    d AS (
      SELECT daily.day, daily.n_events, med.med,
             abs(daily.n_events - med.med) AS dev
      FROM daily, med
    ),
    r2 AS (
      SELECT *,
             row_number() OVER (ORDER BY dev, day) AS rn,
             COUNT(*) OVER () AS n
      FROM d
    ),
    mad AS (SELECT dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT d.day, d.n_events, d.med AS median_events, mad.mad,
           (d.dev > {_ANOM_K} * mad.mad) AS is_anomaly
    FROM d, mad
    """,
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly monitor: bucket events by day, then flag days
    whose count sits more than {_ANOM_K}×MAD from the positional median of
    daily counts — the alert a scheduled pipeline (the reference's hourly
    scrape model, launcher.bat:2) runs to notice a dead scraper or a
    duplicate-storm before it poisons the corpus. Composes the time-bucket
    rollup (q_time_bucket) with the median/MAD machinery (q_outlier_mad)
    over the TINY aggregate — the robust pass costs O(days), not
    O(events), which is why this monitor is free at 100 TB: one hash
    aggregate over the stream, then statistics on a table with one row
    per day. All integers and data elements; the flag is an integer
    comparison."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy(F.col("n_events").asc(), F.col("day").asc())
    wn = Window.partitionBy()
    r = daily.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("n_events").alias("med")
    )
    d = daily.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.abs(F.col("n_events") - F.col("med"))
    )
    w2 = Window.orderBy(F.col("dev").asc(), F.col("day").asc())
    r2 = d.withColumn("rn", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    mad = r2.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("dev").alias("mad")
    )
    return d.crossJoin(F.broadcast(mad)).select(
        "day",
        "n_events",
        F.col("med").alias("median_events"),
        "mad",
        (F.col("dev") > _ANOM_K * F.col("mad")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q_winsorized_mean — clamp to positional [p5, p95] bounds, then mean
# ---------------------------------------------------------------------------
@register(
    "q_winsorized_mean",
    oracle=f"""
    WITH bounds AS (
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.05) AS lo,
             quantile_disc(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_exact_sum("o_totalprice")} / COUNT(*)
             AS raw_mean,
           {sql_exact_sum("LEAST(GREATEST(o_totalprice, lo), hi)")} / COUNT(*)
             AS winsorized_mean,
           CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM orders o JOIN bounds USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group — the robust-location estimator that
    CLAMPS tails instead of dropping them (q_outlier_mad's flag-only
    twin): values below/above the positional p5/p95 move to the bound,
    then a plain mean. Bounds come from percentile_disc, which returns a
    MEMBER of the data (no interpolation arithmetic — bitwise-identical
    across engines, the q_percentile_disc discipline); clamping is exact
    comparison; both means are DECIMAL sums with one final double
    division each. Plan: one per-group sorted-state aggregate for the
    bounds (group-cardinality rows, broadcast back), then one hash
    aggregate over the clamped scan — at fact scale swap the bounds pass
    to approx_percentile and keep the rest unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__ord_wins")
    bounds = spark.sql(
        """
        SELECT o_orderpriority,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice) AS lo,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS hi
        FROM __ord_wins GROUP BY o_orderpriority
        """
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    out_of_band = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        orders.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                exact_sum(F.col("o_totalprice"))
                / F.count(F.lit(1))
            ).alias("raw_mean"),
            (
                exact_sum(clamped)
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
            F.sum(out_of_band.cast("int")).cast("long").alias("n_clamped"),
        )
    )
