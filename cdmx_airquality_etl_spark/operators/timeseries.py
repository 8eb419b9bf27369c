"""Time-series analytics batch: EWMA smoothing, autocorrelation, CUSUM
change detection, OHLC/VWAP bars, rolling correlation, period-over-period
deltas, and cumulative-distinct growth.

Lineage: the reference's hourly pollutant snapshots feed exactly this layer
downstream — smoothing, drift alarms, and trend reporting over the loaded
warehouse (SURVEY §2B; scrapper.py's report_ts grain). Complements the
existing temporal surface (q_time_bucket, q_interpolate, q_forward_fill,
q_gaps_islands, q_anomaly_days).

Scale design: every operator here aggregates the event stream to its
reporting grain (day / week / month) FIRST — that is the one big
map-combined shuffle — and then runs the series recurrence on the tiny
aggregated frame (365 rows/year at daily grain, regardless of corpus size).
Single-partition windows over that grain are deliberate and safe; windows
never run over raw events.

Determinism policy (SURVEY.md §5.1): series arithmetic stays in EXACT
integer space — counts, cent-scaled values, power-of-two EWMA weights,
cross-multiplied mean removal (N-scaled residuals) — with doubles entering
only in a final fixed-shape expression (one division; sqrt is IEEE
correctly-rounded and therefore safe, unlike ln/exp)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_EWMA_SPAN = 20  # trailing days in the truncated EWMA (alpha = 1/2)
_ACF_MAX_LAG = 7
_ROLL_W = 7

# shared daily-grain CTE: day index + count per day
_SQL_DAILY = """
daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    return ev.groupBy(d.alias("d")).agg(F.count(F.lit(1)).alias("y"))


# ---------------------------------------------------------------------------
# q_ewma_daily — truncated exponential smoothing with exact 2^-k weights
# ---------------------------------------------------------------------------
@register(
    "q_ewma_daily",
    oracle=f"""
    WITH {_SQL_DAILY}
    SELECT t.d AS day,
           t.y AS n_events,
           CAST(CAST(SUM(i.y * CAST(power(2.0, {_EWMA_SPAN - 1} - (t.d - i.d)) AS BIGINT)) AS DOUBLE)
                / CAST(SUM(CAST(power(2.0, {_EWMA_SPAN - 1} - (t.d - i.d)) AS BIGINT)) AS DOUBLE)
                AS DOUBLE) AS ewma
    FROM daily t JOIN daily i
      ON i.d BETWEEN t.d - {_EWMA_SPAN - 1} AND t.d
    GROUP BY t.d, t.y
    """,
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha = 1/2) of daily event counts over a trailing
    {span}-day window. With alpha = 1/2 every weight is a power of two, so
    numerator and denominator accumulate as EXACT BIGINTs (weights ≤ 2^19,
    counts ≤ 2^40 before overflow risk) and the smoothed value is one
    double division — bitwise identical across engines and partition
    orders, where the textbook recursive form would compound float error
    in engine-specific order. The range self-join runs on the daily grain
    (≤ span rows matched per day); missing days simply contribute nothing,
    i.e. the series is smoothed over observed days."""
    daily = _daily(spark, sf_dir)
    t = daily.alias("t")
    i = daily.alias("i")
    w = F.pow(F.lit(2.0), F.lit(_EWMA_SPAN - 1) - (F.col("t.d") - F.col("i.d"))).cast(
        "bigint"
    )
    return (
        t.join(
            i,
            (F.col("i.d") >= F.col("t.d") - (_EWMA_SPAN - 1))
            & (F.col("i.d") <= F.col("t.d")),
        )
        .groupBy(F.col("t.d").alias("day"), F.col("t.y").alias("n_events"))
        .agg(
            (
                F.sum(F.col("i.y") * w).cast("double")
                / F.sum(w).cast("double")
            ).alias("ewma")
        )
    )


q_ewma_daily.__doc__ = q_ewma_daily.__doc__.format(span=_EWMA_SPAN)


# ---------------------------------------------------------------------------
# q_acf_daily — autocorrelation function at lags 1..7, exact integer sums
# ---------------------------------------------------------------------------
@register(
    "q_acf_daily",
    oracle=f"""
    WITH {_SQL_DAILY},
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s,
             CAST(SUM(y * y) AS BIGINT) AS s2
      FROM daily
    ),
    lags AS (SELECT * FROM range(1, {_ACF_MAX_LAG + 1}) AS t(lag)),
    pairs AS (
      SELECT l.lag,
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(a.y * b.y) AS BIGINT) AS syy,
             CAST(SUM(a.y) AS BIGINT) AS sh,
             CAST(SUM(b.y) AS BIGINT) AS st
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(CAST(n * n * syy - n * s * (sh + st) + np * s * s AS DOUBLE)
                / CAST(n * n * s2 - n * s * s AS DOUBLE) AS DOUBLE) AS acf
    FROM pairs, g
    ORDER BY lag
    """,
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7 (the
    weekly-seasonality diagnostic). The mean-removed products expand by N²
    into pure integer sums — N²Σy_t·y_{t+k} − NS(Σhead+Σtail) + N_k·S²
    over denominator N²Σy² − NS² — so the statistic is exact until ONE
    final double division. The lagged self-join runs on the daily grain
    (|days| × 7 pairs); magnitudes stay far inside BIGINT for any realistic
    daily-count series (y ≤ 10^9 days ≤ 10^5 ⇒ terms ≤ 10^28? no —
    N²Σy² ≤ 10^10·10^5·10^18 exceeds BIGINT for extreme y; the docstring
    bound is y·N ≤ ~3·10^9 ⇒ terms ≤ 9·10^18, the practical daily-count
    envelope; beyond that, scale y to thousands first)."""
    daily = _daily(spark, sf_dir)
    g = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("b.d") == F.col("a.d") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(F.col("a.y") * F.col("b.y")).alias("syy"),
            F.sum(F.col("a.y")).alias("sh"),
            F.sum(F.col("b.y")).alias("st"),
        )
    )
    num = (
        F.col("n") * F.col("n") * F.col("syy")
        - F.col("n") * F.col("s") * (F.col("sh") + F.col("st"))
        + F.col("np") * F.col("s") * F.col("s")
    ).cast("double")
    den = (
        F.col("n") * F.col("n") * F.col("s2") - F.col("n") * F.col("s") * F.col("s")
    ).cast("double")
    return (
        pairs.crossJoin(F.broadcast(g))
        .select(F.col("lag").cast("bigint").alias("lag"), (num / den).alias("acf"))
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# q_cusum_shift — one-sided CUSUM drift score via prefix-sum/min identity
# ---------------------------------------------------------------------------
@register(
    "q_cusum_shift",
    oracle=f"""
    WITH {_SQL_DAILY},
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s FROM daily),
    r AS (
      SELECT d, y,
             SUM(y * n - s) OVER (ORDER BY d) AS rn
      FROM daily, g
    ),
    m AS (
      SELECT d, y, rn,
             LEAST(CAST(0 AS BIGINT), MIN(rn) OVER (ORDER BY d)) AS mn,
             (SELECT n FROM g) AS n
      FROM r
    )
    SELECT d AS day, y AS n_events,
           CAST(CAST(rn - mn AS DOUBLE) / CAST(n AS DOUBLE) AS DOUBLE) AS cusum
    FROM m
    """,
)
def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM S_t = max(0, S_{t-1} + (y_t − μ)) over daily counts,
    with μ the series mean. The recursion is NOT window-expressible
    directly, but the classical identity S_t = R_t − min(0, min_{i≤t} R_i)
    (R = prefix sum of residuals) turns it into two windowed prefixes over
    the daily grain. Residuals are N-scaled to stay integer (y·N − S), so
    prefix sums and minima are exact; the one division by N lands at the
    end. A sustained upward level shift shows as a ramp in `cusum`."""
    daily = _daily(spark, sf_dir)
    g = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    r = (
        daily.crossJoin(F.broadcast(g))
        .withColumn("rn", F.sum(F.col("y") * F.col("n") - F.col("s")).over(w))
    )
    m = r.withColumn("mn", F.least(F.lit(0).cast("bigint"), F.min("rn").over(w)))
    return m.select(
        F.col("d").alias("day"),
        F.col("y").alias("n_events"),
        ((F.col("rn") - F.col("mn")).cast("double") / F.col("n").cast("double")).alias(
            "cusum"
        ),
    )


# ---------------------------------------------------------------------------
# q_ohlc_vwap — weekly OHLC bars + weight-averaged value per event type
# ---------------------------------------------------------------------------
@register(
    "q_ohlc_vwap",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(floor(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk,
             ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS vc,
             CAST(json_extract(props, '$.k') AS BIGINT) AS w
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, wk ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, wk ORDER BY ts DESC, event_id DESC) AS rl
      FROM base
    )
    SELECT event_type, wk,
           CAST(MAX(CASE WHEN rf = 1 THEN vc END) AS DOUBLE) / 100.0 AS open,
           CAST(MAX(vc) AS DOUBLE) / 100.0 AS high,
           CAST(MIN(vc) AS DOUBLE) / 100.0 AS low,
           CAST(MAX(CASE WHEN rl = 1 THEN vc END) AS DOUBLE) / 100.0 AS close,
           CAST(SUM(w) AS BIGINT) AS volume,
           CAST(CASE WHEN SUM(w) > 0
                THEN CAST(SUM(vc * w) AS DOUBLE) / (100.0 * CAST(SUM(w) AS DOUBLE))
                END AS DOUBLE) AS vwap
    FROM ranked
    GROUP BY event_type, wk
    """,
)
def q_ohlc_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC candles per event type with a weight-averaged value
    (weight = the `k` metadata counter — the corpus's volume analog).
    Open/close resolve by a total (ts, event_id) order inside each
    (type, week) partition — the window is bounded by the bucket, so it
    scales: partitions shuffle once on (type, week). Values are
    cent-scaled BIGINTs end-to-end (VWAP numerator Σ vc·w is exact; ONE
    double division at the end); /100 rescaling divides by powers of ten
    applied to exact integers — identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
        ).cast("bigint").alias("wk"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        F.get_json_object("props", "$.k").cast("bigint").alias("w"),
    )
    wf = Window.partitionBy("event_type", "wk").orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", "wk").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rl", F.row_number().over(wl)
    )
    return ranked.groupBy("event_type", "wk").agg(
        (F.max(F.when(F.col("rf") == 1, F.col("vc"))).cast("double") / 100.0).alias("open"),
        (F.max("vc").cast("double") / 100.0).alias("high"),
        (F.min("vc").cast("double") / 100.0).alias("low"),
        (F.max(F.when(F.col("rl") == 1, F.col("vc"))).cast("double") / 100.0).alias("close"),
        F.sum("w").alias("volume"),
        F.when(
            F.sum("w") > 0,
            F.sum(F.col("vc") * F.col("w")).cast("double")
            / (F.lit(100.0) * F.sum("w").cast("double")),
        ).alias("vwap"),
    )


# ---------------------------------------------------------------------------
# q_rolling_corr — 7-day rolling correlation of two daily series
# ---------------------------------------------------------------------------
@register(
    "q_rolling_corr",
    oracle=f"""
    WITH two AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ),
    win AS (
      SELECT d,
             CAST(COUNT(*)  OVER w AS BIGINT) AS n,
             CAST(SUM(x)    OVER w AS BIGINT) AS sx,
             CAST(SUM(y)    OVER w AS BIGINT) AS sy,
             CAST(SUM(x*x)  OVER w AS BIGINT) AS sxx,
             CAST(SUM(y*y)  OVER w AS BIGINT) AS syy,
             CAST(SUM(x*y)  OVER w AS BIGINT) AS sxy
      FROM two
      WINDOW w AS (ORDER BY d ROWS BETWEEN {_ROLL_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT d AS day,
           CAST(CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
             THEN CAST(n*sxy - sx*sy AS DOUBLE)
                  / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
             END AS DOUBLE) AS corr7
    FROM win WHERE n >= {_ROLL_W}
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between the daily click and view
    count series. Windowed sufficient statistics are exact BIGINTs; the
    correlation assembles from them with two sqrt() calls (IEEE
    correctly-rounded, hence engine-identical — the reason sqrt is allowed
    where ln is not) and one division. Degenerate windows (zero variance)
    emit NULL rather than ±Inf. Runs on the daily grain; the first
    {w}-day warmup rows are suppressed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    two = ev.groupBy(d.alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-(_ROLL_W - 1), 0)
    win = two.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return (
        win.filter(F.col("n") >= _ROLL_W)
        .select(
            F.col("d").alias("day"),
            F.when(
                (vx > 0) & (vy > 0),
                num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            ).alias("corr7"),
        )
    )


q_rolling_corr.__doc__ = q_rolling_corr.__doc__.format(w=_ROLL_W)


# ---------------------------------------------------------------------------
# q_period_over_period — monthly revenue with MoM delta and growth
# ---------------------------------------------------------------------------
@register(
    "q_period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE) AS mom_delta,
           CAST(CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE)
                / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE) AS DOUBLE) AS mom_pct
    FROM monthly
    """,
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas — the canonical reporting lag
    pattern. Revenue sums through DECIMAL per month (exact), the LAG
    difference stays DECIMAL (exact subtraction), and only the growth
    ratio divides in double. The window runs over the monthly grain
    (~10^2 rows for decades of data); the first month's delta is NULL by
    definition. ISO month strings order lexicographically = chronologically
    in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev") - prev).cast("double").alias("mom_delta"),
        ((F.col("rev") - prev).cast("double") / prev.cast("double")).alias("mom_pct"),
    )


# ---------------------------------------------------------------------------
# q_running_distinct — cumulative distinct users per day via first-seen
# ---------------------------------------------------------------------------
@register(
    "q_running_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, event_type,
             MIN(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)) AS d
      FROM events GROUP BY user_id, event_type
    ),
    per_day AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM first_seen GROUP BY d
    )
    SELECT d AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct (user, event-type) pairs per day — the
    growth-curve query. A naive per-day COUNT(DISTINCT ... WHERE ts <= day)
    rescans the corpus per day; the scale-correct identity is
    first-seen-day per entity (one hash aggregate on the entity key),
    daily new-entity counts, and a prefix sum over the daily grain.
    Distinct-so-far(d) ≡ Σ_{i≤d} new(i), exactly. All integer arithmetic.
    The entity is the (user, type) pair — the corpus's small user pool all
    appears on day one, while pair adoption spreads over the month."""
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    first_seen = (
        ev.select("user_id", "event_type", d.alias("d"))
        .groupBy("user_id", "event_type")
        .agg(F.min("d").alias("d"))
    )
    per_day = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# q_hopping_window — sliding-window rollup, native F.window(slide) pinned
# ---------------------------------------------------------------------------
_HOP_SIZE_US = 3600 * 1_000_000  # 1-hour windows
_HOP_SLIDE_US = 900 * 1_000_000  # sliding every 15 minutes → 4 windows/event


@register(
    "q_hopping_window",
    oracle=f"""
    WITH hopped AS (
      SELECT (CAST(floor(epoch_us(ts) / {_HOP_SLIDE_US}) AS BIGINT) - u.i)
               * {_HOP_SLIDE_US} AS window_start_us,
             event_type, value
      FROM events, unnest(range(0, {_HOP_SIZE_US // _HOP_SLIDE_US})) AS u(i)
    )
    SELECT window_start_us, event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", 6)} AS sum_value
    FROM hopped
    GROUP BY 1, 2
    """,
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window rollup — 1-hour windows every 15 minutes,
    the overlapping-window twin of q_time_bucket's tumbling buckets and
    the batch form of a sliding streaming aggregation. Spark side is the
    NATIVE ``F.window(ts, size, slide)`` generator (each event explodes
    into size/slide = 4 window rows inside codegen); the oracle derives
    the same windows from first principles — start_us = (floor(t/slide)
    − i)·slide for i < size/slide, epoch-aligned exactly like Spark's
    default origin — so the native generator's alignment and
    inclusive-start/exclusive-end semantics are value-pinned, not
    assumed. Window starts emit as exact BIGINT epoch-microseconds
    (timestamp columns canonicalize differently across the two pandas
    bridges). One 4× explode + one hash aggregate; at 100 TB the slide
    ratio bounds the blow-up and the aggregate is the only shuffle."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        events.select(win.alias("w"), "event_type", "value")
        .groupBy(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 6).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_changepoint — binary-segmentation first split over the daily series
# ---------------------------------------------------------------------------
@register(
    "q_changepoint",
    oracle=f"""
    WITH {_SQL_DAILY},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS t
      FROM daily
    ),
    pre AS (
      SELECT d, y,
             CAST(SUM(y) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k
      FROM daily
    ),
    gains AS (
      SELECT d, k, nd, s, t,
             (CAST(k AS DOUBLE) * (nd - k) / nd)
             * (CAST(s AS DOUBLE) / k - CAST(t - s AS DOUBLE) / (nd - k))
             * (CAST(s AS DOUBLE) / k - CAST(t - s AS DOUBLE) / (nd - k))
               AS gain
      FROM pre, tot
      WHERE k < nd
    )
    SELECT d AS split_day, k AS n_before, (nd - k) AS n_after,
           CAST(s AS DOUBLE) / k AS mean_before,
           CAST(t - s AS DOUBLE) / (nd - k) AS mean_after,
           gain
    FROM gains
    ORDER BY gain DESC, split_day ASC
    LIMIT 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation's first split (the root step of the classic
    changepoint recursion, Scott & Knott 1974 lineage): the day k whose
    prefix/suffix partition maximizes the between-segment variance term
    G(k) = k(N−k)/N · (μ₁−μ₂)² — equivalently the largest SSE drop any
    single split buys. Complements q_cusum_shift (drift EXISTENCE as a
    ramp) by LOCATING the shift and quantifying its two levels.

    Scale shape: the corpus-sized work is the day-grain count aggregate
    (one hash agg); everything after runs on the |days| series — one
    calendar-bounded window prefix sum, a scalar broadcast, a per-row
    closed form, and a top-1. Determinism: prefix sums are exact BIGINTs
    ordered by the unique day key; G(k) is ONE fixed-shape double
    expression; the top-1 tiebreak (gain DESC, day ASC) compares doubles
    both engines computed bitwise-identically."""
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("y").cast("long").alias("t"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.orderBy("d")
    pre = daily.select(
        "d",
        F.sum("y").over(w).cast("long").alias("s"),
        F.row_number().over(wk).cast("long").alias("k"),
    )
    k, s = F.col("k").cast("double"), F.col("s").cast("double")
    nd, t = F.col("nd"), F.col("t")
    mean_b = s / F.col("k")
    mean_a = (t - F.col("s")).cast("double") / (nd - F.col("k"))
    gain = (k * (nd - F.col("k")) / nd) * (mean_b - mean_a) * (mean_b - mean_a)
    return (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("k") < nd)
        .select(
            F.col("d").alias("split_day"),
            F.col("k").alias("n_before"),
            (nd - F.col("k")).alias("n_after"),
            mean_b.alias("mean_before"),
            mean_a.alias("mean_after"),
            gain.alias("gain"),
        )
        .orderBy(F.col("gain").desc(), F.col("split_day").asc())
        .limit(1)
    )


# ---------------------------------------------------------------------------
# q_sax_symbols — symbolic aggregate approximation of the daily series
# ---------------------------------------------------------------------------
# 4-symbol SAX breakpoints: the standard N(0,1) quartiles (Lin et al. 2003).
_SAX_Q = 0.6745


@register(
    "q_sax_symbols",
    oracle=f"""
    WITH {_SQL_DAILY},
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(y) AS BIGINT) AS s,
             CAST(SUM(y * y) AS BIGINT) AS q
      FROM daily
    ),
    z AS (
      SELECT d, y,
             (CAST(y AS DOUBLE) - CAST(s AS DOUBLE) / nd)
               / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / nd) / nd)
               AS zs
      FROM daily, st
      WHERE q * nd > s * s
    ),
    sym AS (
      SELECT d // 7 AS week, d,
             CASE WHEN zs < -{_SAX_Q} THEN 'a'
                  WHEN zs < 0 THEN 'b'
                  WHEN zs < {_SAX_Q} THEN 'c'
                  ELSE 'd' END AS c
      FROM z
    )
    SELECT week,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           string_agg(c, '' ORDER BY d) AS sax_word
    FROM sym GROUP BY week
    """,
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003): z-score
    each day against the whole series and quantize into the 4-symbol
    alphabet at the standard N(0,1) quartile breakpoints, emitting one
    word per epoch-week — the discretization under every classic motif /
    anomaly-grammar miner. 'dddd' weeks are sustained highs; a week whose
    word differs from all others is a candidate discord.

    Scale shape: the corpus pays one day-grain count aggregate; the
    z-scores, symbols and weekly words all run on the |days| series
    (scalar moment broadcast + per-row closed form + a week-grain
    aggregate). Determinism: μ and σ come from exact BIGINT Σy/Σy²
    (the guard q·n > s² doubles as the σ>0 filter and is exact integer
    arithmetic), each z is ONE fixed-shape double expression, breakpoint
    literals render identically, and the word's letter order is pinned by
    the unique day key (array_sort on (d, c) structs / ORDER BY d)."""
    daily = _daily(spark, sf_dir)
    st = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
    )
    nd, s, q = F.col("nd"), F.col("s"), F.col("q")
    zs = (F.col("y").cast("double") - s.cast("double") / nd) / F.sqrt(
        (q.cast("double") - s.cast("double") * s / nd) / nd
    )
    sym = (
        daily.crossJoin(F.broadcast(st))
        .filter(q * nd > s * s)
        .select(
            F.expr("d DIV 7").alias("week"),
            "d",
            F.when(zs < -_SAX_Q, "a")
            .when(zs < 0, "b")
            .when(zs < _SAX_Q, "c")
            .otherwise("d")
            .alias("c"),
        )
    )
    return sym.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))),
                lambda x: x["c"],
            ),
            "",
        ).alias("sax_word"),
    )


# ---------------------------------------------------------------------------
# q_corr_matrix — pairwise correlation of the per-type daily series
# ---------------------------------------------------------------------------
@register(
    "q_corr_matrix",
    oracle="""
    WITH dt AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             event_type, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT d FROM dt),
    types AS (SELECT DISTINCT event_type FROM dt),
    dense AS (
      SELECT days.d, types.event_type, COALESCE(dt.y, 0) AS y
      FROM days CROSS JOIN types
      LEFT JOIN dt ON dt.d = days.d AND dt.event_type = types.event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.y) AS BIGINT) AS sa,
             CAST(SUM(b.y) AS BIGINT) AS sb,
             CAST(SUM(a.y * a.y) AS BIGINT) AS qa,
             CAST(SUM(b.y * b.y) AS BIGINT) AS qb,
             CAST(SUM(a.y * b.y) AS BIGINT) AS sab
      FROM dense a JOIN dense b
        ON a.d = b.d AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n,
           (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
             / (sqrt(CAST(n AS DOUBLE) * qa - CAST(sa AS DOUBLE) * sa)
                * sqrt(CAST(n AS DOUBLE) * qb - CAST(sb AS DOUBLE) * sb))
             AS corr
    FROM pairs
    WHERE n * qa > sa * sa AND n * qb > sb * sb
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle correlation matrix of the per-event-type daily
    count series — do purchases track views day-to-day, do errors move
    with clicks (the metric-graph edge weights an anomaly correlator
    uses). Densified with explicit zeros first: a day where one type is
    silent is SIGNAL, and the inner-join-only version would silently
    condition on co-activity.

    Scale shape: the corpus pays ONE (day × type) count aggregate; the
    densify cross join and the pair self-join run on |days|·|types| rows
    (calendar × enum-bounded, never corpus-sized). All five moments per
    pair are exact BIGINTs off a single pass; corr is ONE fixed-shape
    double expression per output row with the exact-integer positivity
    guard filtering degenerate (constant) series in both engines."""
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    dt = ev.groupBy(d.alias("d"), F.col("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    days = dt.select("d").distinct()
    types = dt.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(dt, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    )
    a = dense.select(
        F.col("d").alias("da"), F.col("event_type").alias("type_a"), F.col("y").alias("ya")
    )
    b = dense.select(
        F.col("d").alias("db"), F.col("event_type").alias("type_b"), F.col("y").alias("yb")
    )
    pairs = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ya").cast("long").alias("sa"),
            F.sum("yb").cast("long").alias("sb"),
            F.sum(F.col("ya") * F.col("ya")).cast("long").alias("qa"),
            F.sum(F.col("yb") * F.col("yb")).cast("long").alias("qb"),
            F.sum(F.col("ya") * F.col("yb")).cast("long").alias("sab"),
        )
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    qa, qb, sab = F.col("qa"), F.col("qb"), F.col("sab")
    corr = (n.cast("double") * sab - sa.cast("double") * sb) / (
        F.sqrt(n.cast("double") * qa - sa.cast("double") * sa)
        * F.sqrt(n.cast("double") * qb - sb.cast("double") * sb)
    )
    return pairs.filter((n * qa > sa * sa) & (n * qb > sb * sb)).select(
        "type_a", "type_b", "n", corr.alias("corr")
    )


# ---------------------------------------------------------------------------
# q_spearman_matrix — rank correlation of the per-type daily series
# ---------------------------------------------------------------------------
@register(
    "q_spearman_matrix",
    oracle="""
    WITH dt AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             event_type, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT d FROM dt),
    types AS (SELECT DISTINCT event_type FROM dt),
    dense AS (
      SELECT days.d, types.event_type, COALESCE(dt.y, 0) AS y
      FROM days CROSS JOIN types
      LEFT JOIN dt ON dt.d = days.d AND dt.event_type = types.event_type
    ),
    ranked AS (
      SELECT d, event_type,
             CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY y)
                  + count(*) OVER (PARTITION BY event_type, y) - 1
                  AS BIGINT) AS r2
      FROM dense
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.r2) AS BIGINT) AS sa,
             CAST(SUM(b.r2) AS BIGINT) AS sb,
             CAST(SUM(a.r2 * a.r2) AS BIGINT) AS qa,
             CAST(SUM(b.r2 * b.r2) AS BIGINT) AS qb,
             CAST(SUM(a.r2 * b.r2) AS BIGINT) AS sab
      FROM ranked a JOIN ranked b
        ON a.d = b.d AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n,
           (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
             / (sqrt(CAST(n AS DOUBLE) * qa - CAST(sa AS DOUBLE) * sa)
                * sqrt(CAST(n AS DOUBLE) * qb - CAST(sb AS DOUBLE) * sb))
             AS spearman_rho
    FROM pairs
    WHERE n * qa > sa * sa AND n * qb > sb * sb
    """,
)
def q_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation matrix of the per-type daily series —
    q_corr_matrix's robust twin (monotone association, immune to the
    count spikes that drag Pearson around). Tie handling is the textbook
    average-rank convention made EXACT: the average rank of a tie group,
    (2·min_rank + ties − 1)/2, is a half-integer, so the operator carries
    2·rank as a BIGINT (rank() + a tie count over the (type, value)
    partition) and Pearson's affine invariance makes ρ of the doubled
    ranks equal ρ of the true average ranks — rank correlation with zero
    float accumulation anywhere.

    Scale shape: identical to q_corr_matrix (one corpus-paying count
    aggregate, then calendar×enum-bounded work) plus one rank window per
    type over the |days| series."""
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    dt = ev.groupBy(d.alias("d"), F.col("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    days = dt.select("d").distinct()
    types = dt.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(dt, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    )
    wr = Window.partitionBy("event_type").orderBy("y")
    wt = Window.partitionBy("event_type", "y")
    ranked = dense.select(
        "d",
        "event_type",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .cast("long")
        .alias("r2"),
    )
    a = ranked.select(
        F.col("d").alias("da"), F.col("event_type").alias("type_a"), F.col("r2").alias("ra")
    )
    b = ranked.select(
        F.col("d").alias("db"), F.col("event_type").alias("type_b"), F.col("r2").alias("rb")
    )
    pairs = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ra").cast("long").alias("sa"),
            F.sum("rb").cast("long").alias("sb"),
            F.sum(F.col("ra") * F.col("ra")).cast("long").alias("qa"),
            F.sum(F.col("rb") * F.col("rb")).cast("long").alias("qb"),
            F.sum(F.col("ra") * F.col("rb")).cast("long").alias("sab"),
        )
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    qa, qb, sab = F.col("qa"), F.col("qb"), F.col("sab")
    rho = (n.cast("double") * sab - sa.cast("double") * sb) / (
        F.sqrt(n.cast("double") * qa - sa.cast("double") * sa)
        * F.sqrt(n.cast("double") * qb - sb.cast("double") * sb)
    )
    return pairs.filter((n * qa > sa * sa) & (n * qb > sb * sb)).select(
        "type_a", "type_b", "n", rho.alias("spearman_rho")
    )


# ---------------------------------------------------------------------------
# q_holt_winters — additive triple exponential smoothing on the daily series
# ---------------------------------------------------------------------------
# exact binary fractions so every engine parses the identical double
_HW_ALPHA = 0.5
_HW_BETA = 0.25
_HW_GAMMA = 0.25
_HW_SEASON = 7  # weekly seasonality on the daily grain

_HW_OUT_T = (
    "ARRAY<STRUCT<day: BIGINT, y: BIGINT, level: DOUBLE, trend: DOUBLE, "
    "seasonal: DOUBLE, fitted: DOUBLE, resid: DOUBLE>>"
)


def _hw_ctes() -> str:
    """The shared recursive Holt-Winters state machine (daily → dense →
    init → hw), reused verbatim by q_holt_winters and
    q_forecast_backtest so the two oracles can never disagree on the
    recurrence."""
    a, b_, g, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_SEASON
    return f"""
    WITH RECURSIVE {_SQL_DAILY.strip().rstrip(')').rstrip()}
    ),
    bounds AS (SELECT MIN(d) AS mn, MAX(d) AS mx,
                      CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS n
               FROM daily),
    dense AS (
      SELECT CAST(g.i AS BIGINT) AS t, g.mn + g.i AS d,
             CAST(COALESCE(daily.y, 0) AS BIGINT) AS y
      FROM (SELECT mn, unnest(range(0, n)) AS i FROM bounds) g
      LEFT JOIN daily ON daily.d = g.mn + g.i
    ),
    m1 AS (SELECT SUM(y) / {float(m)} AS l0 FROM dense WHERE t < {m}),
    m2 AS (SELECT SUM(y) / {float(m)} AS l1 FROM dense
           WHERE t >= {m} AND t < {2 * m}),
    init AS (
      SELECT CAST({m - 1} AS BIGINT) AS t,
             m1.l0 AS l,
             (m2.l1 - m1.l0) / {float(m)} AS b,
             (SELECT list(y - m1.l0 ORDER BY t) FROM dense WHERE t < {m})
               AS s,
             CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS y,
             CAST(NULL AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS fitted
      FROM m1, m2, bounds
      WHERE bounds.n >= {2 * m}
    ),
    hw AS (
      SELECT * FROM init
      UNION ALL
      SELECT e.t,
             {a} * (e.y - hw.s[1]) + {1 - a} * (hw.l + hw.b) AS l,
             {b_} * (({a} * (e.y - hw.s[1]) + {1 - a} * (hw.l + hw.b))
                     - hw.l) + {1 - b_} * hw.b AS b,
             hw.s[2:{m}]
               || [{g} * (e.y - ({a} * (e.y - hw.s[1])
                                 + {1 - a} * (hw.l + hw.b)))
                   + {1 - g} * hw.s[1]] AS s,
             e.d, e.y,
             {g} * (e.y - ({a} * (e.y - hw.s[1])
                           + {1 - a} * (hw.l + hw.b)))
               + {1 - g} * hw.s[1] AS seasonal,
             hw.l + hw.b + hw.s[1] AS fitted
      FROM hw JOIN dense e ON e.t = hw.t + 1
    )
    """


def _hw_oracle() -> str:
    return f"""{_hw_ctes()}
    SELECT d AS day, y, l AS level, b AS trend, seasonal, fitted,
           y - fitted AS resid
    FROM hw WHERE d IS NOT NULL
    """


@register("q_holt_winters", oracle=_hw_oracle())
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, weekly season)
    over the daily event-count series: per day from the second week on,
    the smoothed level/trend/seasonal state and the one-step-ahead fit
    ŷ_t = l_{{t-1}} + b_{{t-1}} + s_{{t-m}} with its residual — the
    forecasting complement to q_ewma_daily (level only) and
    q_seasonal_profile (static seasonality). Gaps densify to 0 events;
    series shorter than two seasons return empty (not enough data to
    initialize trend + seasonals — both engines agree).

    Scale shape: the corpus pays ONE day-grain count aggregate (the
    shuffle key is the day, not the event); the recurrence then runs on
    the ONE collected row over the bounded day span as a single native
    fold (aggregate over the step sequence, rolling seasonal queue) —
    the q_markov_attribution discipline, never a per-step job. The
    DuckDB twin is a recursive CTE carrying the identical state.
    Determinism: daily y are exact BIGINT counts, the smoothing
    constants are exact binary fractions, and every step is the same
    fixed-shape double expression in both engines — bitwise equal, no
    float accumulation ambiguity anywhere."""
    return hw_from_daily(_daily(spark, sf_dir))


def hw_from_daily(daily: DataFrame) -> DataFrame:
    """The Holt-Winters fold over any (d, y) day-count frame — shared by
    the batch query above and the ST-HW streaming monitor
    (streaming/forecast_monitor.py), so the two can be compared bitwise."""
    m, a, b_, g = _HW_SEASON, _HW_ALPHA, _HW_BETA, _HW_GAMMA
    one = daily.agg(
        F.min("d").alias("mn"),
        F.max("d").alias("mx"),
        F.map_from_entries(
            F.collect_list(F.struct("d", F.col("y").cast("long").alias("y")))
        ).alias("ym"),
    )
    n = F.col("mx") - F.col("mn") + 1
    base = one.filter(F.col("mn").isNotNull() & (n >= 2 * m)).select(
        "mn",
        n.alias("n"),
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.coalesce(
                F.element_at(F.col("ym"), F.col("mn") + i), F.lit(0).cast("long")
            ),
        ).alias("dense"),
    )

    def _wk_mean(dense, start):
        return (
            F.aggregate(
                F.slice(dense, start + 1, m),
                F.lit(0).cast("long"),
                lambda acc, y: acc + y,
            )
            / float(m)
        )

    l0 = _wk_mean(F.col("dense"), 0)
    b0 = (_wk_mean(F.col("dense"), m) - _wk_mean(F.col("dense"), 0)) / float(m)
    init = base.select(
        "mn",
        "n",
        "dense",
        F.struct(
            l0.alias("l"),
            b0.alias("b"),
            F.transform(
                F.slice(F.col("dense"), 1, m), lambda y: y - l0
            ).alias("s"),
            F.expr(f"CAST(array() AS {_HW_OUT_T})").alias("out"),
        ).alias("st"),
    )

    def _step(acc, t):
        y = F.element_at(F.col("dense"), (t + 1).cast("int")).cast("long")
        s_head = F.element_at(acc["s"], 1)
        l_new = a * (y - s_head) + (1 - a) * (acc["l"] + acc["b"])
        b_new = b_ * (l_new - acc["l"]) + (1 - b_) * acc["b"]
        s_new = g * (y - l_new) + (1 - g) * s_head
        fitted = acc["l"] + acc["b"] + s_head
        row = F.struct(
            (F.col("mn") + t).alias("day"),
            y.alias("y"),
            l_new.alias("level"),
            b_new.alias("trend"),
            s_new.alias("seasonal"),
            fitted.alias("fitted"),
            (y - fitted).alias("resid"),
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(F.slice(acc["s"], 2, m - 1), F.array(s_new)).alias("s"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = init.select(
        F.aggregate(
            F.sequence(F.lit(m), F.col("n") - 1), F.col("st"), _step
        ).alias("fin")
    )
    return folded.select(F.explode(F.col("fin")["out"]).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# q_forecast_backtest — one-step-ahead error: Holt-Winters vs the naives
# ---------------------------------------------------------------------------
def _backtest_oracle() -> str:
    return f"""{_hw_ctes()},
    fit AS (SELECT d AS day, y, fitted FROM hw WHERE d IS NOT NULL),
    lagged AS (
      SELECT f.day, f.y, f.fitted, d1.y AS y_lag1, d7.y AS y_lag7
      FROM fit f
      JOIN dense d1 ON d1.d = f.day - 1
      JOIN dense d7 ON d7.d = f.day - {_HW_SEASON}
    ),
    maes AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             list_reduce(list(ABS(CAST(y AS DOUBLE) - fitted) ORDER BY day),
                         (a, b) -> a + b) / COUNT(*) AS mae_hw,
             CAST(CAST(SUM(ABS(y - y_lag1)) AS BIGINT) AS DOUBLE)
               / COUNT(*) AS mae_naive,
             CAST(CAST(SUM(ABS(y - y_lag7)) AS BIGINT) AS DOUBLE)
               / COUNT(*) AS mae_snaive
      FROM lagged
    )
    SELECT 'holt_winters' AS model, n_days, mae_hw AS mae,
           mae_hw / mae_snaive AS mase
    FROM maes WHERE mae_snaive > 0.0
    UNION ALL
    SELECT 'naive', n_days, mae_naive, mae_naive / mae_snaive
    FROM maes WHERE mae_snaive > 0.0
    UNION ALL
    SELECT 'seasonal_naive', n_days, mae_snaive, mae_snaive / mae_snaive
    FROM maes WHERE mae_snaive > 0.0
    """


@register("q_forecast_backtest", oracle=_backtest_oracle())
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling one-step-ahead backtest of the q_holt_winters fit against
    the two baselines every forecasting paper reports: the naive
    (tomorrow = today) and the seasonal naive (tomorrow = a week ago).
    One row per model with its MAE and MASE (MAE over the seasonal
    naive's — Hyndman's scale-free skill score; < 1 beats the baseline).
    The honest check that smoothing earns its keep on this series.

    Scale shape: reuses q_holt_winters' day-grain fold output, joins the
    two lag baselines on the SAME bounded day grain (left lookups into
    the gap-densified daily counts), and folds the ≤day-span error
    arrays on one row. Determinism: naive errors are exact integer
    |y−lag|; the Holt-Winters error sum is a SEQUENTIAL FOLD over
    day-sorted terms; MAEs and MASE are fixed-shape divisions — both
    engines share the _hw_ctes recurrence verbatim."""
    m = _HW_SEASON
    hw = q_holt_winters(spark, sf_dir).select("day", "y", "fitted")
    daily = _daily(spark, sf_dir).select("d", F.col("y").cast("long").alias("dy"))
    lag1 = daily.select((F.col("d") + 1).alias("day"), F.col("dy").alias("y1"))
    lag7 = daily.select((F.col("d") + m).alias("day"), F.col("dy").alias("y7"))
    lagged = (
        hw.join(lag1, "day", "left")
        .join(lag7, "day", "left")
        .select(
            "day",
            "y",
            "fitted",
            F.coalesce(F.col("y1"), F.lit(0)).cast("long").alias("y_lag1"),
            F.coalesce(F.col("y7"), F.lit(0)).cast("long").alias("y_lag7"),
        )
    )
    maes = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "day",
                                F.abs(
                                    F.col("y").cast("double") - F.col("fitted")
                                ).alias("e"),
                            )
                        )
                    ),
                    lambda x: x["e"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.count(F.lit(1))
        ).alias("mae_hw"),
        (
            F.sum(F.abs(F.col("y") - F.col("y_lag1"))).cast("long").cast("double")
            / F.count(F.lit(1))
        ).alias("mae_naive"),
        (
            F.sum(F.abs(F.col("y") - F.col("y_lag7"))).cast("long").cast("double")
            / F.count(F.lit(1))
        ).alias("mae_snaive"),
    ).filter(F.col("mae_snaive") > 0.0)
    # one explode of a 3-struct array instead of a 3-way union of selects:
    # the union branches each re-derived the whole hw-fold + lag pipeline
    # (12 shuffles); the single-pass form pays it once (round-7 diet)
    models = F.array(
        *[
            F.struct(
                F.lit(name).alias("model"),
                F.col("n_days").alias("n_days"),
                mae.alias("mae"),
                (mae / F.col("mae_snaive")).alias("mase"),
            )
            for name, mae in [
                ("holt_winters", F.col("mae_hw")),
                ("naive", F.col("mae_naive")),
                ("seasonal_naive", F.col("mae_snaive")),
            ]
        ]
    )
    return maes.select(F.explode(models).alias("r")).select("r.*")
