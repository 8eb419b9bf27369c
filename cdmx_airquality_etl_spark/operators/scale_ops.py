"""Scale-pattern operators: the techniques a 100 TB deployment leans on,
packaged as oracle-checked queries.

- q_asof_join    — event-time AS-OF join, an operator Spark's join set lacks
                   (composition per SURVEY §"custom operators": built from
                   union + ordered window carry-forward, no UDF). DuckDB has
                   native ASOF JOIN — that's the oracle.
- q_sessionize   — gaps-and-islands sessionization (30-min inactivity split),
                   the batch twin of streaming session windows.
- q_session_window — the same sessions via Spark's NATIVE session_window
                   aggregate (no window-function pass; boundary semantics
                   pinned by its oracle: diff >= gap starts a session).
- q_group_salted — two-stage salted aggregation: the skew-mitigation pattern
                   (salt → partial agg on (key, salt) → final agg on key).
                   Result provably identical to the plain aggregate (the
                   oracle IS the plain aggregate); DECIMAL partials keep the
                   two-stage sum bit-exact.

Lineage: all three generalize the reference's implicit time-series model
(report_ts keys + hourly snapshots, sql_config.yaml:12-17,
scrapper.py:44-52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import exact_sum, sql_exact_sum
from ..registry import register
from ..sources.parquet import load_table

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


# ---------------------------------------------------------------------------
# q_asof_join — for each 'error' event, the user's most recent prior-or-equal
# 'click' (LEFT semantics: errors with no prior click keep NULLs)
# ---------------------------------------------------------------------------
@register(
    "q_asof_join",
    oracle="""
    SELECT e.event_id AS error_event_id,
           e.user_id,
           c.event_id AS click_event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF via union + ordered carry-forward — one shuffle on user_id, no
    pairwise blow-up (an inequality theta-join would be O(errors × clicks)
    per user; this is O(events log events) via the window sort, the shape
    that survives scale)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
        F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("error_event_id"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_event_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(0).alias("is_click"),
        F.col("event_id").alias("error_event_id"),
    )
    # clicks sort before errors at identical ts (is_click desc) → an
    # equal-timestamp click qualifies, matching ASOF's ts >= click.ts
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(errors).select(
        "user_id",
        "ts",
        "error_event_id",
        "is_click",
        F.last("click_event_id", ignorenulls=True).over(w).alias("click_event_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("click_ts"),
    )
    # click_ts emitted as a zero-padded µs ISO string: a raw timestamp
    # column canonicalizes to datetime64[ns] from Spark but datetime64[us]
    # from DuckDB's pandas bridge — the same dtype-sensitivity q_time_bucket
    # documents for DATE. NULLs (no prior click) stay NULL through both
    # engines' formatters.
    return merged.filter(F.col("is_click") == 0).select(
        "error_event_id",
        "user_id",
        "click_event_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
    )


# ---------------------------------------------------------------------------
# q_sessionize — 30-min-gap sessions per user (gaps-and-islands)
# ---------------------------------------------------------------------------
@register(
    "q_sessionize",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_us = F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > _SESSION_GAP_US), 1
    ).otherwise(0)
    sess = events.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_session).over(wsum).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# q_group_salted — skew-mitigated two-stage aggregate (same answer as plain)
# ---------------------------------------------------------------------------
_SALT_BUCKETS = 16


@register(
    "q_group_salted",
    oracle=f"""
    SELECT l_returnflag,
           {sql_exact_sum("l_extendedprice")} AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_group_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation: l_returnflag has 3 values, so a naive shuffle
    lands ~⅓ of the table on single reducers. Salting spreads each key over
    _SALT_BUCKETS partial groups; the final combine is 3×16 rows. DECIMAL
    partials make the two-stage sum exactly equal to the one-stage oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_BUCKETS))
    partial = (
        li.select(
            "l_returnflag",
            salt.alias("salt"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price_dec"),
        )
        .groupBy("l_returnflag", "salt")
        .agg(
            F.sum("price_dec").alias("sum_dec"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("sum_dec").cast("double").alias("sum_price"),
        F.sum("n").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q_join_skew_salted — skew-mitigated equi-join (same answer as plain join)
# ---------------------------------------------------------------------------
@register(
    "q_join_skew_salted",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           {sql_exact_sum("l_extendedprice")} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: when one join key is hot (a celebrity key owning
    say 10% of the fact table), the plain hash join funnels that key through
    one reducer. Fix: fact rows get salt = hash(other cols) % S, the build
    side is exploded ×S (one copy per salt), and the join key becomes
    (key, salt) — the hot key now spreads over S reducers. The ×S blow-up is
    on the *smaller* side only, and the oracle proves result equivalence with
    the unsalted join. AQE's skewedJoin does this adaptively at runtime;
    this operator is the explicit form for when stats are known up front."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li_s = li.withColumn(
        "salt",
        F.pmod(F.xxhash64("l_linenumber", "l_extendedprice"), F.lit(_SALT_BUCKETS))
        .cast("int"),
    )
    ord_s = orders.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1)))
    )
    joined = li_s.join(
        ord_s,
        (li_s.l_orderkey == ord_s.o_orderkey) & (li_s.salt == ord_s.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(F.col("l_extendedprice"))
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# q_session_window — native session_window aggregation (batch form)
# ---------------------------------------------------------------------------
@register(
    "q_session_window",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f')
             AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation — the batch form of the
    streaming session operator (streaming/stateful.py's watermarked
    variant), and the primitive q_sessionize builds by hand with
    gaps-and-islands. One shuffle on user_id; Spark merges overlapping
    per-event windows [ts, ts+gap) inside the aggregate, so no window
    function pass is needed.

    Session-boundary contract, pinned by the oracle: Spark session windows
    are half-open [start, last_ts + gap), so an event at EXACTLY
    last_ts + gap starts a new session — the oracle's new-session predicate
    is therefore ``diff >= gap``, not ``> gap`` (q_sessionize's hand-built
    islands use ``>``; both are valid operators, the boundary semantics
    differ by design and each oracle pins its own). Window bounds are
    emitted as zero-padded µs ISO strings per the temporal-output policy."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# q_bloom_prune — runtime-filter pattern: a fixed-size hash-bucket bitmap of
# the dim keys prunes the fact scan BEFORE the exact join
# ---------------------------------------------------------------------------
_BLOOM_BITS = 8192  # bitmap size (bits); driver state is bounded by this


@register(
    "q_bloom_prune",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_exact_sum("o.o_totalprice")}
             AS revenue
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o.o_orderpriority
    """,
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit bloom-style scan prune: hash every build-
    side key into a {_BLOOM_BITS}-bit bitmap (xxhash64 mod m), ship the
    bitmap as a literal array of longs, and reject fact rows whose key
    bucket is unset BEFORE the exact broadcast semi-join verifies the
    survivors. The bitmap has no false negatives, so the result is provably
    identical to the plain semi-join — which is exactly what the oracle
    runs.

    Scale rationale: this is the hand-rolled form of Spark's runtime
    bloom-filter join pruning (spark.sql.optimizer.runtime.bloomFilter.*) —
    at 100 TB the fact scan discards non-matching rows at the scan/codegen
    stage for the cost of 128 longs of broadcast state (bounded regardless
    of dim cardinality; the driver collect is the bucket set, capped at
    _BLOOM_BITS values). The exact semi-join then touches only survivors:
    with a selective dim, shuffle/probe volume drops by the filter's true
    positive rate. The bit test compiles to an array index + shift — pure
    codegen, no join, no UDF."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim_keys = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )

    # Build the bitmap driver-side from the dim's DISTINCT hash buckets —
    # at most _BLOOM_BITS ints cross the driver no matter how large the dim.
    buckets = [
        r[0]
        for r in dim_keys.select(
            F.pmod(F.xxhash64("c_custkey"), F.lit(_BLOOM_BITS)).alias("b")
        )
        .distinct()
        .collect()
    ]
    words = [0] * (_BLOOM_BITS // 64)
    for b in buckets:
        words[b // 64] |= 1 << (b % 64)
    # render as ONE parsed literal expression (single py4j call), signed longs
    words_sql = "array(" + ",".join(
        f"{w - (1 << 64) if w >= (1 << 63) else w}L" for w in words
    ) + ")"

    # one parsed expression: bucket → word index + bit shift + mask. The
    # arithmetic >> sign-extends only bits above the one being tested, so
    # (word >> bit) & 1 is exact for all 64 positions.
    bit_sql = (
        f"(shiftright(element_at({words_sql}, "
        f"CAST(pmod(xxhash64(o_custkey), {_BLOOM_BITS}) DIV 64 AS INT) + 1), "
        f"CAST(pmod(xxhash64(o_custkey), {_BLOOM_BITS}) % 64 AS INT)) "
        f"& 1) = 1"
    )
    pruned = orders.filter(F.expr(bit_sql))
    return (
        pruned.join(F.broadcast(dim_keys),
                    pruned["o_custkey"] == dim_keys["c_custkey"],
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum(F.col("o_totalprice"))
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q_asof_tolerance — AS-OF with a staleness bound (merge_asof tolerance)
# ---------------------------------------------------------------------------
_ASOF_TOL_S = 3600  # matches older than 1 hour are void


@register(
    "q_asof_tolerance",
    oracle=f"""
    SELECT e.event_id AS error_event_id,
           e.user_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(e.ts) - epoch_us(c.ts) <= {_ASOF_TOL_S}::BIGINT * 1000000
                THEN c.event_id END AS click_event_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(e.ts) - epoch_us(c.ts) <= {_ASOF_TOL_S}::BIGINT * 1000000
                THEN strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') END AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a tolerance bound (pandas merge_asof's
    ``tolerance=``): the most recent prior click counts only when it is
    at most 1 hour stale — the semantics attribution and feature-join
    pipelines actually need (a click from last week must NOT explain
    today's error). Same single-shuffle union + ordered carry-forward
    plan as q_asof_join; the tolerance is a post-carry NULL-out, so the
    staleness bound adds ZERO shuffles (an inequality-join formulation
    would be O(errors x clicks) per user). LEFT semantics throughout:
    unmatched and too-stale errors keep NULLs."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
        F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("error_event_id"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_event_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(0).alias("is_click"),
        F.col("event_id").alias("error_event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(errors).select(
        "user_id",
        "ts",
        "error_event_id",
        "is_click",
        F.last("click_event_id", ignorenulls=True).over(w).alias("click_event_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("click_ts"),
    )
    fresh = (
        F.col("click_ts").isNotNull()
        & (
            # exact integer microseconds on BOTH sides: DuckDB's epoch() is
            # fractional while unix_timestamp truncates — a sub-second
            # boundary event would diverge
            F.unix_micros("ts") - F.unix_micros("click_ts")
            <= F.lit(_ASOF_TOL_S * 1_000_000).cast("long")
        )
    )
    return merged.filter(F.col("is_click") == 0).select(
        "error_event_id",
        "user_id",
        F.when(fresh, F.col("click_event_id")).alias("click_event_id"),
        F.when(fresh, F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).alias(
            "click_ts"
        ),
    )
