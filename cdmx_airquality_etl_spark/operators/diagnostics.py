"""Plan-tuning diagnostics: the queries an operator of a large cluster runs
BEFORE picking a physical strategy.

- q_skew_profile — join/agg-key skew report (top-key share + positional
  frequency percentiles) for candidate shuffle keys. This is the
  measurement that decides between a plain shuffle join and the salted
  plan (q_join_skew_salted / q_group_salted): salt only when top_share
  says one key owns a partition-breaking fraction.
- q_zone_map    — value-range zone statistics (min/max per key-range zone)
  plus the prune verdict for a concrete predicate: the data-skipping
  index parquet row groups / Delta file stats implement. Shows exactly
  which fraction of zones a time-range scan touches when data is laid
  out by the zone key.

Lineage: generalizes the reference's implicit layout decisions — its
report_ts-keyed tables (sql_config.yaml:6,18) are exactly the sorted-by-
ingest-time layout whose zone map makes time-range scans cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import md5_int, sql_md5_int
from ..registry import register
from ..sources.parquet import load_table

_ZONE_SIZE = 1000  # l_orderkey range per zone
# the demo prune predicate: a one-year ship-date scan
_PRUNE_LO = "1997-01-01"
_PRUNE_HI = "1998-01-01"


def _freq_profile_sql(table: str, key: str) -> str:
    """One profiled key as a DuckDB CTE body (see q_skew_profile)."""
    return f"""
      SELECT '{table}.{key}' AS key_name,
             CAST(SUM(f) AS BIGINT) AS n_rows,
             COUNT(*) AS n_keys,
             MAX(f) AS max_freq,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN f END) AS p50_freq,
             MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN f END) AS p90_freq,
             MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN f END) AS p99_freq,
             CAST(MAX(f) AS DOUBLE) / CAST(SUM(f) AS DOUBLE) AS top_share
      FROM (
        SELECT f,
               row_number() OVER (ORDER BY f, k) AS rn,
               COUNT(*) OVER () AS n
        FROM (SELECT {key} AS k, COUNT(*) AS f FROM {table} GROUP BY {key})
      )
    """


@register(
    "q_skew_profile",
    oracle=f"""
    {_freq_profile_sql('orders', 'o_custkey')}
    UNION ALL
    {_freq_profile_sql('lineitem', 'l_partkey')}
    UNION ALL
    {_freq_profile_sql('events', 'user_id')}
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency skew report for three candidate shuffle keys: row and
    key counts, the hottest key's frequency, positional p50/p90/p99 of the
    per-key frequency distribution, and top_share = max_freq / n_rows (the
    number that triggers salting).

    Each profile is one hash aggregate over the key plus one ranked pass
    over the (much smaller) frequency table — at 100 TB the frequency
    table is |distinct keys| rows, and a production profiler would sample
    or sketch it; the report shape stays identical. Percentiles are
    POSITIONAL (element at ceil(q·n), ties ordered by (freq, key)) so both
    engines emit identical integers; top_share is the single double
    division."""

    def profile(df: DataFrame, table: str, key: str) -> DataFrame:
        freq = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("f")
        )
        w = Window.orderBy(F.col("f").asc(), F.col("k").asc())
        ranked = freq.select(
            "f",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        pick = (
            lambda cond, name: F.max(F.when(cond, F.col("f"))).alias(name)
        )
        return ranked.agg(
            F.max(F.lit(f"{table}.{key}")).alias("key_name"),
            F.sum("f").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("f").alias("max_freq"),
            pick(F.col("rn") == F.expr("(n + 1) DIV 2"), "p50_freq"),
            pick(F.col("rn") == F.expr("(n * 9 + 9) DIV 10"), "p90_freq"),
            pick(F.col("rn") == F.expr("(n * 99 + 99) DIV 100"), "p99_freq"),
            (
                F.max("f").cast("double") / F.sum("f").cast("double")
            ).alias("top_share"),
        ).select(
            "key_name",
            "n_rows",
            "n_keys",
            "max_freq",
            "p50_freq",
            "p90_freq",
            "p99_freq",
            "top_share",
        )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    return (
        profile(orders, "orders", "o_custkey")
        .unionByName(profile(lineitem, "lineitem", "l_partkey"))
        .unionByName(profile(events, "events", "user_id"))
    )


@register(
    "q_zone_map",
    oracle=f"""
    SELECT l_orderkey // {_ZONE_SIZE} AS zone,
           COUNT(*) AS n_rows,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           (MAX(l_shipdate) < TIMESTAMP '{_PRUNE_LO}'
            OR MIN(l_shipdate) >= TIMESTAMP '{_PRUNE_HI}') AS pruned
    FROM lineitem
    GROUP BY zone
    """,
)
def q_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map statistics over lineitem laid out by order key: per
    {_ZONE_SIZE}-key zone, row count, ship-date and price min/max, and
    whether a concrete one-year ship-date scan could SKIP the zone
    entirely (max < lo or min >= hi — the no-false-negative prune rule).

    This is the operator behind data skipping: parquet keeps these stats
    per row group, Delta/Iceberg per file; Catalyst's filter pushdown
    consumes them for free when the predicate column correlates with the
    layout. The query both materializes the index (one hash aggregate, no
    shuffle beyond it) and reports its effectiveness — on a time-correlated
    layout most zones prune; on a random layout none do, which is the
    signal to re-cluster. All emitted values are data elements or counts;
    the prune verdict is integer/timestamp comparison only."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit(_PRUNE_LO).cast("timestamp")
    hi = F.lit(_PRUNE_HI).cast("timestamp")
    return (
        li.groupBy(
            F.expr(f"l_orderkey DIV {_ZONE_SIZE}").alias("zone")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            (
                (F.max("l_shipdate") < lo) | (F.min("l_shipdate") >= hi)
            ).alias("pruned"),
        )
    )


# ---------------------------------------------------------------------------
# q_kmv_distinct — K-minimum-values distinct sketch, fully oracle-checkable
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_NCHARS = 15  # 60-bit hash space
_KMV_SPACE = float(16**_KMV_NCHARS)  # 2^60, exactly representable


def _kmv_oracle_sql() -> str:

    hv = sql_md5_int("CAST(o_custkey AS VARCHAR)", _KMV_NCHARS)
    return f"""
    WITH h AS (
      SELECT DISTINCT o_orderpriority AS pri, {hv} AS hv
      FROM orders
    ), ranked AS (
      SELECT pri, hv,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY hv) AS rk,
             COUNT(*) OVER (PARTITION BY pri) AS nh
      FROM h
    ), kth AS (
      SELECT pri, MAX(nh) AS nh,
             MAX(CASE WHEN rk = {_KMV_K} THEN hv END) AS hk
      FROM ranked WHERE rk <= {_KMV_K}
      GROUP BY pri
    ), exact AS (
      SELECT o_orderpriority AS pri, COUNT(DISTINCT o_custkey) AS n_exact
      FROM orders GROUP BY 1
    )
    SELECT kth.pri AS o_orderpriority,
           CAST(exact.n_exact AS BIGINT) AS n_exact,
           CASE WHEN kth.nh < {_KMV_K} THEN CAST(kth.nh AS DOUBLE)
                ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r} / CAST(kth.hk AS DOUBLE)
           END AS kmv_estimate
    FROM kth JOIN exact ON kth.pri = exact.pri
    """


@register("q_kmv_distinct", oracle=_kmv_oracle_sql())
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count estimation per group via a K-minimum-values sketch —
    the PORTABLE alternative to HyperLogLog: q_group_approx must stay
    rows-only because HLL++ registers are engine-specific, but KMV over
    the repo's portable md5 hash (portable.md5_int) is a deterministic
    function of the data, so the ESTIMATOR ITSELF is oracle-checked here,
    alongside the exact count it approximates (the estimator-calibration
    pattern of minhash_estimate / ann_recall).

    Estimator: keep the k={_KMV_K} smallest distinct 60-bit hashes per
    group; if fewer than k hashes exist the sketch is exact, else
    est = (k-1)·2^60 / h_k. (k-1)·2^60 is exactly representable as a
    double and the final division is one correctly-rounded IEEE op.

    Scale: the sketch is mergeable — each partition keeps its k smallest,
    the combiner keeps the k smallest of the union (what the window-based
    rank computes here); shuffle traffic is k values per group regardless
    of cardinality, the same reason production engines sketch instead of
    exact-counting. The exact COUNT(DISTINCT) rides along only as the
    calibration column."""

    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        F.col("o_orderpriority").alias("pri"),
        md5_int(F.col("o_custkey").cast("string"), _KMV_NCHARS).alias("hv"),
    ).distinct()
    wr = Window.partitionBy("pri").orderBy("hv")
    wc = Window.partitionBy("pri")
    ranked = h.select(
        "pri",
        "hv",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("nh"),
    )
    kth = (
        ranked.filter(F.col("rk") <= _KMV_K)
        .groupBy("pri")
        .agg(
            F.max("nh").alias("nh"),
            F.max(F.when(F.col("rk") == _KMV_K, F.col("hv"))).alias("hk"),
        )
    )
    exact = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return kth.join(exact, "pri").select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.when(F.col("nh") < _KMV_K, F.col("nh").cast("double"))
        .otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("hk").cast("double")
        )
        .alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# q_join_cardinality — textbook CBO join-size estimate vs ground truth
# ---------------------------------------------------------------------------
@register(
    "q_join_cardinality",
    oracle="""
    WITH a AS (
      SELECT COUNT(*) AS n_a, COUNT(DISTINCT o_orderkey) AS ndv_a FROM orders
    ), b AS (
      SELECT COUNT(*) AS n_b, COUNT(DISTINCT l_orderkey) AS ndv_b FROM lineitem
    ), act AS (
      SELECT COUNT(*) AS actual
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(ndv_a AS BIGINT) AS ndv_a,
           CAST(ndv_b AS BIGINT) AS ndv_b,
           CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             / CAST(CASE WHEN ndv_a > ndv_b THEN ndv_a ELSE ndv_b END AS DOUBLE)
             AS est_rows,
           CAST(actual AS BIGINT) AS actual_rows,
           CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             / CAST(CASE WHEN ndv_a > ndv_b THEN ndv_a ELSE ndv_b END AS DOUBLE)
             / CAST(actual AS DOUBLE) AS q_error
    FROM a CROSS JOIN b CROSS JOIN act
    """,
)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost-based-optimizer estimate every engine's join reordering
    lives on: |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B) under the uniformity +
    containment assumptions, computed next to the TRUE join size so the
    q-error (est/actual) is observable. On this FK join containment holds
    exactly, so the estimate is nearly perfect — the op exists to monitor
    when dirty data (dangling keys, skew) breaks it.

    Scale: three independent aggregates — two single-table scans and the
    FK-join count; the stats side is what an ANALYZE TABLE job persists,
    at metadata cost."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = orders.agg(
        F.count(F.lit(1)).alias("n_a"),
        F.countDistinct("o_orderkey").alias("ndv_a"),
    )
    b = li.agg(
        F.count(F.lit(1)).alias("n_b"),
        F.countDistinct("l_orderkey").alias("ndv_b"),
    )
    act = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    est = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / F.greatest("ndv_a", "ndv_b").cast("double")
    )
    return (
        a.crossJoin(b)
        .crossJoin(act)
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("ndv_a").cast("long").alias("ndv_a"),
            F.col("ndv_b").cast("long").alias("ndv_b"),
            est.alias("est_rows"),
            F.col("actual").cast("long").alias("actual_rows"),
            (est / F.col("actual").cast("double")).alias("q_error"),
        )
    )


# ---------------------------------------------------------------------------
# q_kmv_set_ops — mergeable-sketch set algebra: union / intersection /
# Jaccard estimates from two KMV sketches, with exact ground truth
# ---------------------------------------------------------------------------
_SET_A = "1-URGENT"
_SET_B = "2-HIGH"


def _kmv_setops_oracle_sql() -> str:

    hv = sql_md5_int("CAST(o_custkey AS VARCHAR)", _KMV_NCHARS)
    return f"""
    WITH tagged AS (
      SELECT {hv} AS hv,
             MAX(CASE WHEN o_orderpriority = '{_SET_A}' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN o_orderpriority = '{_SET_B}' THEN 1 ELSE 0 END) AS in_b
      FROM orders
      WHERE o_orderpriority IN ('{_SET_A}', '{_SET_B}')
      GROUP BY o_custkey
    ), ranked AS (
      SELECT hv, in_a, in_b,
             ROW_NUMBER() OVER (ORDER BY hv) AS rk,
             COUNT(*) OVER () AS nh
      FROM tagged
    ), sk AS (
      SELECT MAX(nh) AS nh,
             MAX(CASE WHEN rk = {_KMV_K} THEN hv END) AS theta,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS k_both,
             COUNT(*) AS k_used
      FROM ranked WHERE rk <= {_KMV_K}
    ), ex AS (
      SELECT COUNT(*) AS exact_union,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS exact_inter
      FROM tagged
    )
    SELECT CAST(ex.exact_union AS BIGINT) AS exact_union,
           CAST(ex.exact_inter AS BIGINT) AS exact_inter,
           CASE WHEN sk.nh < {_KMV_K} THEN CAST(sk.nh AS DOUBLE)
                ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r} / CAST(sk.theta AS DOUBLE)
           END AS union_est,
           CAST(sk.k_both AS DOUBLE) / CAST(sk.k_used AS DOUBLE)
             AS jaccard_est,
           CAST(sk.k_both AS DOUBLE) / CAST(sk.k_used AS DOUBLE)
             * (CASE WHEN sk.nh < {_KMV_K} THEN CAST(sk.nh AS DOUBLE)
                     ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r}
                          / CAST(sk.theta AS DOUBLE) END)
             AS inter_est
    FROM sk CROSS JOIN ex
    """


@register("q_kmv_set_ops", oracle=_kmv_setops_oracle_sql())
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET ALGEBRA on KMV sketches: estimate
    |A ∪ B|, |A ∩ B| and Jaccard between the customer sets of two order
    priorities from the k={_KMV_K} smallest hashes of the union, next to
    their exact values. The merged sketch's sub-theta sample is a uniform
    sample of the union, so the fraction of sampled hashes present in
    BOTH sets estimates Jaccard, and intersection = jaccard · union — the
    mergeable algebra (Theta/Tuple sketches) that lets 100 TB segment-
    overlap questions run on kilobyte summaries.

    Exactness of the ESTIMATOR: hashes are the portable md5 BIGINTs,
    membership flags are MAX-aggregated bits, and the two final divisions
    are correctly-rounded IEEE ops on exact integers — the estimator (not
    just the truth) is engine-reproducible and oracle-checked."""

    orders = load_table(spark, sf_dir, "orders")
    tagged = (
        orders.filter(F.col("o_orderpriority").isin(_SET_A, _SET_B))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == _SET_A, 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("o_orderpriority") == _SET_B, 1).otherwise(0)
            ).alias("in_b"),
        )
        .select(
            md5_int(F.col("o_custkey").cast("string"), _KMV_NCHARS).alias("hv"),
            "in_a",
            "in_b",
        )
    )
    ranked = tagged.select(
        "hv",
        "in_a",
        "in_b",
        F.row_number().over(Window.orderBy("hv")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nh"),
    )
    sk = ranked.filter(F.col("rk") <= _KMV_K).agg(
        F.max("nh").alias("nh"),
        F.max(F.when(F.col("rk") == _KMV_K, F.col("hv"))).alias("theta"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("k_both"),
        F.count(F.lit(1)).alias("k_used"),
    )
    ex = tagged.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("exact_inter"),
    )
    union_est = F.when(F.col("nh") < _KMV_K, F.col("nh").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("theta").cast("double")
    )
    jacc = F.col("k_both").cast("double") / F.col("k_used").cast("double")
    return sk.crossJoin(ex).select(
        F.col("exact_union").cast("long").alias("exact_union"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
        union_est.alias("union_est"),
        jacc.alias("jaccard_est"),
        (jacc * union_est).alias("inter_est"),
    )


# ---------------------------------------------------------------------------
# q_watermark_lateness — event-time lateness profile vs arrival order
# ---------------------------------------------------------------------------
_ARRIVAL_BATCH = 1000
_ARRIVAL_JITTER = 2048  # md5-derived arrival displacement (network jitter)
_LATE_BUCKET_US = 60 * 1_000_000  # 1-minute lateness buckets


def _wm_oracle_sql() -> str:

    jitter = sql_md5_int("CAST(event_id AS VARCHAR)", 3)
    return f"""
    WITH arrived AS (
      SELECT ts, event_id + ({jitter} % {_ARRIVAL_JITTER}) AS arr
      FROM events
    ), batches AS (
      SELECT arr // {_ARRIVAL_BATCH} AS batch_id,
             MAX(epoch_us(ts)) AS batch_max_us
      FROM arrived GROUP BY 1
    ), hwm AS (
      SELECT batch_id,
             MAX(batch_max_us) OVER (ORDER BY batch_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prior_hwm_us
      FROM batches
    ), late AS (
      SELECT CASE WHEN h.prior_hwm_us IS NULL
                    OR h.prior_hwm_us <= epoch_us(e.ts) THEN 0
                  ELSE (h.prior_hwm_us - epoch_us(e.ts)) // {_LATE_BUCKET_US}
             END AS late_bucket_min
      FROM arrived e
      JOIN hwm h ON e.arr // {_ARRIVAL_BATCH} = h.batch_id
    )
    SELECT CAST(late_bucket_min AS BIGINT) AS late_bucket_min,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM late
    GROUP BY late_bucket_min
    """


@register("q_watermark_lateness", oracle=_wm_oracle_sql())
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late does event-time data actually arrive? Arrival order is
    the ingest sequence displaced by a deterministic md5-derived jitter
    of up to {_ARRIVAL_JITTER} positions (the testdata generator emits
    events perfectly time-ordered — real ingest never does; the jitter
    models multi-source interleaving reproducibly). Per arrival batch
    (arrival DIV {_ARRIVAL_BATCH}), take the event-time high-water mark
    of all PRIOR batches; an event's lateness is how far its timestamp
    sits behind that mark, bucketed in minutes.
    This histogram is precisely the evidence for choosing a Structured
    Streaming ``withWatermark`` delay: the bucket where the tail mass
    vanishes is the delay that bounds state without dropping data
    (streaming/ingest.py consumes exactly such a delay).

    Scale: the running high-water mark is computed over the BATCH table
    (|batches| rows — metadata), never a global window over raw events;
    events join their batch's mark by batch id (broadcast). One fact
    shuffle total, for the final histogram aggregate."""

    ev = load_table(spark, sf_dir, "events").select(
        (
            F.col("event_id")
            + md5_int(F.col("event_id").cast("string"), 3) % _ARRIVAL_JITTER
        ).alias("arr"),
        F.unix_micros("ts").alias("ts_us"),
    )
    batches = ev.groupBy(
        F.expr(f"arr DIV {_ARRIVAL_BATCH}").alias("batch_id")
    ).agg(F.max("ts_us").alias("batch_max_us"))
    w = (
        Window.orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = batches.select(
        "batch_id", F.max("batch_max_us").over(w).alias("prior_hwm_us")
    )
    late = ev.join(
        F.broadcast(hwm),
        F.expr(f"arr DIV {_ARRIVAL_BATCH}") == F.col("batch_id"),
    ).select(
        F.when(
            F.col("prior_hwm_us").isNull()
            | (F.col("prior_hwm_us") <= F.col("ts_us")),
            0,
        )
        .otherwise(
            ((F.col("prior_hwm_us") - F.col("ts_us")) / _LATE_BUCKET_US).cast(
                "long"
            )
        )
        .alias("late_bucket_min")
    )
    return late.groupBy("late_bucket_min").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    ).select(F.col("late_bucket_min").cast("long"), "n_events")


# ---------------------------------------------------------------------------
# q_zorder_layout — Z-order vs linear clustering, measured by zone-map prune
# ---------------------------------------------------------------------------
_Z_BITS = 12  # 12 bits per dimension -> 24-bit morton space
_Z_DIM = 1 << _Z_BITS
_Z_FILE = 4096  # codes per simulated file
_Z_EPOCH = "1992-01-01"
# probe: a 1/16 slice of the customer-key dimension
_Z_PROBE_LO, _Z_PROBE_HI = 1024, 1280


def _morton_sql(x: str, y: str, div: str) -> str:
    """Bit-interleave two {_Z_BITS}-bit ints using only integer div/mod —
    the same literal arithmetic renders into Spark (div='DIV') and DuckDB
    (div='//'), so both engines assign every row the identical code."""
    terms = []
    for b in range(_Z_BITS):
        p2, p4 = 1 << b, 1 << (2 * b)
        terms.append(f"((({x}) {div} {p2}) % 2) * {p4}")
        terms.append(f"((({y}) {div} {p2}) % 2) * {2 * p4}")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    x = f"(o_custkey % {_Z_DIM})"
    y = f"(datediff('day', DATE '{_Z_EPOCH}', CAST(o_orderdate AS DATE)) % {_Z_DIM})"
    morton = _morton_sql(x, y, "//")
    linear = f"({y} * {_Z_DIM} + {x})"
    return f"""
    WITH keys AS (
      SELECT {x} AS x, {morton} AS zkey, {linear} AS lkey FROM orders
    ),
    zfiles AS (
      SELECT zkey // {_Z_FILE} AS f, COUNT(*) AS n,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM keys GROUP BY f
    ),
    lfiles AS (
      SELECT lkey // {_Z_FILE} AS f, COUNT(*) AS n,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM keys GROUP BY f
    ),
    z AS (
      SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) FILTER (WHERE min_x < {_Z_PROBE_HI}
                                     AND max_x >= {_Z_PROBE_LO}) AS BIGINT)
               AS n_files_kept
      FROM zfiles
    ),
    l AS (
      SELECT 'linear' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) FILTER (WHERE min_x < {_Z_PROBE_HI}
                                     AND max_x >= {_Z_PROBE_LO}) AS BIGINT)
               AS n_files_kept
      FROM lfiles
    )
    SELECT layout, n_files, n_rows, n_files_kept,
           CAST(n_files_kept AS DOUBLE) / n_files AS keep_rate
    FROM (SELECT * FROM z UNION ALL SELECT * FROM l)
    """


@register("q_zorder_layout", oracle=_zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering vs a date-linear layout, graded by the
    zone-map prune rate each layout buys for a customer-key range probe —
    the decision query behind ``OPTIMIZE ... ZORDER BY`` (Delta) /
    ``rewrite_data_files(sort_order => zorder(...))`` (Iceberg): interleave
    the bits of (custkey bucket, orderdate bucket), simulate key-range
    files, and count how many files a 1/16 custkey slice must read under
    each layout. On the linear layout every date-file spans the whole
    custkey domain (keep_rate ~1.0 — zero pruning); under Z-order each
    file covers a 2-D tile so ~1/16 of files survive the probe — the
    quantified argument for re-clustering.

    The morton code is pure integer div/mod arithmetic (
    _morton_sql — identical literals in both engines, stays in
    whole-stage codegen); the production write is
    ``repartitionByRange(F.expr(morton))`` + sortWithinPartitions, which
    this query deliberately does NOT execute — it measures the layout's
    value from per-file min/max stats alone: two hash aggregates on
    constant-bounded file ids (≤{_Z_DIM}²/{_Z_FILE} groups) and two scalar
    rollups, no sort, no shuffle wider than the file-id aggregate.
    keep_rate is ONE BIGINT division (registry float rules)."""
    orders = load_table(spark, sf_dir, "orders")
    x = f"(o_custkey % {_Z_DIM})"
    y = (
        f"(datediff(o_orderdate, DATE '{_Z_EPOCH}') % {_Z_DIM})"
    )
    keys = orders.select(
        F.expr(x).alias("x"),
        F.expr(_morton_sql(x, y, "DIV")).alias("zkey"),
        F.expr(f"({y} * {_Z_DIM} + {x})").alias("lkey"),
    )

    def files(key: str) -> DataFrame:
        return keys.groupBy(
            F.expr(f"{key} DIV {_Z_FILE}").alias("f")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
        )

    def summary(fdf: DataFrame, layout: str) -> DataFrame:
        kept = F.count_if(
            (F.col("min_x") < _Z_PROBE_HI) & (F.col("max_x") >= _Z_PROBE_LO)
        )
        return fdf.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n").cast("long").alias("n_rows"),
            kept.alias("n_files_kept"),
            (kept.cast("double") / F.count(F.lit(1))).alias("keep_rate"),
        ).select(F.lit(layout).alias("layout"), "*")

    return summary(files("zkey"), "zorder").unionByName(
        summary(files("lkey"), "linear")
    )


# ---------------------------------------------------------------------------
# q_hilbert_layout — Hilbert-curve clustering vs Z-order, same zone-map grade
# ---------------------------------------------------------------------------
# Deliberately DENSER grid than the Z-order query: the two curves only
# differ where files cross curve-block boundaries, and on a mostly-empty
# 2^24 key space every file's x-span is sampling noise. 64x64 cells with
# the order corpus populates every cell; 300 codes per file is a
# row-count-bound file (the production reality) that never aligns to a
# power-of-4 Hilbert/Morton block.
_H_BITS = 6
_H_DIM = 1 << _H_BITS
_H_FILE = 300
_H_PROBE_LO, _H_PROBE_HI = 16, 24  # a 1/8 custkey-dimension slice


def _hilbert_level(s: int, div: str) -> tuple[str, str, str]:
    """One unrolled level of the classic xy2d Hilbert walk (bit test via
    div/mod, quadrant via a CASE ladder, the conditional reflect+swap
    rotation) — identical literal arithmetic for Spark (div='DIV') and
    DuckDB (div='//'). Validated cell-for-cell against the canonical
    bitwise implementation (tests/test_round6_ops.py)."""
    n1 = _H_DIM - 1
    rx = f"((x {div} {s}) % 2)"
    ry = f"((y {div} {s}) % 2)"
    quad = (
        f"CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
        f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END"
    )
    d_new = f"d + {s * s} * ({quad})"
    x_new = (
        f"CASE WHEN {ry} = 1 THEN x "
        f"WHEN {rx} = 1 THEN {n1} - y ELSE y END"
    )
    y_new = (
        f"CASE WHEN {ry} = 1 THEN y "
        f"WHEN {rx} = 1 THEN {n1} - x ELSE x END"
    )
    return x_new, y_new, d_new


def _hilbert_oracle() -> str:
    x0 = f"(o_custkey % {_H_DIM})"
    y0 = f"(datediff('day', DATE '{_Z_EPOCH}', CAST(o_orderdate AS DATE)) % {_H_DIM})"
    # _morton_sql interleaves _Z_BITS bit pairs; with 6-bit inputs the
    # high terms are zero, so it serves unmodified
    morton = _morton_sql(x0, y0, "//")
    ctes = [
        f"h0 AS (SELECT {x0} AS px, {x0} AS x, {y0} AS y, 0 AS d, "
        f"{morton} AS zkey FROM orders)"
    ]
    lvl = 0
    s = _H_DIM // 2
    while s > 0:
        xn, yn, dn = _hilbert_level(s, "//")
        ctes.append(
            f"h{lvl + 1} AS (SELECT px, {xn} AS x, {yn} AS y, {dn} AS d, "
            f"zkey FROM h{lvl})"
        )
        lvl += 1
        s //= 2
    grade = """
    {name}files AS (
      SELECT {key} // {fsz} AS f, COUNT(*) AS n,
             MIN(px) AS min_x, MAX(px) AS max_x
      FROM h{last} GROUP BY f
    ),
    {name} AS (
      SELECT '{label}' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) FILTER (WHERE min_x < {hi}
                                     AND max_x >= {lo}) AS BIGINT)
               AS n_files_kept
      FROM {name}files
    )"""
    parts = [
        grade.format(
            name=nm, key=key, label=lbl, last=lvl,
            fsz=_H_FILE, lo=_H_PROBE_LO, hi=_H_PROBE_HI,
        )
        for nm, key, lbl in (("hf", "d", "hilbert"), ("zf", "zkey", "zorder"))
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + ","
        + ",".join(parts)
        + """
    SELECT layout, n_files, n_rows, n_files_kept,
           CAST(n_files_kept AS DOUBLE) / n_files AS keep_rate
    FROM (SELECT * FROM hf UNION ALL SELECT * FROM zf)
    """
    )


@register("q_hilbert_layout", oracle=_hilbert_oracle())
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering vs Z-order, graded by the SAME zone-map
    prune harness as q_zorder_layout (file = key-range bucket, probe = a
    custkey slice) — the layout decision production table formats weigh
    (Iceberg's hilbert sort order / liquid clustering vs Delta ZORDER):
    every Hilbert step is distance 1 where Morton periodically jumps
    across the plane, so row-count-bound files that cross curve-block
    boundaries span tighter x-ranges and the probe keeps fewer of them
    (measured here: ~0.36 vs ~0.64 keep rate on the dense grid).

    The encoder is the canonical xy2d walk unrolled into {b} levels of
    pure div/mod/CASE integer arithmetic — the same rendered literals in
    both engines, all inside whole-stage codegen (no UDF, no loop: the
    'iteration' is {b} chained projections). Grading is two hash
    aggregates over constant-bounded file ids, identical to the Z-order
    grade; keep_rate is ONE BIGINT division."""
    orders = load_table(spark, sf_dir, "orders")
    x0 = f"(o_custkey % {_H_DIM})"
    y0 = f"(datediff(o_orderdate, DATE '{_Z_EPOCH}') % {_H_DIM})"
    df = orders.selectExpr(
        f"{x0} AS px",
        f"{x0} AS x",
        f"{y0} AS y",
        "0 AS d",
        f"{_morton_sql(x0, y0, 'DIV')} AS zkey",
    )
    s = _H_DIM // 2
    while s > 0:
        xn, yn, dn = _hilbert_level(s, "DIV")
        df = df.selectExpr(
            "px", f"{xn} AS x", f"{yn} AS y", f"{dn} AS d", "zkey"
        )
        s //= 2

    def grade(key: str, label: str) -> DataFrame:
        fdf = df.groupBy(F.expr(f"{key} DIV {_H_FILE}").alias("f")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("px").alias("min_x"),
            F.max("px").alias("max_x"),
        )
        kept = F.count_if(
            (F.col("min_x") < _H_PROBE_HI) & (F.col("max_x") >= _H_PROBE_LO)
        )
        return fdf.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n").cast("long").alias("n_rows"),
            kept.alias("n_files_kept"),
            (kept.cast("double") / F.count(F.lit(1))).alias("keep_rate"),
        ).select(F.lit(label).alias("layout"), "*")

    return grade("d", "hilbert").unionByName(grade("zkey", "zorder"))


q_hilbert_layout.__doc__ = q_hilbert_layout.__doc__.format(b=_H_BITS)
