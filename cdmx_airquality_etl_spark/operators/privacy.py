"""Privacy / re-identification governance batch: k-anonymity audit,
l-diversity, suppression planning, and the generalization ladder.

Lineage: extends the PII surface (q_pii_scrub redacts direct identifiers,
textstats.py) to QUASI-identifiers — the combinations of innocuous
attributes (segment × nation here) that re-identify individuals when a
group is small. A training-data pipeline runs exactly these audits before
releasing tabular metadata or user-derived aggregates; they are
group-size arithmetic, so they distribute as plain hash aggregates.

Determinism: everything is exact integer group counting; the only
divisions are final exact-count ratios."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import md5_int, sql_md5_int
from ..registry import register
from ..sources.parquet import load_table

_K_ANON = 5
_L_DIV = 3
_BAL_BAND = 2000  # sensitive-attribute banding for l-diversity


# ---------------------------------------------------------------------------
# q_k_anonymity — quasi-identifier group sizes vs the k threshold
# ---------------------------------------------------------------------------
@register(
    "q_k_anonymity",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) >= {_K_ANON} AS is_k_anonymous
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (market segment,
    nation): any equivalence class smaller than k = {k} re-identifies its
    members through attribute linkage alone. One hash aggregate on the QI
    — the audit costs one scan at any corpus size, and the output is
    bounded by the QI domain, not the record count."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) >= _K_ANON).alias("is_k_anonymous"),
    )


q_k_anonymity.__doc__ = q_k_anonymity.__doc__.format(k=_K_ANON)


# ---------------------------------------------------------------------------
# q_l_diversity — sensitive-value diversity inside each QI group
# ---------------------------------------------------------------------------
@register(
    "q_l_diversity",
    oracle=f"""
    WITH banded AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / {_BAL_BAND}) AS BIGINT) AS bal_band
      FROM customer
    )
    SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS n_sensitive,
           COUNT(DISTINCT bal_band) >= {_L_DIV} AS is_l_diverse
    FROM banded
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: a k-anonymous group still leaks if every member
    shares the SENSITIVE value (here the account-balance band) — an
    attacker who locates the group learns the attribute without
    identifying anyone. Requires ≥ l = {l} distinct sensitive values per
    QI group. COUNT(DISTINCT band) per group — one aggregate with
    bounded per-group state (bands are few)."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / _BAL_BAND).cast("bigint")
    return (
        cust.select("c_mktsegment", "c_nationkey", band.alias("bal_band"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("bal_band").alias("n_sensitive"),
            (F.countDistinct("bal_band") >= _L_DIV).alias("is_l_diverse"),
        )
    )


q_l_diversity.__doc__ = q_l_diversity.__doc__.format(l=_L_DIV)


# ---------------------------------------------------------------------------
# q_suppression_plan — records lost to reach k-anonymity by suppression
# ---------------------------------------------------------------------------
@register(
    "q_suppression_plan",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment,
           CAST(SUM(n) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT) AS n_suppressed,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
           CAST(CAST(SUM(CASE WHEN n >= {_K_ANON} THEN n ELSE 0 END) AS DOUBLE)
                / CAST(SUM(n) AS DOUBLE) AS DOUBLE) AS retention_rate
    FROM g GROUP BY c_mktsegment
    """,
)
def q_suppression_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression cost model: to reach k-anonymity by deletion alone,
    every record in a below-k group must go. Per segment: records,
    records suppressed, violating group count, and the retention rate —
    the number a release decision weighs against the generalization
    ladder's alternative. Two nested aggregates over the QI grain."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    small = F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(0)
    kept = F.when(F.col("n") >= _K_ANON, F.col("n")).otherwise(0)
    return g.groupBy("c_mktsegment").agg(
        F.sum("n").alias("n_records"),
        F.sum(small).alias("n_suppressed"),
        F.sum(F.when(F.col("n") < _K_ANON, 1).otherwise(0)).alias("n_small_groups"),
        (F.sum(kept).cast("double") / F.sum("n").cast("double")).alias("retention_rate"),
    )


# ---------------------------------------------------------------------------
# q_generalization_ladder — anonymity at successive QI coarsenings
# ---------------------------------------------------------------------------
@register(
    "q_generalization_ladder",
    oracle=f"""
    WITH joined AS (
      SELECT c_mktsegment, c_nationkey, n_regionkey
      FROM customer JOIN nation ON n_nationkey = c_nationkey
    ),
    l0 AS (
      SELECT 0 AS level, c_mktsegment AS qi1, CAST(c_nationkey AS BIGINT) AS qi2, COUNT(*) AS n
      FROM joined GROUP BY c_mktsegment, c_nationkey
    ),
    l1 AS (
      SELECT 1 AS level, c_mktsegment AS qi1, CAST(n_regionkey AS BIGINT) AS qi2, COUNT(*) AS n
      FROM joined GROUP BY c_mktsegment, n_regionkey
    ),
    l2 AS (
      SELECT 2 AS level, c_mktsegment AS qi1, CAST(-1 AS BIGINT) AS qi2, COUNT(*) AS n
      FROM joined GROUP BY c_mktsegment
    ),
    al AS (
      SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2
    )
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT) AS n_records_at_risk
    FROM al GROUP BY level
    """,
)
def q_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalization ladder: k-anonymity re-evaluated as the nation
    quasi-identifier coarsens (level 0 = nation, 1 = region, 2 = dropped)
    — each rung trades attribute precision for larger, safer groups. The
    audit shows where violations vanish, i.e. the minimal generalization
    that avoids suppression. Three aggregates over successively coarser
    keys (Spark computes them as one scan + three cheap shuffles; the
    rollup lattice shares the base join)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    l0 = joined.groupBy(
        F.col("c_mktsegment").alias("qi1"), F.col("c_nationkey").cast("bigint").alias("qi2")
    ).agg(F.count(F.lit(1)).alias("n")).withColumn("level", F.lit(0))
    l1 = joined.groupBy(
        F.col("c_mktsegment").alias("qi1"), F.col("n_regionkey").cast("bigint").alias("qi2")
    ).agg(F.count(F.lit(1)).alias("n")).withColumn("level", F.lit(1))
    l2 = joined.groupBy(F.col("c_mktsegment").alias("qi1")).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("qi2", F.lit(-1).cast("bigint")).withColumn("level", F.lit(2))
    al = l0.unionByName(l1).unionByName(l2.select(l0.columns))
    return al.groupBy(F.col("level").cast("bigint").alias("level")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n") < _K_ANON, 1).otherwise(0)).alias("n_violating"),
        F.sum(F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(0)).alias("n_records_at_risk"),
    )


# ---------------------------------------------------------------------------
# q_t_closeness — sensitive-distribution distance per QI group
# ---------------------------------------------------------------------------
_T_CLOSE = 0.2  # max allowed total-variation distance from the global mix


@register(
    "q_t_closeness",
    oracle=f"""
    WITH a AS (
      SELECT c_nationkey AS g, c_mktsegment AS s, CAST(COUNT(*) AS BIGINT) AS a
      FROM customer GROUP BY 1, 2
    ),
    ng AS (
      SELECT c_nationkey AS g, CAST(COUNT(*) AS BIGINT) AS n_g
      FROM customer GROUP BY 1
    ),
    b AS (
      SELECT c_mktsegment AS s, CAST(COUNT(*) AS BIGINT) AS b
      FROM customer GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
    cells AS (
      SELECT ng.g, ng.n_g, tot.n,
             abs(COALESCE(a.a, 0) * tot.n - b.b * ng.n_g) AS num
      FROM ng CROSS JOIN b CROSS JOIN tot
      LEFT JOIN a ON a.g = ng.g AND a.s = b.s
    )
    SELECT g AS c_nationkey,
           n_g AS group_size,
           CAST(SUM(num) AS DOUBLE) / (2.0 * n_g * n) AS t_distance,
           CAST(CASE WHEN CAST(SUM(num) AS DOUBLE) / (2.0 * n_g * n)
                          <= {_T_CLOSE} THEN 1 ELSE 0 END AS BIGINT)
             AS within_t
    FROM cells
    GROUP BY g, n_g, n
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the member k-anonymity and l-diversity miss: a
    group can be large (k) and diverse (l) while its SENSITIVE-value mix
    still leaks (90% of one nation in one segment reveals the segment for
    that nation's members). Distance is total variation between each QI
    group's segment distribution and the global one, computed on the
    common denominator n_g·N so the summed numerator |a·N − b·n_g| is an
    exact integer — the one division (and the t compare) happens once per
    group on exact operands, identical in both engines (the weighted-
    median/q_mixing_weights determinism discipline). Plan: two QI-grain
    hash aggregates plus bounded |nations|x|segments| grid joins — the
    numerator would need DECIMAL sums past ~10^9 rows-per-side scale, a
    one-line change. The t-closeness of Li et al. (ICDE'07) with equal
    ground distance (categorical TV form)."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.groupBy(
        F.col("c_nationkey").alias("g"), F.col("c_mktsegment").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("a"))
    ng = cust.groupBy(F.col("c_nationkey").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    b = cust.groupBy(F.col("c_mktsegment").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("b")
    )
    tot = cust.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = ng.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(tot))
    cells = grid.join(a, ["g", "s"], "left").select(
        "g",
        "n_g",
        "n",
        F.abs(
            F.coalesce(F.col("a"), F.lit(0)) * F.col("n")
            - F.col("b") * F.col("n_g")
        ).alias("num"),
    )
    return cells.groupBy("g", "n_g", "n").agg(
        F.sum("num").alias("__sn")
    ).select(
        F.col("g").alias("c_nationkey"),
        F.col("n_g").alias("group_size"),
        (F.col("__sn").cast("double") / (F.lit(2.0) * F.col("n_g") * F.col("n"))).alias(
            "t_distance"
        ),
        F.when(
            F.col("__sn").cast("double") / (F.lit(2.0) * F.col("n_g") * F.col("n"))
            <= F.lit(_T_CLOSE),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("within_t"),
    )


# ---------------------------------------------------------------------------
# q_dp_histogram — ε-DP count release via the discrete geometric mechanism
# ---------------------------------------------------------------------------
_DP_EPS = 1.0  # privacy budget; sensitivity of a count histogram is 1
_DP_TAIL = 16  # noise support clamp: ±16 carries all but ~2e-7 of the mass


def _geom_cum() -> list[float]:
    """Cumulative P(N ≤ k) for the two-sided geometric ('discrete
    Laplace') distribution P(N = k) ∝ α^|k| with α = e^-ε — the
    universally utility-maximizing ε-DP mechanism for integer counts
    (Ghosh–Roughgarden–Sundararajan 2009). Computed once in Python and
    rendered as the SAME literal thresholds into both engines, exactly
    like the q_bootstrap_ci Poisson table — so the 'draw' is a CASE
    ladder, not libm on data-dependent values."""
    import math

    a = math.exp(-_DP_EPS)
    ks = range(-_DP_TAIL, _DP_TAIL + 1)
    mass = [a ** abs(k) for k in ks]
    tot = sum(mass)
    cum, acc = [], 0.0
    for m in mass:
        acc += m / tot
        cum.append(acc)
    return cum


_DP_CUM = _geom_cum()
# The uniform draw behind each released count: 32 bits of md5 over 2^32.
_DP_DRAW_SQL = sql_md5_int("'dp:' || event_type", 8) + " / 4294967296.0"


def _dp_noise_sql(u: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {u} <= {c!r} THEN {k - _DP_TAIL}"
            for k, c in enumerate(_DP_CUM[:-1])
        )
        + f" ELSE {_DP_TAIL} END"
    )


@register(
    "q_dp_histogram",
    oracle=f"""
    WITH raw AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM events GROUP BY event_type
    ),
    noised AS (
      SELECT event_type, n_raw,
             {_dp_noise_sql(_DP_DRAW_SQL)} AS dp_noise
      FROM raw
    )
    SELECT event_type, n_raw, CAST(dp_noise AS BIGINT) AS dp_noise,
           CAST(greatest(n_raw + dp_noise, 0) AS BIGINT) AS n_released
    FROM noised
    """,
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private histogram release (ε = {eps}): exact
    per-type counts plus two-sided geometric noise — the discrete-Laplace
    mechanism that is provably optimal for integer counts — clamped at
    zero for publication. Completes the governance ladder: k-anonymity /
    l-diversity / t-closeness AUDIT a release; this one actually
    PERTURBS it. (n_raw rides along only because this is a correctness
    artifact — a real release would drop it.)

    Scale shape: the noise is applied AFTER the hash aggregate, on
    |distinct event_type| rows — the 100 TB cost is the count scan, which
    partial-aggregates map-side. Determinism: the 'draw' is the inverse
    CDF of a 32-bit md5-slice uniform through a rendered literal CASE
    ladder (the q_bootstrap_ci convention) — no PRNG, no libm on
    data-dependent values; re-runs and both engines are byte-identical.
    A seeded draw is of course not cryptographic DP — it stands in for
    the sampler so the MECHANISM's plumbing (sensitivity-1 counts, α =
    e^-ε ladder, post-processing clamp) is what's under test."""
    raw = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    )
    u = (
        md5_int(F.concat(F.lit("dp:"), F.col("event_type")), 8)
        / F.lit(4294967296.0)
    )
    noise = F.lit(_DP_TAIL)
    for k in reversed(range(len(_DP_CUM) - 1)):
        noise = F.when(u <= F.lit(_DP_CUM[k]), F.lit(k - _DP_TAIL)).otherwise(noise)
    return raw.select(
        "event_type",
        "n_raw",
        noise.cast("long").alias("dp_noise"),
        F.greatest(F.col("n_raw") + noise, F.lit(0)).cast("long").alias("n_released"),
    )


q_dp_histogram.__doc__ = q_dp_histogram.__doc__.format(eps=_DP_EPS)


# ---------------------------------------------------------------------------
# q_deletion_impact — erasure-request blast radius across the star schema
# ---------------------------------------------------------------------------
_DEL_MOD = 97  # deterministic pseudo-request: subjects with key % 97 == 7
_DEL_REM = 7


@register(
    "q_deletion_impact",
    oracle=f"""
    WITH subjects AS (
      SELECT c_custkey AS k FROM customer
      WHERE c_custkey % {_DEL_MOD} = {_DEL_REM}
    ),
    ev AS (
      SELECT 'events' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_affected
      FROM events WHERE user_id IN (SELECT k FROM subjects)
    ),
    od AS (
      SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_affected
      FROM orders WHERE o_custkey IN (SELECT k FROM subjects)
    ),
    li AS (
      SELECT 'lineitem' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_affected
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey IN (SELECT k FROM subjects)
    ),
    cu AS (
      SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_affected
      FROM subjects
    )
    SELECT table_name, rows_affected
    FROM (SELECT * FROM cu UNION ALL SELECT * FROM ev
          UNION ALL SELECT * FROM od UNION ALL SELECT * FROM li)
    """,
)
def q_deletion_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-request blast radius (the GDPR right-to-be-forgotten
    planning query): given a deterministic subject set (custkey ≡
    {r} mod {m}), count the rows each table of the star schema would
    lose — directly keyed rows (customer, orders, events) and the
    FK-cascaded ones (lineitem via its order). The audit a deletion job
    runs BEFORE rewriting files, because the row counts decide between
    per-file rewrite and copy-on-write strategies.

    Scale shape: the subject set broadcasts (pushed modulo filter on the
    dimension); every count is a broadcast semi-join + scalar aggregate,
    and the lineitem cascade reuses the orders join the warehouse
    already shuffles by order key. Exact BIGINT counts only."""
    cust = load_table(spark, sf_dir, "customer")
    subjects = cust.filter(
        F.col("c_custkey") % _DEL_MOD == _DEL_REM
    ).select(F.col("c_custkey").alias("k"))
    ev = load_table(spark, sf_dir, "events").join(
        F.broadcast(subjects), F.col("user_id") == F.col("k"), "left_semi"
    )
    orders = load_table(spark, sf_dir, "orders")
    od = orders.join(
        F.broadcast(subjects), F.col("o_custkey") == F.col("k"), "left_semi"
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        od.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )

    def counted(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("rows_affected")).select(
            F.lit(name).alias("table_name"), "rows_affected"
        )

    return (
        counted(subjects, "customer")
        .unionByName(counted(ev, "events"))
        .unionByName(counted(od, "orders"))
        .unionByName(counted(li, "lineitem"))
    )


q_deletion_impact.__doc__ = q_deletion_impact.__doc__.format(
    r=_DEL_REM, m=_DEL_MOD
)
