"""Spatial-grid batch: cell-bucketed radius joins, neighborhood density,
and grid-bounded nearest neighbors over a derived 2-D point set.

Lineage: the reference's stations live on a city map (SURVEY §1 —
monitoring sites are geographic); the corpus carries no coordinates, so
points derive deterministically from customer keys (the q_null_safe_join
convention of derived columns) — the OPERATORS are the point, and they are
exactly the geohash/S2-cell discipline a 100 TB spatial join needs: bucket
points into grid cells, join only the 3×3 cell neighborhood, and verify
with exact arithmetic inside the bounded candidate set. No trigonometry
enters any compared value (haversine's sin/cos are not correctly-rounded
across libms — the planar distance² form is exact integer math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import md5_int, sql_md5_int
from ..registry import register
from ..sources.parquet import load_table

_GRID = 10000  # coordinate domain [0, GRID)
_CELL = 250  # cell width; radius search is bounded by one cell
_RADIUS2 = 200 * 200  # squared radius for the pair join (< _CELL, so 3x3 covers)

# derived planar points: portable md5 hashing scatters keys uniformly (a
# multiplicative derivation forms a LATTICE whose minimum pair distance
# can exceed any radius — hashed coordinates behave like the random point
# sets spatial joins are built for)
_X_SRC = "'x|' || c_custkey"
_Y_SRC = "'y|' || c_custkey"
_X_EXPR = f"{sql_md5_int(_X_SRC, 12)} % {_GRID}"
_Y_EXPR = f"{sql_md5_int(_Y_SRC, 12)} % {_GRID}"
_SQL_POINTS = f"""
    pts AS (
      SELECT c_custkey AS id,
             CAST({_X_EXPR} AS BIGINT) AS x,
             CAST({_Y_EXPR} AS BIGINT) AS y,
             CAST(({_X_EXPR}) // {_CELL} AS BIGINT) AS cx,
             CAST(({_Y_EXPR}) // {_CELL} AS BIGINT) AS cy
      FROM customer
    )
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    x = md5_int(F.concat(F.lit("x|"), F.col("c_custkey").cast("string")), 12) % _GRID
    y = md5_int(F.concat(F.lit("y|"), F.col("c_custkey").cast("string")), 12) % _GRID
    return cust.select(
        F.col("c_custkey").alias("id"),
        x.alias("x"),
        y.alias("y"),
        F.floor(x / _CELL).cast("bigint").alias("cx"),
        F.floor(y / _CELL).cast("bigint").alias("cy"),
    )


def _explode_probes(df: DataFrame, *carry: str) -> DataFrame:
    """Explode each row into its 9 neighbor-cell PROBE keys: for every
    (dx, dy) in {-1,0,1}² emit a row keyed (pcx, pcy) = (cx+dx, cy+dy),
    carrying the named columns through. Joining probes to the cell-keyed
    side on (pcx = cx AND pcy = cy) EQUALITY replaces the pure-range 3×3
    BETWEEN predicate, so Catalyst hash-partitions both sides by cell id
    instead of falling back to BroadcastNestedLoopJoin — 9× row expansion
    on one side buys a shuffled equi-join whose cost is density-bounded
    per cell at any corpus size. Works at any grain that has (cx, cy):
    points (carry id/x/y) or cells (carry cx/cy/n)."""
    offsets = F.expr(
        "flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy))))"
    )
    off = F.explode(offsets).alias("off")
    keyed = list(carry) + [c for c in ("cx", "cy") if c not in carry]
    return df.select(*keyed, off).select(
        *carry,
        (F.col("cx") + F.col("off.dx")).alias("pcx"),
        (F.col("cy") + F.col("off.dy")).alias("pcy"),
    )


# ---------------------------------------------------------------------------
# q_spatial_grid_join — radius pairs via 3×3 cell-neighborhood join
# ---------------------------------------------------------------------------
@register(
    "q_spatial_grid_join",
    oracle=f"""
    WITH {_SQL_POINTS}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM pts a JOIN pts b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
     AND a.id < b.id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_RADIUS2}
    """,
)
def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join via grid bucketing: every pair within radius r
    lies in adjacent cells when the cell width exceeds r, so side A
    explodes into its 9 neighbor-cell probe keys and EQUI-joins side B on
    (cx, cy) — the plan is a shuffled hash/sort-merge join partitioned by
    cell id (no BroadcastNestedLoopJoin), candidate count density-bounded
    per cell, never corpus-quadratic (the geohash discipline; the spatial
    twin of the dedup batch's postings cap). Ordering and the distance
    test are post-join filters in exact integer arithmetic on the squared
    form — no sqrt, no trig. At 100 TB both sides hash-partition by cell
    id and each task sees only its neighborhood."""
    pts = _points(spark, sf_dir)
    a = _explode_probes(pts, "id", "x", "y").alias("a")
    b = pts.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    return (
        a.join(
            b,
            (F.col("a.pcx") == F.col("b.cx")) & (F.col("a.pcy") == F.col("b.cy")),
        )
        .filter((F.col("a.id") < F.col("b.id")) & (d2 <= _RADIUS2))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            d2.cast("bigint").alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# q_spatial_density — per-cell counts + 3×3 neighborhood density
# ---------------------------------------------------------------------------
@register(
    "q_spatial_density",
    oracle=f"""
    WITH {_SQL_POINTS},
    cells AS (
      SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY cx, cy
    )
    SELECT a.cx, a.cy, a.n,
           CAST(SUM(b.n) AS BIGINT) AS neighborhood_n
    FROM cells a JOIN cells b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
    GROUP BY a.cx, a.cy, a.n
    """,
)
def q_spatial_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid density map with a 3×3 box-sum (the discrete convolution
    hotspot detector): per-cell point counts, then each cell's
    neighborhood total — the querying cell explodes into its 9 neighbor
    probe keys and EQUI-joins the cell table on (cx, cy), so the plan
    hash-partitions by cell (same form as q_spatial_grid_join; a
    production grid scales with the domain, so the cell-grain join must
    not rely on the table staying broadcastable). Exact integer counts."""
    pts = _points(spark, sf_dir)
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    a = _explode_probes(cells, "cx", "cy", "n").alias("a")
    b = cells.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pcx") == F.col("b.cx")) & (F.col("a.pcy") == F.col("b.cy")),
        )
        .groupBy(F.col("a.cx").alias("cx"), F.col("a.cy").alias("cy"), F.col("a.n").alias("n"))
        .agg(F.sum("b.n").alias("neighborhood_n"))
    )


# ---------------------------------------------------------------------------
# q_spatial_nearest — grid-bounded nearest neighbor per point
# ---------------------------------------------------------------------------
@register(
    "q_spatial_nearest",
    oracle=f"""
    WITH {_SQL_POINTS},
    cand AS (
      SELECT a.id,
             b.id AS nn_id,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
             row_number() OVER (
               PARTITION BY a.id
               ORDER BY (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), b.id
             ) AS rn
      FROM pts a JOIN pts b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id
    )
    SELECT id, nn_id, CAST(d2 AS BIGINT) AS dist2
    FROM cand WHERE rn = 1
    """,
)
def q_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor per point, bounded to the 3×3 cell neighborhood —
    the approximate-NN contract every spatial index offers: exact within
    the neighborhood, and a point whose true NN lies further than one
    cell simply has no row (isolated points surface in the count, not as
    wrong answers). Argmin resolves by a per-point window over the
    bounded candidate set with (distance², id) total order. The spatial
    twin of q_knn_graph's bucket-bounded neighbors. The probe side
    explodes into its 9 neighbor-cell keys and EQUI-joins on (cx, cy) so
    the candidate join hash-partitions by cell (no
    BroadcastNestedLoopJoin); identity exclusion is a post-join filter."""
    pts = _points(spark, sf_dir)
    a = _explode_probes(pts, "id", "x", "y").alias("a")
    b = pts.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    cand = a.join(
        b,
        (F.col("a.pcx") == F.col("b.cx")) & (F.col("a.pcy") == F.col("b.cy")),
    ).filter(F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("id"),
        F.col("b.id").alias("nn_id"),
        d2.alias("d2"),
    )
    w = Window.partitionBy("id").orderBy("d2", "nn_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "nn_id", F.col("d2").cast("bigint").alias("dist2"))
    )


# ---------------------------------------------------------------------------
# q_spatial_dbscan — DBSCAN point classification on the hash grid
# ---------------------------------------------------------------------------
_MIN_PTS = 4  # core point: >= MIN_PTS neighbors within the radius


@register(
    "q_spatial_dbscan",
    oracle=f"""
    WITH {_SQL_POINTS},
    nbr AS (
      SELECT a.id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
      FROM pts a JOIN pts b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_RADIUS2}
      GROUP BY a.id
    ),
    graded AS (
      SELECT p.id, COALESCE(n.n_neighbors, 0) AS n_neighbors,
             COALESCE(n.n_neighbors, 0) >= {_MIN_PTS} AS is_core
      FROM pts p LEFT JOIN nbr n USING (id)
    ),
    border AS (
      SELECT DISTINCT g.id
      FROM graded g
      JOIN pts p ON p.id = g.id
      JOIN pts b
        ON b.cx BETWEEN p.cx - 1 AND p.cx + 1
       AND b.cy BETWEEN p.cy - 1 AND p.cy + 1
       AND b.id <> p.id
       AND (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y) <= {_RADIUS2}
      JOIN graded gb ON gb.id = b.id AND gb.is_core
      WHERE NOT g.is_core
    )
    SELECT g.id, g.n_neighbors,
           CASE WHEN g.is_core THEN 'core'
                WHEN br.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM graded g LEFT JOIN border br ON br.id = g.id
    """,
)
def q_spatial_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN's point classification (Ester et al. 1996): a point is
    CORE when ≥ {mp} neighbors lie within the radius, BORDER when it is
    not core but some core point covers it, NOISE otherwise. (The cluster
    labels themselves are connected components over core points — the
    q_dedup_clusters machinery; this query materializes the part DBSCAN
    adds on top of CC: the density grades.)

    Scale shape: both density passes are the SAME 9-cell probe-key
    equi-join as q_spatial_grid_join — hash-partitioned by cell id,
    density-bounded candidates, no nested-loop anywhere (gate-checked).
    Pass 1 counts radius-neighbors per point; pass 2 re-probes the grid
    joining only the NON-core points against the core flag. Exact integer
    distance arithmetic throughout, no sqrt."""
    pts = _points(spark, sf_dir)
    a = _explode_probes(pts, "id", "x", "y").alias("a")
    b = pts.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    nbr = (
        a.join(
            b,
            (F.col("a.pcx") == F.col("b.cx")) & (F.col("a.pcy") == F.col("b.cy")),
        )
        .filter((F.col("a.id") != F.col("b.id")) & (d2 <= _RADIUS2))
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
    )
    graded = (
        pts.join(nbr, "id", "left")
        .select(
            "id", "x", "y", "cx", "cy",
            F.coalesce(F.col("n_neighbors"), F.lit(0)).alias("n_neighbors"),
        )
        .withColumn("is_core", F.col("n_neighbors") >= _MIN_PTS)
    )
    noncore = graded.filter(~F.col("is_core"))
    core = graded.filter(F.col("is_core")).select(
        F.col("id").alias("core_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    nprobe = _explode_probes(noncore, "id", "x", "y").alias("n")
    cd2 = (F.col("n.x") - F.col("bx")) * (F.col("n.x") - F.col("bx")) + (
        F.col("n.y") - F.col("by")
    ) * (F.col("n.y") - F.col("by"))
    border_ids = (
        nprobe.join(
            core,
            (F.col("n.pcx") == F.col("bcx")) & (F.col("n.pcy") == F.col("bcy")),
        )
        .filter((F.col("n.id") != F.col("core_id")) & (cd2 <= _RADIUS2))
        .select(F.col("n.id").alias("bid"))
        .distinct()
    )
    return graded.join(
        border_ids, graded.id == border_ids.bid, "left"
    ).select(
        "id",
        "n_neighbors",
        F.when(F.col("is_core"), F.lit("core"))
        .when(F.col("bid").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
    )


q_spatial_dbscan.__doc__ = q_spatial_dbscan.__doc__.format(mp=_MIN_PTS)
