"""Shard-decomposed evaluation of q_lsh_planner's DuckDB oracle — for
scale factors where the one-shot oracle's intermediate exceeds the host.

The oracle (operators/dedup.py::_lsh_planner_oracle) is four aggregates
over `scored` = exact-Jaccard pairs at s >= 0.1, built from the exhaustive
per-shingle join. At sf3 that join groups ~1.07e9 candidate rows and the
four UNION'd SELECTs re-scan it: DuckDB's spill exceeded the sandbox disk
(the pinned SWEEP_r09_sf3_dedup.log FAIL). Every aggregate the oracle
needs, though, is an INTEGER sum/count over pairs — and the pair relation
partitions disjointly by (pmod(doc_id_a, G), pmod(doc_id_b, G)) — so this
tool runs the SAME oracle semantics as G*G shard-pair pieces, accumulates
the exact integer partials in Python, applies the oracle's final float
divisions once, and compares against the Spark result by EXACT sorted
tuple equality (stricter than check_oracle's float-tolerant
canonicalization — every value here is either a BIGINT partial or one
float division applied identically on both sides, so exactness is
attainable and demanded). No approximation anywhere: the per-piece SQL is
built from the SAME ``_SQL_SHINGLE_PAIR_CTES`` constant the committed
oracles use (injected, not copied — round-9 ADVICE: an inline copy could
silently validate stale shingle semantics) with two added shard
predicates, and integer addition is associative/commutative, so the
decomposition is mathematically identical to the one-shot query.  The
shard predicate uses the non-negative ``((doc_id % G) + G) % G`` form:
DuckDB's bare ``%`` keeps the dividend's sign, and a negative doc_id
would otherwise vanish from every piece — a silent undercount.

Usage: python tools/lsh_oracle_sharded.py [sf_dir] [--shards 4]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb  # noqa: E402

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from _ducklimits import apply_duck_limits  # noqa: E402

from cdmx_airquality_etl_spark.operators.dedup import (  # noqa: E402
    _JACCARD_THRESHOLD,
    _LSH_PLAN_CONFIGS,
    _LSH_PLAN_MIN_S,
    _SQL_FUZZY_JACCARD,
    _SQL_SHINGLE_PAIR_CTES,
    _pow2_chain_sql,
)
from cdmx_airquality_etl_spark.session import get_spark  # noqa: E402
from cdmx_airquality_etl_spark.sources.parquet import register_duck_view  # noqa: E402

# The injection point inside the shared CTE constant: the pairs CTE's
# GROUP BY, immediately after the self-join. If dedup.py's constant is
# ever restructured so this anchor text disappears, sharded_ctes() raises
# instead of silently validating divergent semantics.
_PAIRS_GROUP_BY = "GROUP BY 1, 2, 3, 4"


def sharded_ctes(i: int, j: int, g: int) -> str:
    """The committed oracle's own CTE chain with the two shard predicates
    injected into the pairs join — derived, never copied."""
    if _SQL_SHINGLE_PAIR_CTES.count(_PAIRS_GROUP_BY) != 1:
        raise RuntimeError(
            "dedup._SQL_SHINGLE_PAIR_CTES no longer contains the expected "
            f"pairs GROUP BY anchor ({_PAIRS_GROUP_BY!r}) exactly once — "
            "update lsh_oracle_sharded's injection point to match"
        )
    shard_where = (
        f"WHERE ((a.doc_id % {g}) + {g}) % {g} = {i} "
        f"AND ((b.doc_id % {g}) + {g}) % {g} = {j}\n      "
    )
    return _SQL_SHINGLE_PAIR_CTES.replace(
        _PAIRS_GROUP_BY, shard_where + _PAIRS_GROUP_BY
    )


def piece_sql(i: int, j: int, g: int) -> str:
    """One shard-pair piece: the oracle's CTE chain restricted to pairs
    with pmod(doc_id_a, g) = i and pmod(doc_id_b, g) = j, emitting the
    exact integer partials every config needs."""
    selects = []
    for b, r in _LSH_PLAN_CONFIGS:
        inner = _pow2_chain_sql("s", r.bit_length() - 1)
        p = f"(1.0 - {_pow2_chain_sql(f'(1.0 - {inner})', b.bit_length() - 1)})"
        pm = f"CAST(floor({p} * 1000000.0) AS BIGINT)"
        dup = f"s >= {_JACCARD_THRESHOLD}"
        selects.append(
            f"""
    SELECT {b} AS bands,
           CAST(COUNT(*) FILTER (WHERE {dup}) AS BIGINT) AS n_dup,
           CAST(COUNT(*) FILTER (WHERE NOT ({dup})) AS BIGINT) AS n_near,
           CAST(COALESCE(SUM({pm}) FILTER (WHERE {dup}), 0) AS BIGINT) AS pm_dup,
           CAST(COALESCE(SUM({pm}) FILTER (WHERE NOT ({dup})), 0) AS BIGINT)
             AS pm_near
    FROM scored"""
        )
    body = "\n    UNION ALL\n".join(selects)
    return rf"""
    WITH {sharded_ctes(i, j, g)},
    scored AS (
      SELECT {_SQL_FUZZY_JACCARD} AS s
      FROM pairs WHERE {_SQL_FUZZY_JACCARD} >= {_LSH_PLAN_MIN_S}
    )
    {body}
    """


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--shards", type=int, default=4)
    args = ap.parse_args()
    g = args.shards

    con = duckdb.connect()
    apply_duck_limits(con)
    register_duck_view(con, args.sf_dir, "documents")

    acc = {b: [0, 0, 0, 0] for b, _ in _LSH_PLAN_CONFIGS}
    t0 = time.time()
    for i in range(g):
        for j in range(g):
            t1 = time.time()
            for bands, n_dup, n_near, pm_dup, pm_near in con.sql(
                piece_sql(i, j, g)
            ).fetchall():
                a = acc[bands]
                a[0] += n_dup
                a[1] += n_near
                a[2] += pm_dup
                a[3] += pm_near
            print(
                f"piece ({i},{j}) done [{time.time()-t1:.1f}s]", flush=True
            )

    oracle_rows = []
    for b, r in _LSH_PLAN_CONFIGS:
        n_dup, n_near, pm_dup, pm_near = acc[b]
        # the one-shot oracle's SUM(...) FILTER over an empty side is NULL
        # and NULL / 0.0 is NULL in both engines — reproduce it exactly
        recall = float(pm_dup) / (n_dup * 1000000.0) if n_dup else None
        fp = float(pm_near) / (n_near * 1000000.0) if n_near else None
        oracle_rows.append((b, r, n_dup, n_near, recall, fp))
    print(f"oracle (sharded, {g}x{g} pieces, {time.time()-t0:.1f}s):")
    for row in oracle_rows:
        print("  ", row)

    spark = get_spark("lsh-sharded-oracle")
    from cdmx_airquality_etl_spark import QUERIES

    s_rows = [
        (
            r["bands"],
            r["rows_per_band"],
            r["n_dup_pairs"],
            r["n_near_pairs"],
            r["exp_recall"],
            r["exp_fp_rate"],
        )
        for r in QUERIES["q_lsh_planner"](spark, args.sf_dir).collect()
    ]
    print("spark:")
    for row in sorted(s_rows):
        print("  ", row)
    ok = sorted(s_rows) == sorted(oracle_rows)
    print("MATCH" if ok else "MISMATCH")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
