"""Shard-decomposed evaluation of the t = 0.5 anchor-family oracles
(fuzzy / weighted / source-matrix / text-clusters) — for scale factors
where the one-shot DuckDB oracles exceed the host (VERDICT r10 #5: the
sf10 decade for the rest of the anchor family).

Same decomposition argument as tools/lsh_oracle_sharded.py, one step
simpler: each oracle's expensive relation is the exhaustive per-shingle
self-join GROUPed to doc pairs, and doc pairs partition DISJOINTLY by
(pmod(doc_id_a, G), pmod(doc_id_b, G)).  Because the grouping keys
include both doc ids, every joined row of one pair lands in exactly one
piece — so a piece computes its pairs' aggregates COMPLETELY, not as
partials, and the per-piece threshold filter is exact.  Concatenating
the G×G piece outputs (or summing the matrix's COUNT(*) over disjoint
pair sets) is therefore mathematically identical to the one-shot query.
DuckDB pushes the per-side pmod predicates below the join, so piece
memory is ~1/G² of the one-shot GROUP BY hash — the thing that filled
the sandbox disk at sf3 (SWEEP_r09_sf3_dedup.log) and makes one-shot
sf10 unrunnable.

Derivation, never copy (round-9 ADVICE): each piece executes the
COMMITTED oracle text itself (registry.ORACLES[...]) with the two shard
predicates injected at the pair-join GROUP BY anchor — if the oracle is
restructured so the anchor text disappears, this tool raises instead of
silently validating divergent semantics:

- q_dedup_fuzzy        inject at the shared-CTE  "GROUP BY 1, 2, 3, 4"
- q_dup_source_matrix  inject at its             "GROUP BY 1, 2, 3, 4, 5, 6"
- q_dedup_weighted     inject at wshared's       "GROUP BY 1, 2\n"
                       (df / wtot / ndocs stay GLOBAL — the shard
                       predicate names only the wshared join's a/b doc
                       ids; the unused pairs CTE inherits the same
                       predicate purely defensively)
- q_dedup_text_clusters: the recursion cannot shard, but its oracle's p
  CTE is verbatim the fuzzy pair set — the closure tail of the
  committed oracle text runs ONE-SHOT over the sharded-verified pairs
  (the r9 sf3 precedent, SWEEP_r09_sf3_dedup.log), which is tiny.

Comparison is EXACT sorted-tuple equality (stricter than check_oracle's
float-tolerant canonicalization): every emitted value is either an
integer or ONE float division of exact integers applied identically on
both sides.  The shard predicate uses the non-negative
``((doc_id % G) + G) % G`` form — DuckDB's bare ``%`` keeps the
dividend's sign, and a negative doc_id would otherwise vanish from
every piece (a silent undercount).

Spark side: set SPARK_GRAFT_DRIVER_MEM=28g for sf3+ (the pinned sf10
protocol — BASELINE.md round 10: 0.25 GB/task is below real-cluster
provisioning and OOMs the verify stage's sort).

Usage: python tools/dedup_oracle_sharded.py [sf_dir] [--shards 6]
           [--queries fuzzy weighted matrix clusters]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

import duckdb  # noqa: E402

from _ducklimits import apply_duck_limits  # noqa: E402

from cdmx_airquality_etl_spark.registry import ORACLES, QUERIES  # noqa: E402
from cdmx_airquality_etl_spark.sources.parquet import register_duck_view  # noqa: E402


def _inject(text: str, anchor: str, where: str, count: int = 1) -> str:
    """Place ``where`` immediately before ``anchor``, which must occur
    exactly ``count`` times — the committed-oracle drift guard."""
    if text.count(anchor) != count:
        raise RuntimeError(
            f"oracle text contains {text.count(anchor)} × {anchor!r} "
            f"(expected {count}) — the injection anchor drifted; update "
            "dedup_oracle_sharded to match the committed oracle"
        )
    return text.replace(anchor, where + anchor)


def _shard_where(i: int, j: int, g: int) -> str:
    return (
        f"WHERE ((a.doc_id % {g}) + {g}) % {g} = {i} "
        f"AND ((b.doc_id % {g}) + {g}) % {g} = {j}\n      "
    )


def fuzzy_piece_sql(i: int, j: int, g: int) -> str:
    return _inject(
        ORACLES["q_dedup_fuzzy"], "GROUP BY 1, 2, 3, 4", _shard_where(i, j, g)
    )


def containment_piece_sql(i: int, j: int, g: int) -> str:
    # same pair-join shape as fuzzy (the containment oracle inlines the
    # shared CTE text with its own threshold), so the same anchor applies
    return _inject(
        ORACLES["q_dedup_containment"],
        "GROUP BY 1, 2, 3, 4",
        _shard_where(i, j, g),
    )


def matrix_piece_sql(i: int, j: int, g: int) -> str:
    # NOTE the 6-column anchor: the matrix oracle's pair join carries the
    # two source columns. "GROUP BY 1, 2, 3, 4" is a PREFIX of it, so the
    # 4-column anchor would also count 1 here — anchor on the full text.
    return _inject(
        ORACLES["q_dup_source_matrix"],
        "GROUP BY 1, 2, 3, 4, 5, 6",
        _shard_where(i, j, g),
    )


def weighted_piece_sql(i: int, j: int, g: int) -> str:
    text = _inject(
        ORACLES["q_dedup_weighted"], "GROUP BY 1, 2\n", _shard_where(i, j, g)
    )
    # the shared-CTE pairs relation is UNREFERENCED in the weighted
    # oracle (DuckDB prunes it); shard it anyway so a planner that did
    # evaluate it could never run the full join
    return _inject(text, "GROUP BY 1, 2, 3, 4", _shard_where(i, j, g))


def clusters_closure_sql() -> str:
    """The committed clusters oracle's closure tail, re-rooted on the
    sharded-verified pair table (columns va, vb)."""
    text = ORACLES["q_dedup_text_clusters"]
    anchor = "edges AS (SELECT va AS a"
    if text.count(anchor) != 1:
        raise RuntimeError(
            "q_dedup_text_clusters oracle no longer contains the closure "
            f"anchor {anchor!r} — update dedup_oracle_sharded to match"
        )
    tail = text[text.index(anchor):]
    return (
        "WITH RECURSIVE p AS (SELECT va, vb FROM verified_pairs),\n    "
        + tail
    )


def _run_sharded(con, name: str, piece_sql, g: int) -> list[tuple]:
    rows: list[tuple] = []
    t0 = time.time()
    for i in range(g):
        for j in range(g):
            t1 = time.time()
            rows.extend(con.sql(piece_sql(i, j, g)).fetchall())
            print(
                f"{name} piece ({i},{j}) done [{time.time()-t1:.1f}s, "
                f"{len(rows)} rows so far]",
                flush=True,
            )
    print(f"{name}: {len(rows)} oracle rows [{time.time()-t0:.1f}s total]")
    return rows


def _spark_rows(spark, q: str, sf_dir: str) -> list[tuple]:
    t0 = time.time()
    rows = [tuple(r) for r in QUERIES[q](spark, sf_dir).collect()]
    print(f"{q}: {len(rows)} spark rows [{time.time()-t0:.1f}s]")
    return rows


def _compare(name: str, oracle: list[tuple], spark: list[tuple]) -> bool:
    ok = sorted(oracle) == sorted(spark)
    print(f"{name}: {'MATCH' if ok else 'MISMATCH'} "
          f"(oracle {len(oracle)} rows, spark {len(spark)} rows)", flush=True)
    if not ok:
        o, s = set(oracle), set(spark)
        for r in sorted(o - s)[:5]:
            print(f"  only-oracle: {r}")
        for r in sorted(s - o)[:5]:
            print(f"  only-spark : {r}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--shards", type=int, default=6)
    ap.add_argument(
        "--queries",
        nargs="+",
        default=["fuzzy", "clusters", "matrix", "weighted", "containment"],
        choices=["fuzzy", "clusters", "matrix", "weighted", "containment"],
    )
    ap.add_argument(
        "--matrix-from-pairs",
        action="store_true",
        help="derive the source-matrix oracle from the shard-verified "
        "fuzzy pair set (one grouped join) instead of re-sharding the "
        "full shingle self-join — exact because the two oracles share "
        "pair semantics and threshold; requires fuzzy in --queries",
    )
    args = ap.parse_args()
    g = args.shards
    wanted = set(args.queries)
    if "clusters" in wanted:
        wanted.add("fuzzy")  # the closure runs over the verified pair set

    con = duckdb.connect()
    apply_duck_limits(con)
    register_duck_view(con, args.sf_dir, "documents")

    from cdmx_airquality_etl_spark.session import get_spark

    spark = get_spark("dedup-sharded-oracle")
    ok = True

    fuzzy_pairs: list[tuple] = []
    if "fuzzy" in wanted:
        fuzzy_pairs = _run_sharded(con, "q_dedup_fuzzy", fuzzy_piece_sql, g)
        ok &= _compare(
            "q_dedup_fuzzy",
            fuzzy_pairs,
            _spark_rows(spark, "q_dedup_fuzzy", args.sf_dir),
        )

    if "clusters" in wanted:
        con.sql("DROP TABLE IF EXISTS verified_pairs")
        con.sql("CREATE TEMP TABLE verified_pairs (va BIGINT, vb BIGINT)")
        con.executemany(
            "INSERT INTO verified_pairs VALUES (?, ?)",
            [(a, b) for a, b, _ in fuzzy_pairs],
        ) if fuzzy_pairs else None
        closure = con.sql(clusters_closure_sql()).fetchall()
        ok &= _compare(
            "q_dedup_text_clusters",
            closure,
            _spark_rows(spark, "q_dedup_text_clusters", args.sf_dir),
        )

    if "matrix" in wanted:
        if args.matrix_from_pairs and "fuzzy" in wanted:
            # Decomposition (the r9 clusters-closure precedent): the matrix
            # oracle's pairs CTE is the fuzzy pair join carrying source
            # columns along, and its threshold IS the fuzzy threshold — so
            # its qualifying pair set equals the shard-verified fuzzy pair
            # set, and the remaining work is one grouped join to
            # documents' sources. Avoids paying the full shingle self-join
            # a second time at scale factors where it costs hours.
            con.sql("DROP TABLE IF EXISTS vp_matrix")
            con.sql("CREATE TEMP TABLE vp_matrix (da BIGINT, db BIGINT)")
            if fuzzy_pairs:
                con.executemany(
                    "INSERT INTO vp_matrix VALUES (?, ?)",
                    [(a, b) for a, b, _ in fuzzy_pairs],
                )
            t0 = time.time()
            rows = con.sql(
                """
                SELECT LEAST(sa.source, sb.source) AS source_a,
                       GREATEST(sa.source, sb.source) AS source_b,
                       COUNT(*) AS n_dup_pairs
                FROM vp_matrix p
                JOIN documents sa ON sa.doc_id = p.da
                JOIN documents sb ON sb.doc_id = p.db
                GROUP BY 1, 2
                """
            ).fetchall()
            print(
                f"q_dup_source_matrix: {len(rows)} oracle rows from the "
                f"verified pair set [{time.time()-t0:.1f}s]"
            )
        else:
            acc: dict[tuple, int] = {}
            t0 = time.time()
            for i in range(g):
                for j in range(g):
                    t1 = time.time()
                    for sa, sb, n in con.sql(
                        matrix_piece_sql(i, j, g)
                    ).fetchall():
                        acc[(sa, sb)] = acc.get((sa, sb), 0) + n
                    print(
                        f"q_dup_source_matrix piece ({i},{j}) done "
                        f"[{time.time()-t1:.1f}s]",
                        flush=True,
                    )
            rows = [(sa, sb, n) for (sa, sb), n in acc.items()]
            print(
                f"q_dup_source_matrix: {len(rows)} oracle rows "
                f"[{time.time()-t0:.1f}s total]"
            )
        ok &= _compare(
            "q_dup_source_matrix",
            rows,
            _spark_rows(spark, "q_dup_source_matrix", args.sf_dir),
        )

    if "weighted" in wanted:
        weighted = _run_sharded(
            con, "q_dedup_weighted", weighted_piece_sql, g
        )
        ok &= _compare(
            "q_dedup_weighted",
            weighted,
            _spark_rows(spark, "q_dedup_weighted", args.sf_dir),
        )

    if "containment" in wanted:
        cont = _run_sharded(
            con, "q_dedup_containment", containment_piece_sql, g
        )
        ok &= _compare(
            "q_dedup_containment",
            cont,
            _spark_rows(spark, "q_dedup_containment", args.sf_dir),
        )

    print("ALL MATCH" if ok else "SOME MISMATCH")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
