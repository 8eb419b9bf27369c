"""Local differential checker mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet dir, then compares row count, column names and
an order-insensitive value multiset.

CRITICAL: both sides are canonicalized THROUGH PANDAS, exactly like the
driver — Spark via ``toPandas()``, DuckDB via ``rel.df()`` — because the
dtype conversions differ from ``fetchall()``'s plain-Python values and that
difference is what the driver hashes:

* DuckDB ``SUM(int)`` returns HUGEINT → pandas float64 (``110316.0``),
  while Spark returns int64 (``110316``) → hash mismatch. Oracles must
  ``CAST(SUM(...) AS BIGINT)``.
* array-typed result columns become unhashable Python lists → the driver's
  ``sort_values`` canonicalization crashes. Queries must emit sorted arrays
  as delimited strings on both sides.
* DuckDB DECIMAL → float64, Spark DECIMAL → object-of-Decimal; follow the
  repo policy of summing through DECIMAL then casting back to DOUBLE.

Values are compared type-sensitively (``numpy.int64(1)`` != ``float64(1.0)``)
so this checker fails exactly where the driver would.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

import duckdb  # noqa: E402

from _ducklimits import apply_duck_limits  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from cdmx_airquality_etl_spark.schemas import TESTDATA_TABLES  # noqa: E402
from cdmx_airquality_etl_spark.session import get_spark  # noqa: E402
from cdmx_airquality_etl_spark.sources.parquet import register_duck_view  # noqa: E402


def cell(v) -> str:
    """Type-sensitive canonical repr of one pandas cell.

    numpy scalars are unwrapped to Python so int64→"110316" and
    float64→"110316.0" stay distinguishable — the exact divergence the
    driver's hash sees on uncast DuckDB HUGEINT sums.
    """
    if v is None:
        return "<NULL>"
    if hasattr(v, "item"):  # numpy scalar → python scalar
        v = v.item()
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"  # pandas represents NULL numerics as NaN
        return repr(v)
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        raise TypeError(
            "array-typed result column — unhashable under the driver's "
            "pandas canonicalization; emit a sorted delimited string instead"
        )
    return str(v)


def canon_frame(pdf):
    """Mirror the driver: sort columns by name, sort rows, stringify cells."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    return rows


def approx_equal(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            try:
                fa, fb = float(va), float(vb)
            except ValueError:
                return False
            if not math.isclose(fa, fb, rel_tol=1e-8, abs_tol=1e-8):
                return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # data-derived oracles (IVF centroids) must be rendered for THIS sf_dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Bound the oracle side: DuckDB's default memory_limit is 80% of RAM,
    # and its buffer pool grows monotonically across a long sweep — at sf3
    # the quadratic dedup oracles pushed the process past what the host
    # could give it ALONGSIDE the Spark JVM and the kernel OOM-killed the
    # sweep mid-query. A RAM-aware limit (min(48GB, RAM/2) — a FIXED 48GB
    # would *raise* the cap on small hosts, round-9 ADVICE) + temp spill
    # directory keeps the checker a well-behaved co-tenant at any sf.
    apply_duck_limits(con)
    for t in TESTDATA_TABLES:
        register_duck_view(con, sf_dir, t)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []

    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(s_pdf)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if len(s_pdf) == 0:
                print("      WARNING: 0 rows")
            continue
        t1 = time.time()
        try:
            d_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        t_duck = time.time() - t1

        problems = []
        if sorted(s_pdf.columns) != sorted(d_pdf.columns):
            problems.append(
                f"columns spark={sorted(s_pdf.columns)} duck={sorted(d_pdf.columns)}"
            )
        if len(s_pdf) != len(d_pdf):
            problems.append(f"rowcount spark={len(s_pdf)} duck={len(d_pdf)}")
        if not problems:
            # dtype drift is the early-warning signal for hash mismatches
            sd = {c: str(s_pdf[c].dtype) for c in s_pdf.columns}
            dd = {c: str(d_pdf[c].dtype) for c in d_pdf.columns}
            drift = {c: (sd[c], dd[c]) for c in sd if sd[c] != dd[c]}
            try:
                ms = canon_frame(s_pdf)
                md = canon_frame(d_pdf)
            except TypeError as e:
                problems.append(f"canonicalization error: {e}")
            else:
                if ms != md:
                    if approx_equal(ms, md):
                        problems.append("values float-close but NOT exact")
                    else:
                        problems.append("values mismatch")
                    if drift:
                        problems.append(f"dtype drift: {drift}")
                    for i, (ra, rb) in enumerate(zip(ms, md)):
                        if ra != rb:
                            problems.append(
                                f"  first diff row {i}: spark={ra} duck={rb}"
                            )
                            break
                elif drift:
                    # values canonicalized equal despite dtype drift — warn
                    print(f"      note {name}: benign dtype drift {drift}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(
                f"OK    {name} ({len(s_pdf)} rows) "
                f"[{time.time()-t0:.1f}s spark={t_spark:.1f} duck={t_duck:.1f}]"
            )

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
