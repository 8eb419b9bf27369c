"""Generate COVERAGE.md: every registered query mapped to its implementation
(module:line), check type (exact DuckDB oracle vs declared rows-only), and
docstring first line — the audit trail for SURVEY.md §2's inventory.

Usage: python tools/dump_coverage.py
"""

from __future__ import annotations

import inspect
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from cdmx_airquality_etl_spark import ORACLES, QUERIES  # noqa: E402
from cdmx_airquality_etl_spark.registry import ORACLE_FACTORIES  # noqa: E402


def render() -> str:
    """COVERAGE.md's full text for the live registry (imports only; no Spark
    session)."""
    lines = [
        "# COVERAGE — query inventory audit (auto-generated by tools/dump_coverage.py)",
        "",
        "Every `queries()` entry with its implementation site and check type.",
        "`oracle` = driver hash-compares Spark vs DuckDB values at sf0.01;",
        "`oracle (generated)` = same, with the SQL rendered per-corpus by a",
        "deterministic factory (IVF centroids, PQ codebooks);",
        "`rows-only` = declared non-SQL-expressible (allowlist in",
        "`tests/test_registry_integrity.py` with per-query reasons).",
        "",
        "| query | implementation | check | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        src_file = inspect.getsourcefile(fn)
        src = os.path.relpath(src_file, REPO_ROOT)
        # getsourcelines points at the decorator (@register call site),
        # which drifts from the def when the oracle string grows (VERDICT
        # r6 nit); resolve to the actual `def` line so refs are stable
        block, start = inspect.getsourcelines(fn)
        line = start
        for off, raw in enumerate(block):
            if raw.lstrip().startswith(f"def {fn.__name__}"):
                line = start + off
                break
        if name in ORACLES:
            check = "oracle"
        elif name in ORACLE_FACTORIES:
            check = "oracle (generated)"
        else:
            check = "rows-only"
        doc = (inspect.getdoc(fn) or "").split("\n")[0].rstrip(".")
        if not doc:
            # fall back to the module's "# q_name — description" section header
            with open(src_file) as fh:
                for raw in fh:
                    if raw.startswith(f"# {name} ") and "—" in raw:
                        doc = raw.split("—", 1)[1].strip().rstrip(".")
                        break
        lines.append(f"| {name} | `{src}:{line}` | {check} | {doc} |")
    n_oracle = len([q for q in QUERIES if q in ORACLES or q in ORACLE_FACTORIES])
    lines += [
        "",
        f"Total: {len(QUERIES)} queries — {n_oracle} oracle-checked, "
        f"{len(QUERIES) - n_oracle} rows-only.",
    ]
    return "\n".join(lines) + "\n"


def main() -> int:
    with open(os.path.join(REPO_ROOT, "COVERAGE.md"), "w") as fh:
        fh.write(render())
    print(f"wrote COVERAGE.md ({len(QUERIES)} queries)")
    return 0


if __name__ == "__main__":
    main()
