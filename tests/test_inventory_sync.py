"""Inventory-staleness guard (VERDICT r5 #2): the committed PLANS.md /
COVERAGE.md row sets and the README/SURVEY query counts must match the
live registry. This catches the commonest drift — adding or renaming a
query without regenerating the inventories — without re-deriving any
plans (plan-COLUMN staleness is covered by regenerating via
tools/dump_plans.py in the closing ritual; this test makes forgetting
that regeneration loud). COVERAGE.md needs no Spark to render, so it is
also compared byte for byte with a fresh render."""

import os
import re
import sys

from cdmx_airquality_etl_spark.registry import ORACLE_FACTORIES, ORACLES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def _table_names(path: str) -> set[str]:
    with open(os.path.join(REPO, path)) as f:
        return set(re.findall(r"^\| (q_\w+) \|", f.read(), flags=re.M))


def test_plans_md_rows_match_registry():
    assert _table_names("PLANS.md") == set(QUERIES), (
        "PLANS.md is stale — regenerate with tools/dump_plans.py"
    )


def test_coverage_md_rows_match_registry():
    assert _table_names("COVERAGE.md") == set(QUERIES), (
        "COVERAGE.md is stale — regenerate with tools/dump_coverage.py"
    )


def test_coverage_md_matches_fresh_render():
    # byte-level: also catches moved `file:line` sites and edited summaries,
    # which the row-set check above cannot see
    import dump_coverage

    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        committed = f.read()
    assert committed == dump_coverage.render(), (
        "COVERAGE.md is stale — regenerate with tools/dump_coverage.py"
    )


def test_readme_and_survey_counts_match_registry():
    n, n_oracle = len(QUERIES), len(set(ORACLES) | set(ORACLE_FACTORIES))
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    assert f"{n} registered queries, {n_oracle} oracle-checked" in readme, (
        f"README.md query counts are stale (registry: {n}/{n_oracle})"
    )
    with open(os.path.join(REPO, "SURVEY.md")) as f:
        survey = f.read()
    assert f"{n} queries total" in survey, (
        f"SURVEY.md query count is stale (registry: {n})"
    )
