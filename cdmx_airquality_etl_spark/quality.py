"""Data-quality expectations: the reference's V-GATE generalized.

The reference aborts a run when its one critical field fails to parse
(/root/reference/scrapper.py:53-55,139-144) — a single hard-coded
expectation. This module is that idea as a library: declare expectations on
a batch, evaluate them ALL in one aggregate pass, and gate the merge on the
result (no partial loads, same as M-TXN).

Scale design: every check compiles to a conditional aggregate over one scan
(count_if), so a 50-expectation suite on a 100 TB batch costs one pass — not
50. Uniqueness is the exception (needs a groupBy); it shares the same
action. No row is ever collected except the violation examples (capped).

Predicates are SQL expression text: a suite's aggregate is one
``selectExpr``, one JVM call to build however many expectations it holds.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .functions.sql import quote_ident, quote_str, sql_literal


@dataclass
class Expectation:
    name: str
    predicate: str  # SQL text; true = row passes


def not_null(col: str) -> Expectation:
    return Expectation(f"not_null({col})", f"{quote_ident(col)} IS NOT NULL")


def in_range(col: str, lo, hi) -> Expectation:
    c = quote_ident(col)
    return Expectation(
        f"in_range({col},{lo},{hi})",
        f"{c} IS NULL OR ({c} >= {sql_literal(lo)} AND {c} <= {sql_literal(hi)})",
    )


def in_set(col: str, values: list) -> Expectation:
    c = quote_ident(col)
    listed = f"{c} IN ({', '.join(map(sql_literal, values))})" if values else "false"
    return Expectation(f"in_set({col})", f"{c} IS NULL OR {listed}")


def matches(col: str, pattern: str) -> Expectation:
    c = quote_ident(col)
    return Expectation(
        f"matches({col})", f"{c} IS NULL OR {c} RLIKE {quote_str(pattern)}"
    )


@dataclass
class QualityReport:
    n_rows: int
    violations: dict[str, int]  # expectation name -> failing-row count
    duplicate_keys: int = 0
    examples: dict[str, list] = field(default_factory=dict)

    @property
    def passed(self) -> bool:
        return not self.violations and self.duplicate_keys == 0


class QualityGateError(RuntimeError):
    def __init__(self, report: QualityReport):
        self.report = report
        super().__init__(
            f"quality gate failed: {report.violations}, "
            f"duplicate_keys={report.duplicate_keys}"
        )


def evaluate(
    df: DataFrame,
    expectations: list[Expectation],
    unique_keys: list[str] | None = None,
    n_examples: int = 3,
) -> QualityReport:
    """Evaluate all expectations in one aggregate pass (+ one groupBy pass
    when ``unique_keys`` is given)."""
    aggs = ["count(1) AS __n"] + [
        f"count_if(NOT ({e.predicate})) AS {quote_ident(e.name)}"
        for e in expectations
    ]
    row = df.selectExpr(*aggs).first()
    violations = {
        e.name: row[e.name] for e in expectations if row[e.name] > 0
    }

    dup = 0
    if unique_keys:
        dup = df.groupBy(*unique_keys).count().where("`count` > 1").count()

    examples: dict[str, list] = {}
    for e in expectations:
        if e.name in violations:
            examples[e.name] = df.where(f"NOT ({e.predicate})").limit(n_examples).collect()
    return QualityReport(
        n_rows=row["__n"],
        violations=violations,
        duplicate_keys=dup,
        examples=examples,
    )


def gate(
    df: DataFrame,
    expectations: list[Expectation],
    unique_keys: list[str] | None = None,
) -> DataFrame:
    """Raise QualityGateError (no partial load — V-GATE semantics) unless the
    batch passes every expectation; returns ``df`` unchanged for chaining."""
    report = evaluate(df, expectations, unique_keys=unique_keys)
    if not report.passed:
        raise QualityGateError(report)
    return df
