"""Quality-gate tests: single-pass evaluation, violation reporting with
examples, uniqueness check, and the no-partial-load gate contract."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.quality import (
    QualityGateError,
    evaluate,
    gate,
    in_range,
    in_set,
    matches,
    not_null,
)


def _df(spark):
    return spark.createDataFrame(
        [
            Row(k=1, temp=24, q="buena", code="UIZ"),
            Row(k=2, temp=-80, q="mala", code="PED"),       # temp out of range
            Row(k=2, temp=18, q="regular", code="ACO"),     # duplicate key
            Row(k=3, temp=None, q="nope", code="bad-code"), # bad enum + pattern
        ],
        "k long, temp long, q string, code string",
    )


def _expectations():
    return [
        not_null("k"),
        in_range("temp", -30, 60),
        in_set("q", ["buena", "regular", "mala", "muy_mala"]),
        matches("code", "^[A-Z]{3}$"),
    ]


def test_evaluate_reports_all_violations_one_pass(spark):
    rep = evaluate(_df(spark), _expectations(), unique_keys=["k"])
    assert rep.n_rows == 4
    assert rep.violations == {
        "in_range(temp,-30,60)": 1,
        "in_set(q)": 1,
        "matches(code)": 1,
    }
    assert rep.duplicate_keys == 1
    assert not rep.passed
    assert rep.examples["in_set(q)"][0]["q"] == "nope"


def test_null_rows_pass_value_checks_but_fail_not_null(spark):
    df = spark.createDataFrame([Row(k=None, temp=None, q=None, code=None)],
                               "k long, temp long, q string, code string")
    rep = evaluate(df, _expectations())
    # NULL is a missing value, not a wrong one: only not_null flags it
    assert set(rep.violations) == {"not_null(k)"}


def test_gate_raises_and_passes(spark):
    with pytest.raises(QualityGateError) as ei:
        gate(_df(spark), _expectations(), unique_keys=["k"])
    assert "in_set(q)" in str(ei.value)

    clean = _df(spark).filter("k = 1")
    assert gate(clean, _expectations(), unique_keys=["k"]) is clean


def test_matches_escapes_backslash_and_quote_like_rlike(spark):
    # the pattern is rendered into SQL text: its backslashes and quote must
    # reach the regex engine as written, as Column.rlike passes them
    pattern = r"^[A-Z]\d'?$"
    codes = ["A1", "A1'", "B'", "a1", None, "Z9'", "Q\\d", "Q12"]
    df = spark.createDataFrame([Row(code=c) for c in codes], "code string")
    want = df.filter(~(F.col("code").isNull() | F.col("code").rlike(pattern))).count()
    assert want == 4  # B', a1, Q\d, Q12
    assert evaluate(df, [matches("code", pattern)]).violations == {"matches(code)": want}
