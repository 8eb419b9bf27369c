"""The cross-engine rules of functions/portable.py: tokens, content
fingerprint, md5 → BIGINT hash, exact sum and the content-hash split
bucket.

Every query is hash-checked against a DuckDB oracle, and that holds only
while both engines compute these five rules alike. The guards keep each
rule in its one home: no operator or streaming module imports a rule from
another operator module or under a private name, and no package module or
example spells a rule out again. The last test runs each rule's Spark and
DuckDB twins on the same inputs."""

from __future__ import annotations

import ast
import math
import os
import re

import duckdb
from pyspark.sql import functions as F

from cdmx_airquality_etl_spark.functions import portable

PKG = os.path.dirname(os.path.abspath(portable.__file__)).removesuffix(os.sep + "functions")
RULES = {
    "tokens", "sql_tokens",
    "content_fingerprint", "sql_content_fingerprint",
    "md5_int", "sql_md5_int",
    "exact_sum", "sql_exact_sum",
    "split_bucket", "sql_split_bucket",
}
# the private names these rules had before they moved to functions/portable
OLD_PRIVATE = {"_toks", "_sql_toks", "_md5_int", "_sql_md5_int", "_dsum"}
# each rule's body, in either dialect; matched without case or whitespace
COPIES = {
    "DuckDB tokens": r"string_split_regex\(trim\(lower\(",
    "Spark tokens": r"split\(F\.trim\(F\.lower\(",
    "DuckDB fingerprint": r"md5\(regexp_replace\(trim\(lower\(",
    "Spark fingerprint": r"F\.md5\(F\.regexp_replace\(F\.trim\(F\.lower\(",
    "DuckDB md5 hash": r"strpos\('[^']*',substr\(md5\(",
    "Spark md5 hash": r"F\.conv\(F\.substring\(F\.md5\(",
    "DuckDB exact sum": r"ASDECIMAL\(18,[^)]*\)\)\)ASDOUBLE\)",
    "Spark exact sum": r"\.cast\(f?\"decimal\(18,[^)]*\)\"\)\)\.cast\(\"double\"\)",
    "DuckDB split bucket": r"ascii\(substr\(md5\(",
    "Spark split bucket": r"F\.ascii\(F\.substring\(F\.md5\(",
    # a hex digit decoded by its position in the hex alphabet, either dialect
    "hex-alphabet decode": r"(strpos|instr)\((F\.lit\()?['\"]?\{?(\w*HEX\b|0123456789abcdef)",
}
# q_bootstrap_ci's family decodes 8 digits at a row-dependent offset of an
# md5 into a uniform; its twin is the hashlib kernel `_md5_u32_rows` in the
# same module, not md5_int, so that one decode stays where it is
ALLOWED = {"hex-alphabet decode": [("stats_tests.py", 1)]}
EXAMPLES = os.path.join(os.path.dirname(PKG), "examples")


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, os.path.dirname(PKG))[:-3]
                yield path, rel.replace(os.sep, ".").removesuffix(".__init__")


def _resolve(modname: str, node: ast.ImportFrom, is_pkg: bool) -> str:
    if not node.level:
        return node.module or ""
    base = modname.split(".")
    base = base if is_pkg else base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def test_no_module_imports_a_rule_from_an_operator_module_or_by_a_private_name():
    bad = []
    for path, mod in _modules():
        if ".operators" not in mod and ".streaming" not in mod:
            continue
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            src = _resolve(mod, node, path.endswith("__init__.py"))
            for alias in node.names:
                if alias.name in OLD_PRIVATE:
                    bad.append(f"{mod}: {alias.name} from {src}")
                elif alias.name in RULES and ".operators" in src:
                    bad.append(f"{mod}: {alias.name} from {src}")
    assert not bad, bad


def test_each_rule_is_defined_once():
    defs = {}
    for path, mod in _modules():
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.FunctionDef) and node.name in RULES | OLD_PRIVATE:
                defs.setdefault(node.name, []).append(mod)
    assert defs == {name: ["cdmx_airquality_etl_spark.functions.portable"] for name in RULES}


def test_no_module_spells_a_rule_out_again():
    examples = [os.path.join(EXAMPLES, f) for f in sorted(os.listdir(EXAMPLES))]
    found = {}
    for path in [p for p, _ in _modules()] + [p for p in examples if p.endswith(".py")]:
        text = re.sub(r"\s+", "", open(path).read())
        for rule, rx in COPIES.items():
            n = len(re.findall(rx, text, re.IGNORECASE))
            if n:
                found.setdefault(rule, []).append((os.path.basename(path), n))
    assert {rule: sorted(hits) for rule, hits in found.items()} == {
        rule: sorted([("portable.py", 1)] + ALLOWED.get(rule, [])) for rule in COPIES
    }


def test_spark_and_duckdb_twins_agree(spark):
    texts = ["  Foo\tBAR  baz ", "one", "a  b\nc d", "ÁÉ ñ x", ""]
    values = [0.1, 0.2, 0.3, 1e-4, 123456.785]
    ids = [0, 7, -12, 123456789, 2**40 + 3]
    rows = [(t, v, i) for t, v, i in zip(texts, values, ids)]
    df = spark.createDataFrame(rows, "t string, v double, i long")
    got = df.select(
        F.array_join(portable.tokens(F.col("t")), "|").alias("toks"),
        portable.content_fingerprint(F.col("t")).alias("fp"),
        portable.md5_int(F.col("t"), 15).alias("h15"),
        portable.md5_int(F.col("t"), 3).alias("h3"),
        portable.split_bucket("i", 1, 10).alias("b1"),
        portable.split_bucket("t", 2, 16).alias("b2"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE r (t VARCHAR, v DOUBLE, i BIGINT)")
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", rows)
    want = con.execute(
        f"SELECT array_to_string({portable.sql_tokens('t')}, '|'), "
        f"{portable.sql_content_fingerprint('t')}, "
        f"{portable.sql_md5_int('t', 15)}, {portable.sql_md5_int('t', 3)}, "
        f"{portable.sql_split_bucket('i', 1, 10)}, {portable.sql_split_bucket('t', 2, 16)} "
        "FROM r"
    ).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(want)

    for scale in (2, 4, 6):
        s = df.agg(portable.exact_sum(F.col("v"), scale)).first()[0]
        d = con.execute(f"SELECT {portable.sql_exact_sum('v', scale)} FROM r").fetchone()[0]
        assert s == d and not math.isnan(s)
