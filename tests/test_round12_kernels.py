"""Round-12 optimization kernels: bit-identity against the retired JVM
formulas.

Each optimization in round 12 replaced a JVM expression chain with a
vectorized Arrow kernel (or a window with an equivalent one) under the
contract that every value is BIT-IDENTICAL. These tests pin that contract
directly — kernel output vs the original Spark expressions evaluated on
the same rows — so a numpy dtype drift, a hash slicing bug, or a tie-rule
change fails here at authoring time instead of at the driver's oracle.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdmx_airquality_etl_spark.functions.portable import md5_int
from cdmx_airquality_etl_spark.operators import stats_tests as st
from cdmx_airquality_etl_spark.operators import dedup as dd

SF_DIR = "/root/testdata/sf0.001"


def test_md5_u32_rows_matches_conv_hexslice(spark):
    """_md5_u32_rows == conv(substring(md5(hex), 8i+1, 8), 16, 10)/2^32 for
    both separators the draw kernels use."""
    ids = [str(i) for i in range(50)] + ["0", "9999999999"]
    for sep in ("#", "~"):
        u = st._md5_u32_rows(ids, 2, sep)  # 2 md5s -> 8 uniforms per id
        rows = spark.createDataFrame([(s,) for s in ids], "id string")
        exprs = [
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("id"), F.lit(sep), F.lit(str(j)))),
                        i * 8 + 1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(4294967296.0)
            ).alias(f"u{j}_{i}")
            for j in range(2)
            for i in range(4)
        ]
        got = rows.select(*exprs).collect()
        for r, row in enumerate(got):
            for c in range(8):
                assert u[r, c] == row[c], (ids[r], sep, c)


def test_boot_partials_match_jvm_chain(spark):
    """q_bootstrap_ci's kernel partials, summed, equal the retired
    explode + conv + Poisson-CASE aggregate on real events rows."""
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    events = load_table(spark, SF_DIR, "events")
    hashes = F.expr(
        f"transform(sequence(0, {st._BOOT_B // 4 - 1}), "
        "j -> md5(concat(cast(event_id as string), '#', cast(j as string))))"
    )
    slices = F.expr(
        "flatten(transform(hh, h -> transform(sequence(0, 3), "
        "i -> substring(h, i * 8 + 1, 8))))"
    )
    draws = (
        events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("vc"),
            hashes.alias("hh"),
        )
        .select("event_type", "vc", F.posexplode(slices).alias("b", "hx"))
        .select(
            "event_type",
            "vc",
            "b",
            (F.conv("hx", 16, 10).cast("long") / F.lit(4294967296.0)).alias("u"),
        )
    )
    w = F.lit(9)
    for k in reversed(range(9)):
        w = F.when(F.col("u") <= F.lit(st._POIS_CUM[k]), F.lit(k)).otherwise(w)
    jvm = (
        draws.select("event_type", "b", "vc", w.alias("w"))
        .groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("vc")).alias("swc"), F.sum("w").alias("nw"))
    )
    pre = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        F.col("event_id").cast("string").alias("eid"),
    )
    arrow = (
        pre.mapInPandas(
            st._boot_partials, "event_type string, b int, swc long, nw long"
        )
        .groupBy("event_type", "b")
        .agg(F.sum("swc").alias("swc"), F.sum("nw").alias("nw"))
    )
    diff = (
        jvm.withColumnRenamed("swc", "s1")
        .withColumnRenamed("nw", "n1")
        .join(arrow, ["event_type", "b"], "full")
        .where("s1 IS DISTINCT FROM swc OR n1 IS DISTINCT FROM nw")
        .count()
    )
    assert diff == 0


def test_mh_sig_partials_match_jvm_mins(spark):
    """MinHash kernel signatures equal the retired explode + 12-MIN plan on
    the real corpus, including the empty-array drop rule."""
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    shingled = dd._doc_shingles(load_table(spark, SF_DIR, "documents"))
    eh = shingled.select("doc_id", F.explode("sh").alias("shingle")).select(
        "doc_id",
        F.pmod(md5_int(F.col("shingle"), 8), F.lit(dd._MH_PRIME)).alias("h0"),
    )
    mins = [
        F.min(
            F.pmod(F.lit(a) * F.col("h0") + F.lit(b), F.lit(dd._MH_PRIME))
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(dd._MH_PERMS)
    ]
    jvm = eh.groupBy("doc_id").agg(*mins)
    new = dd._mh_sigs(shingled)
    cond = " OR ".join(
        f"a.mh{i} IS DISTINCT FROM b.mh{i}" for i in range(len(dd._MH_PERMS))
    )
    joined = jvm.alias("a").join(new.alias("b"), "doc_id", "full")
    assert joined.where(cond).count() == 0
    assert jvm.count() == new.count()


def test_sh_sig_partials_match_jvm_votes(spark):
    """SimHash kernel signatures equal the retired explode + 60-SUM vote
    aggregate, token multiset included (duplicates vote once each)."""
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).withColumn("h", md5_int(F.col("tok"), 15))
    votes = [
        F.sum((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)).alias(
            f"v{b}"
        )
        for b in range(dd._SH_BITS)
    ]
    sig = toks.groupBy("doc_id").agg(*votes)
    jvm = sig.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(dd._SH_BITS)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    new = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks")
    ).mapInPandas(dd._sh_sig_partials, "doc_id long, simhash long")
    joined = jvm.withColumnRenamed("simhash", "s1").join(new, "doc_id", "full")
    assert joined.where("s1 IS DISTINCT FROM simhash").count() == 0


def test_first_purchase_window_equals_rank_join(spark):
    """The whole-partition min(struct) first-purchase window (round-12
    shapley/markov rewrite) classifies touches exactly like the retired
    row_number + left join — pinned on a fixture with a purchase-tie
    (same us, ids decide), a purchase-only user, and a no-purchase user."""
    rows = [
        # user 1: touch before, purchase, touch after (same us as purchase,
        # larger event_id -> NOT before)
        (1, 100, 10, "ad"),
        (1, 200, 11, "purchase"),
        (1, 200, 12, "email"),
        # user 2: two purchases same us — smaller event_id is first
        (2, 50, 20, "purchase"),
        (2, 50, 19, "purchase"),
        (2, 40, 18, "ad"),
        # user 3: no purchase
        (3, 10, 30, "ad"),
        # user 4: purchase only — must not appear in the touch frame
        (4, 5, 40, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, event_type string"
    )
    wp = Window.partitionBy("user_id").orderBy("us", "event_id")
    firstp = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", F.col("us").alias("pus"), F.col("event_id").alias("pid")
        )
    )
    old = (
        ev.filter(F.col("event_type") != "purchase")
        .join(firstp, "user_id", "left")
        .select(
            "user_id",
            "event_id",
            (
                F.col("pus").isNull()
                | (F.col("us") < F.col("pus"))
                | (
                    (F.col("us") == F.col("pus"))
                    & (F.col("event_id") < F.col("pid"))
                )
            ).alias("before_p"),
            F.col("pus").isNotNull().alias("conv"),
        )
    )
    fp = F.min(
        F.when(F.col("event_type") == "purchase", F.struct("us", "event_id"))
    ).over(Window.partitionBy("user_id"))
    new = (
        ev.withColumn("fp", fp)
        .filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            "event_id",
            (
                F.col("fp").isNull()
                | (F.struct("us", "event_id") < F.col("fp"))
            ).alias("before_p"),
            F.col("fp").isNotNull().alias("conv"),
        )
    )
    o = {(r.user_id, r.event_id): (r.before_p, r.conv) for r in old.collect()}
    n = {(r.user_id, r.event_id): (r.before_p, r.conv) for r in new.collect()}
    assert o == n
    assert (4, 40) not in n  # purchase-only user stays absent
