"""Contract tests for the streaming commit protocol (streaming/commit.py),
plus torn-version recovery for every full-state ``state=<id>/`` sink: a
directory without ``_SUCCESS`` is invisible to readers and is rewritten,
exactly once, when its batch id replays. commit.py is the protocol's one
owner: no other streaming module lists versions, and every declared state
schema describes what its writer writes."""

import ast
import os
from datetime import datetime, timedelta
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cdmx_airquality_etl_spark.streaming import (
    ab_monitor,
    block_index,
    cms_maintenance,
    commit,
    drift,
    forecast_monitor,
    kmv_maintenance,
)
from cdmx_airquality_etl_spark.streaming.commit import committed, write_once


def test_missing_root_reads_empty(spark, tmp_path):
    assert committed(spark, str(tmp_path / "nothing"), "state") == []


def test_torn_dir_is_invisible_and_rewritten(spark, tmp_path):
    root = str(tmp_path / "st")
    torn = tmp_path / "st" / "state=0"
    torn.mkdir(parents=True)
    (torn / "part-0.parquet").write_bytes(b"torn")
    assert committed(spark, root, "state") == []
    assert write_once(spark, root, "state", 0, lambda: spark.range(3)) is True
    assert [i for i, _ in committed(spark, root, "state")] == [0]
    assert (torn / "_SUCCESS").exists()
    assert not (torn / "part-0.parquet").exists()
    assert spark.read.parquet(str(torn)).count() == 3


def test_committed_id_is_skipped_without_building(spark, tmp_path):
    root = str(tmp_path / "st")
    calls = []

    def build():
        calls.append(1)
        return spark.range(1)

    assert write_once(spark, root, "batch", 0, build) is True
    assert write_once(spark, root, "batch", 0, build) is False
    assert calls == [1]


def test_committed_order_is_numeric_and_prefix_scoped(spark, tmp_path):
    root = str(tmp_path / "st")
    for bid in (10, 2, 9):
        write_once(spark, root, "state", bid, lambda: spark.range(1))
    write_once(spark, root, "batch", 1, lambda: spark.range(1))
    got = committed(spark, root, "state")
    assert [i for i, _ in got] == [2, 9, 10]
    assert all(p.endswith(f"state={i}") for i, p in got)


def _batch(spark, i: int) -> DataFrame:
    """Twelve rows with the columns the four sinks read; batch ``i`` has
    its own customer keys, prices and days, so adding it twice shows."""
    base = datetime(2024, 1, 1)
    rows = [
        (
            i * 12 + j,
            (i * 12 + j) % 3,
            float(100 + 7 * j + 31 * i),
            base + timedelta(days=(i * 5 + j) % 20),
        )
        for j in range(12)
    ]
    return spark.createDataFrame(
        rows, "o_custkey long, g long, o_totalprice double, ts timestamp"
    )


# sink -> (update(spark, df, root, batch_id), read(spark, root))
SINKS = {
    "cms": (
        lambda s, df, p, b: cms_maintenance.update_sketch(s, df, p, b, "o_custkey"),
        cms_maintenance.read_sketch,
    ),
    "kmv": (
        lambda s, df, p, b: kmv_maintenance.update_sketch(
            s, df, p, b, "g", "o_custkey"
        ),
        kmv_maintenance.read_sketch,
    ),
    "ab": (
        lambda s, df, p, b: ab_monitor.update_state(
            s, df, p, b, "o_custkey", "o_totalprice"
        ),
        ab_monitor.read_state,
    ),
    "forecast": (
        lambda s, df, p, b: forecast_monitor.update_daily_state(s, df, p, b, "ts"),
        forecast_monitor.read_daily_state,
    ),
}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_torn_version_is_invisible_and_replayed_once(spark, tmp_path, sink):
    update, read = SINKS[sink]
    batches = [_batch(spark, i) for i in range(3)]

    def state(root):
        return sorted(map(tuple, read(spark, root).collect()))

    def one_shot(dfs, name):
        root = str(tmp_path / name)
        update(spark, reduce(DataFrame.unionByName, dfs), root, 0)
        return state(root)

    root = str(tmp_path / "st")
    for bid, df in enumerate(batches):
        update(spark, df, root, bid)
    # torn version 2: its data files are on disk, its commit marker is not
    marker = os.path.join(root, "state=2", "_SUCCESS")
    os.remove(marker)
    assert state(root) == one_shot(batches[:2], "two")
    # the replay rebuilds version 2 from version 1: batch 2 is added once
    update(spark, batches[2], root, 2)
    assert os.path.exists(marker)
    assert state(root) == one_shot(batches, "three")


def test_only_commit_lists_versions():
    """No streaming module but commit.py finds committed versions itself:
    a sink reads its state through commit.read_latest / read_committed."""
    stream_dir = os.path.dirname(commit.__file__)
    listing = {"committed", "_listed_ids", "listStatus", "globStatus"}
    bad = []
    for f in sorted(os.listdir(stream_dir)):
        if not f.endswith(".py") or f == "commit.py":
            continue
        for node in ast.walk(ast.parse(open(os.path.join(stream_dir, f)).read())):
            if isinstance(node, ast.ImportFrom):
                bad += [f"{f}: imports {a.name}" for a in node.names if a.name in listing]
            elif isinstance(node, ast.Call):
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                if name in listing:
                    bad.append(f"{f}:{node.lineno}: calls {name}(")
    assert not bad, bad


def test_newest_version_read_probes_from_the_top(spark, tmp_path, monkeypatch):
    """200 committed versions under a torn top one: the read returns the
    newest committed version after two ``_SUCCESS`` probes (the torn
    version, then its predecessor) and a handful of other py4j commands,
    not a probe per version ever committed."""
    root = tmp_path / "st"
    for i in range(201):
        d = root / f"state={i}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"r": [0], "bucket": [0], "cnt": [i]}), d / "part-0.parquet"
        )
        if i < 200:
            (d / "_SUCCESS").touch()
    sent = []
    real_send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return real_send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    sketch = cms_maintenance.read_sketch(spark, str(root))
    monkeypatch.undo()
    assert [tuple(r) for r in sketch.collect()] == [(0, 0, 199)]
    probes = [c for c in sent if "\nexists\n" in c]
    assert len(probes) <= 3, probes  # the root, state=200, state=199
    assert len(sent) <= 60, f"{len(sent)} py4j commands for one read"


def _docs(spark, i: int) -> DataFrame:
    """Four documents of 24 tokens each, two of them sharing their text."""
    text = " ".join(f"w{i}_{j % 12}" for j in range(24))
    return spark.createDataFrame(
        [(i * 4 + j, text if j < 2 else f"{text} tail{j}", "en" if j else "es")
         for j in range(4)],
        "doc_id long, text string, lang string",
    )


def _drift_batch(spark, root, tmp_path):
    """One committed verdict: the drift stream over a one-file source."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "lang": ["en", "es", "en"]}),
        src / "part-0.parquet",
    )
    schema = StructType([StructField("doc_id", LongType()), StructField("lang", StringType())])
    ref = spark.createDataFrame([("en", 1.0)], "key string, frac double")
    drift.drift_monitor_stream(
        spark, str(src), schema, ref, "lang", root, str(tmp_path / "ck")
    ).awaitTermination(120)


# sink -> (declared schema, version prefix, commit batch 0 into root)
DECLARED = {
    **{
        name: (mod._STATE_SCHEMA, "state", lambda s, r, t, u=SINKS[name][0]: u(s, _batch(s, 0), r, 0))
        for name, mod in [
            ("cms", cms_maintenance),
            ("kmv", kmv_maintenance),
            ("ab", ab_monitor),
            ("forecast", forecast_monitor),
        ]
    },
    "block_index": (
        block_index._INDEX_SCHEMA,
        "batch",
        lambda s, r, t: block_index.update_block_index(s, _docs(s, 0), r, 0),
    ),
    "drift": (drift._VERDICT_SCHEMA, "state", _drift_batch),
}


@pytest.mark.parametrize("sink", sorted(DECLARED))
def test_declared_schema_describes_the_written_state(spark, tmp_path, sink):
    """The readers read with the declared schema instead of inferring one,
    so it must name and type every column its writer writes."""
    declared, prefix, commit_one = DECLARED[sink]
    root = str(tmp_path / "st")
    commit_one(spark, root, tmp_path)
    written = spark.read.parquet(os.path.join(root, f"{prefix}=0")).schema
    declared = spark.createDataFrame([], declared).schema
    assert [(f.name, f.dataType) for f in written.fields] == [
        (f.name, f.dataType) for f in declared.fields
    ]
