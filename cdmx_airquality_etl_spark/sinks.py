"""Sinks beyond parquet: the reference's SQLite target, and schema-declared
CSV/JSON round-trips.

``upsert_to_sqlite`` is capability parity with the reference's load step
(/root/reference/scrapper.py:188-224): a user switching engines may still
need the accumulated ``air_quality.db`` for downstream tools. It reproduces
the exact ON CONFLICT DO UPDATE + nupdates semantics, set-based where SQLite
allows (executemany, one transaction — scrapper.py:208-214's loop collapsed).

Scale note, stated loudly: SQLite is a *driver-side* sink for SMALL,
ALREADY-AGGREGATED outputs (the reference's ~20-row snapshots, report
summaries). The frame is collected to the driver; the guard refuses
anything larger than ``max_rows``. The 100 TB path is parquet + merge
(plans/merge.py) — this sink exists for edge delivery, not storage.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _sqlite_ident(name: str) -> str:
    """A double-quoted SQLite identifier; an embedded ``"`` is doubled."""
    return '"' + name.replace('"', '""') + '"'


def upsert_to_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    key_columns: list[str],
    counter_col: str | None = "nupdates",
    max_rows: int = 100_000,
) -> int:
    """Keyed UPSERT of a small DataFrame into SQLite; returns rows written.

    Mirrors scrapper.py:196-206's generated SQL: INSERT .. ON CONFLICT(keys)
    DO UPDATE SET non-key cols = excluded, counter = counter + 1.
    """
    rows = df.collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{len(rows)} rows exceed the driver-side sink cap ({max_rows}); "
            "use plans.merge.merge_into_parquet for large outputs"
        )
    cols = df.columns
    data_cols = [c for c in cols if c not in key_columns and c != counter_col]

    col_defs = ", ".join(_sqlite_ident(c) for c in cols)
    placeholders = ", ".join("?" for _ in cols)
    updates = [f"{_sqlite_ident(c)} = excluded.{_sqlite_ident(c)}" for c in data_cols]
    if counter_col and counter_col in cols:
        counter = _sqlite_ident(counter_col)
        updates.append(f"{counter} = {_sqlite_ident(table)}.{counter} + 1")
    conflict = ", ".join(_sqlite_ident(k) for k in key_columns)
    # key-only frame with no counter → nothing to update on conflict
    action = f"DO UPDATE SET {', '.join(updates)}" if updates else "DO NOTHING"
    sql = (
        f"INSERT INTO {_sqlite_ident(table)} ({col_defs}) VALUES ({placeholders}) "
        f"ON CONFLICT({conflict}) {action}"
    )

    con = sqlite3.connect(db_path)
    try:
        con.execute("BEGIN")
        con.executemany(sql, [tuple(r) for r in rows])
        con.commit()
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()
    return len(rows)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV export (distributed write, one dir of part files)."""
    df.write.mode("overwrite").option("header", header).csv(path)


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-declared CSV read — never inferSchema (SURVEY.md §1.3: the only
    inference allowed in the engine is ingest-time header discovery)."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines export (the interchange format for document pipelines)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC export — the second columnar interchange format Spark bundles
    (orc-core ships in jars/; spark-avro does NOT, so Avro round-trips are
    deliberately out of scope until the external module is provisioned).
    Snappy-compressed by Spark's defaults; schema travels in the footer."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-DECLARED ORC read (never inferred — the repo-wide source
    discipline, sources/parquet.py): the declared StructType is pushed to
    the vectorized ORC reader, so column pruning and predicate pushdown
    work exactly as on parquet."""
    return spark.read.schema(schema).orc(path)


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
) -> list[tuple[int, int]]:
    """Deterministic sharded JSONL export for training-data delivery.

    Shard assignment is ``pmod(xxhash64(key), n_shards)`` — a pure function
    of the key, so re-running the export (or re-partitioning the input)
    produces byte-stable shard membership, and downstream consumers can
    address a document's shard without a lookup table. The frame is
    repartitioned BY the shard column before ``partitionBy`` writes, so each
    shard value lives in exactly one task and lands as one file per
    ``shard=N/`` directory — no small-file explosion, no cross-shard
    interleaving. Returns the (shard, rows) manifest (n_shards rows,
    driver-side by construction).

    Scale: one hash shuffle of the export columns; shard count chooses the
    file size (100 TB / n_shards), exactly the knob a training loader wants.
    """
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    )
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(path)
    )
    manifest = (
        sharded.groupBy("shard")
        .count()
        .orderBy("shard")
        .collect()
    )
    return [(int(r["shard"]), int(r["count"])) for r in manifest]
