"""Pipeline orchestration — the engine's C-MAIN (scrapper.py:297-337).

One run = extract (HTML pages table) → transform (native exprs) → keyed merge
of the three reference tables, with the reference's control behaviors:

- C-CFG  (scrapper.py:298-306): YAML config for extract ids + table layout;
  same shape as the reference's config.yaml / sql_config.yaml, but DDL is
  declared StructTypes (schemas.py) — Catalyst needs no regex name-extraction
  (D-CREATETBL, scrapper.py:246-251).
- D-CREATEDB / D-CREATETBL (scrapper.py:226-273): ``bootstrap`` creates only
  the database (CREATE DATABASE IF NOT EXISTS, idempotent); there is no
  CREATE TABLE — each table's parquet directory is created by its first
  merge write.
- V-GATE (scrapper.py:139-144): a run has two phases. The check phase counts
  the unparseable pages and runs the three tables' quality gates on one
  persisted parse, the four checks concurrently, each on its own thread. The
  merge phase starts only after every check has finished: no write starts
  before every check passes — no partial loads (M-TXN is per-table inside
  the merge writer).
- C-LOG (scrapper.py:307-314): driver-side structured logging per stage.
- C-SCHED: one `run()` call ≙ one launcher.bat invocation; the streaming
  module (streaming/ingest.py) is the push-based equivalent.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.util import inheritable_thread_target

from .plans.merge import merge_into_parquet
from .quality import in_range, matches, not_null
from .schemas import MERGE_KEYS, TABLE_SCHEMAS

# ingest_reports (parse + ingest_parsed) is not called by run, which persists
# the parse in between; it stays importable here because perfbench's
# etl_scheduled workload wraps pipeline.ingest_reports.
from .sources.html_ingest import (  # noqa: F401
    ingest_parsed,
    ingest_reports,
    parse_pages,
    summarize_pages,
)

log = logging.getLogger("cdmx_airquality_etl_spark.pipeline")


def setup_logging(log_path: str | None = None, level: int = logging.INFO) -> None:
    """C-LOG file-handler parity (scrapper.py:307-314): tee INFO+ to a
    configured log file AND the console, reference log format. ``force=True``
    so a re-configure in one process (CLI after library use) wins."""
    handlers: list[logging.Handler] = [logging.StreamHandler()]
    if log_path:
        handlers.append(logging.FileHandler(log_path, encoding="utf-8"))
    logging.basicConfig(
        level=level,
        format="%(asctime)s - %(levelname)s - %(message)s",
        handlers=handlers,
        force=True,
    )


@dataclass
class PipelineConfig:
    """Mirror of the reference's two YAML configs (config.yaml /
    sql_config.yaml), minus DDL strings (schemas are code)."""

    warehouse_dir: str
    database: str = "airquality"
    tables: dict[str, str] = field(default_factory=dict)  # name -> path
    partition_col: str | None = "year_num"
    counter_col: str = "nupdates"

    @classmethod
    def from_yaml(cls, path: str) -> "PipelineConfig":
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f)
        return cls(
            warehouse_dir=raw["warehouse_dir"],
            database=raw.get("database", "airquality"),
            tables=raw.get("tables", {}),
            partition_col=raw.get("partition_col", "year_num"),
            counter_col=raw.get("counter_col", "nupdates"),
        )

    def table_path(self, name: str) -> str:
        return self.tables.get(name, f"{self.warehouse_dir}/{self.database}/{name}")

    def table_schema(self, name: str) -> StructType:
        """Table ``name``'s declared schema (``schemas.TABLE_SCHEMAS``). The
        ingest always emits ``nupdates``, so another ``counter_col`` is one
        more column, appended where the merge's seed adds it."""
        declared = TABLE_SCHEMAS[name]
        if self.counter_col in declared.fieldNames():
            return declared
        return StructType(
            declared.fields + [StructField(self.counter_col, IntegerType(), True)]
        )


def bootstrap(spark: SparkSession, config: PipelineConfig) -> None:
    """Idempotent catalog bootstrap (D-CREATEDB): creates only the database.
    Tables are parquet directories that their first merge creates;
    re-running is a no-op, like the reference's sqlite_master existence
    probe."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {config.database}")
    log.info("database %s ready", config.database)


class PipelineAbort(RuntimeError):
    """Raised when V-GATE rejects pages — the run writes nothing."""


# Expectations every ingested table shares (the V-GATE date identity widened
# to ranges), and the station facts' = the shared date checks + station-key
# shape.
_DATE_EXPECTATIONS = [
    not_null("report_ts"),
    in_range("hour_num", 0, 23),
    in_range("month_num", 1, 12),
]
_FACT_EXPECTATIONS = _DATE_EXPECTATIONS + [
    not_null("clave_str"),
    matches("clave_str", "^[A-Z0-9]{2,5}$"),
]


def run(
    spark: SparkSession,
    html_df: DataFrame,
    config: PipelineConfig,
    strict: bool = True,
) -> dict[str, int]:
    """One scheduled-run equivalent: ingest a batch of report pages and merge
    all three tables. Returns each table's row count after the merge.

    The HTML parse runs once: its frame is persisted and the rejects and the
    three tables are derived from it. Then two phases, each on a thread pool
    with one thread per task and under the caller's job group and tags:

    - check: one aggregate over the parse (``summarize_pages``) and the three
      quality gates run concurrently. The aggregate counts the unparseable
      pages (V-GATE: there must be none) and collects the
      ``config.partition_col`` values of the parseable pages;
    - merge: starts only after every check has finished, so no write starts
      before every check passes (scrapper.py:139-144's
      abort-without-partial-load). The three merges and their row counts run
      concurrently; each writes its own path under its own ``merge_lock``.
      Every table's rows come from the parseable pages, so each merge is
      handed the check's partition values and runs no discovery job of its
      own. The merges read their targets, and the row counts read each
      table, with its declared schema (``config.table_schema``), so no job
      infers one from the files.

    A failing check raises ``PipelineAbort`` naming every failing table.
    ``strict=False`` (CLI ``--lenient``) is the operator override: every
    failing check is logged under its table name and the run merges. Any
    other failure of a task is re-raised (the first, in table order) once
    every task of its phase has ended.
    """
    from .quality import QualityGateError, gate

    parsed = parse_pages(html_df).persist()
    try:
        result = ingest_parsed(parsed)
        frames = {
            "cdmx": result.cdmx,
            "edomex": result.edomex,
            "gral_stats": result.gral_stats,
        }

        def in_callers_context(task):
            # with pinned-thread mode off (PYSPARK_PIN_THREAD=false) the
            # "wrapper" is the session itself: there is no job group to carry
            inherit = inheritable_thread_target(spark)
            return task if inherit is spark else inherit(task)

        def concurrently(tasks):
            # leaving the pool waits for every task, failed or not
            with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
                return {
                    name: pool.submit(in_callers_context(task))
                    for name, task in tasks.items()
                }

        checks = concurrently(
            {
                "pages": partial(summarize_pages, parsed, config.partition_col),
                "cdmx": partial(gate, result.cdmx, _FACT_EXPECTATIONS),
                "edomex": partial(gate, result.edomex, _FACT_EXPECTATIONS),
                "gral_stats": partial(gate, result.gral_stats, _DATE_EXPECTATIONS),
            }
        )
        problems = []
        pages = checks.pop("pages").result()
        if pages.rejects:
            problems.append(f"V-GATE: {pages.rejects} unparseable pages")
        for name, future in checks.items():
            if isinstance(future.exception(), QualityGateError):
                problems.append(f"table {name}: {future.exception()}")
            else:
                future.result()  # re-raises any other failure
        action = "aborting run" if strict else "merging anyway (lenient)"
        for problem in problems:
            log.error("%s — %s", problem, action)
        if problems and strict:
            raise PipelineAbort("; ".join(problems))

        def merge(name: str) -> int:
            path = config.table_path(name)
            schema = config.table_schema(name)
            merge_into_parquet(
                spark,
                frames[name],
                path,
                keys=MERGE_KEYS[name],
                counter_col=config.counter_col,
                partition_col=config.partition_col,
                partitions=pages.partitions,
                schema=schema,
            )
            n = spark.read.schema(schema).parquet(path).count()
            log.info("merged table %s → %s (%d rows)", name, path, n)
            return n

        merges = concurrently({name: partial(merge, name) for name in frames})
        return {name: future.result() for name, future in merges.items()}
    finally:
        parsed.unpersist()
