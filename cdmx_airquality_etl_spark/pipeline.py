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
  the unparseable pages and runs the three tables' quality gates,
  concurrently, on one persisted parse. The merge phase starts only after
  every check has finished: no write starts before every check passes — no
  partial loads (M-TXN is per-table inside the merge writer).
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
from pyspark.util import inheritable_thread_target

from .plans.merge import merge_into_parquet
from .schemas import MERGE_KEYS

# ingest_reports (parse + ingest_parsed) is not called by run, which persists
# the parse in between; it stays importable here because perfbench's
# etl_scheduled workload wraps pipeline.ingest_reports.
from .sources.html_ingest import (  # noqa: F401
    ingest_parsed,
    ingest_reports,
    parse_pages,
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


def bootstrap(spark: SparkSession, config: PipelineConfig) -> None:
    """Idempotent catalog bootstrap (D-CREATEDB): creates only the database.
    Tables are parquet directories that their first merge creates;
    re-running is a no-op, like the reference's sqlite_master existence
    probe."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {config.database}")
    log.info("database %s ready", config.database)


class PipelineAbort(RuntimeError):
    """Raised when V-GATE rejects pages — the run writes nothing."""


def _date_expectations():
    """Expectations every ingested table shares (the V-GATE date identity
    widened to ranges). Built lazily: Column exprs need the live session."""
    from .quality import in_range, not_null

    return [
        not_null("report_ts"),
        in_range("hour_num", 0, 23),
        in_range("month_num", 1, 12),
    ]


def _fact_expectations():
    """Station-fact expectations = shared date checks + station-key shape."""
    from .quality import matches, not_null

    return _date_expectations() + [
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
    as wide as there are tables and under the caller's job group and tags:

    - check: the V-GATE reject count (rejects must be empty) and the three
      quality gates run concurrently;
    - merge: starts only after every check has finished, so no write starts
      before every check passes (scrapper.py:139-144's
      abort-without-partial-load). The three merges and their row counts run
      concurrently; each writes its own path under its own ``merge_lock``.

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

        def concurrently(tasks):
            # leaving the pool waits for every task, failed or not
            with ThreadPoolExecutor(max_workers=len(frames)) as pool:
                return {
                    name: pool.submit(inheritable_thread_target(spark)(task))
                    for name, task in tasks.items()
                }

        checks = concurrently(
            {
                "rejects": result.rejects.count,
                "cdmx": partial(gate, result.cdmx, _fact_expectations()),
                "edomex": partial(gate, result.edomex, _fact_expectations()),
                "gral_stats": partial(gate, result.gral_stats, _date_expectations()),
            }
        )
        problems = []
        n_rejects = checks.pop("rejects").result()
        if n_rejects:
            problems.append(f"V-GATE: {n_rejects} unparseable pages")
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
            merge_into_parquet(
                spark,
                frames[name],
                path,
                keys=MERGE_KEYS[name],
                counter_col=config.counter_col,
                partition_col=config.partition_col,
            )
            n = spark.read.parquet(path).count()
            log.info("merged table %s → %s (%d rows)", name, path, n)
            return n

        merges = concurrently({name: partial(merge, name) for name in frames})
        return {name: future.result() for name, future in merges.items()}
    finally:
        parsed.unpersist()
