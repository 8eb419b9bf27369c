"""Pipeline orchestration — the engine's C-MAIN (scrapper.py:297-337).

One run = extract (HTML pages table) → transform (native exprs) → keyed merge
of the three reference tables, with the reference's control behaviors:

- C-CFG  (scrapper.py:298-306): YAML config for extract ids + table layout;
  same shape as the reference's config.yaml / sql_config.yaml, but DDL is
  declared StructTypes (schemas.py) — Catalyst needs no regex name-extraction
  (D-CREATETBL, scrapper.py:246-251).
- D-CREATEDB / D-CREATETBL (scrapper.py:226-273): idempotent warehouse
  bootstrap via the Spark catalog (CREATE DATABASE/TABLE IF NOT EXISTS);
  existence checks go through spark.catalog, not a hand-parsed master table.
- V-GATE (scrapper.py:139-144): unparseable pages abort the run before any
  write — no partial loads (M-TXN is per-table inside the merge writer).
- C-LOG (scrapper.py:307-314): driver-side structured logging per stage.
- C-SCHED: one `run()` call ≙ one launcher.bat invocation; the streaming
  module (streaming/ingest.py) is the push-based equivalent.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .plans.merge import merge_into_parquet
from .schemas import MERGE_KEYS
from .sources.html_ingest import ingest_reports

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
    """Idempotent catalog bootstrap (D-CREATEDB/D-CREATETBL). Tables are
    parquet-backed; re-running is a no-op, like the reference's
    sqlite_master existence probe."""
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
    all three tables. Returns per-table merged-row counts.

    Ordering note: the V-GATE check (rejects must be empty) and the quality
    gate both run BEFORE any table write, reproducing scrapper.py:139-144's
    abort-without-partial-load. ``strict=False`` (CLI ``--lenient``) is the
    operator override: both gates log their failure and the run merges.
    """
    result = ingest_reports(html_df)
    # the ingest lineage (HTML parse UDF included) feeds the reject count,
    # the gates AND the merges — persist each frame so it runs once
    frames = {
        "cdmx": result.cdmx.persist(),
        "edomex": result.edomex.persist(),
        "gral_stats": result.gral_stats.persist(),
    }

    try:
        n_rejects = result.rejects.count()
        if n_rejects:
            log.error("V-GATE: %d unparseable pages — aborting run", n_rejects)
            if strict:
                raise PipelineAbort(f"{n_rejects} pages failed the date gate")

        from .quality import QualityGateError, gate

        try:
            gate(frames["cdmx"], _fact_expectations())
            gate(frames["edomex"], _fact_expectations())
            gate(frames["gral_stats"], _date_expectations())
        except QualityGateError as e:
            log.error("quality gate: %s — aborting run", e)
            if strict:
                raise PipelineAbort(str(e)) from e

        counts: dict[str, int] = {}
        for name, df in frames.items():
            path = config.table_path(name)
            merge_into_parquet(
                spark,
                df,
                path,
                keys=MERGE_KEYS[name],
                counter_col=config.counter_col,
                partition_col=config.partition_col,
            )
            counts[name] = spark.read.parquet(path).count()
            log.info("merged table %s → %s (%d rows)", name, path, counts[name])
        return counts
    finally:
        for df in frames.values():
            df.unpersist()
