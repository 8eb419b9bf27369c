"""The benchmark's workloads, their output checks and their layer metrics.

Each workload runs in a fresh process as one closed loop with one client:
set-up (Spark session plus warmed inputs), a cold phase, then operations
back to back until the run's seconds are spent, then output checks outside
every timed region. All files live under a per-run directory inside the
checkout, handed to Spark through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import inputs
from spans import JobCounter, Tracer, jvm_delta, jvm_snapshot

# One query per operator module of the layer map. A warm pass samples the
# four light queries twice and the two heavy ones once, which puts op_p50_s
# inside the light cluster and op_tail_s (the p90) between the heavy two.
HEAVY_QUERIES = ["q_dedup_fuzzy", "q_pagerank"]
LIGHT_QUERIES = [
    "q_group_agg",  # relational
    "q_cube",  # relational_ext
    "q_tpch_small_qty",  # tpch_ext
    "q_tpch_shipping",  # warehouse
]
OPERATOR_MODULES = ["dedup", "graph", "relational", "relational_ext", "tpch_ext", "warehouse"]
QUERY_SCALE = 0.01

# The minimum counts below, not the run's seconds, bound most runs: each
# run then does the same work, which keeps the figures steady and a run
# short enough that a full evaluation (4 + 22 runs per workload) fits.
BACKFILL_PAGES = 12  # half a day of hourly reports
MIN_OPS = 1  # one hourly run: about 41 Spark jobs, 5-9 s
MIN_PASSES = 1

ORDERS_BASE_ROWS = 10_000
EVENTS_BASE_ROWS = 5_000
ORDERS_NEW_PER_FILE = 2_000
ORDERS_REDELIVERED_PER_FILE = 1_000
EVENTS_PER_FILE = 2_500
FILES_PER_ROUND = 3
MIN_ROUNDS = 1

STREAM_PARTS = ["addBatch", "queryPlanning", "walCommit", "commitOffsets"]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _data_files(path: str) -> dict[str, int]:
    return {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


class Bench:
    """State of one benchmark run: the Spark session, the tracer, the
    operation latencies and the correctness tally."""

    def __init__(self, seed: int, seconds: float, trace: bool, tmp: str, t0: float):
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.t0 = t0
        self.traced = trace
        self.tracer = Tracer(trace)
        self.gen_s = 0.0
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.merge_log: list[dict] = []
        self.jvm_cold: dict[str, float] = {}
        self.spark = None
        self.jobs: JobCounter | None = None

    # -- set-up ---------------------------------------------------------
    def generate(self, fn, *args):
        """Run an input generator; its time is kept out of ``setup_s``."""
        t = time.perf_counter()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        return out

    def start_spark(self) -> None:
        from cdmx_airquality_etl_spark.session import get_spark

        dirs = {d: os.path.join(self.tmp, d) for d in ("local", "jtmp", "derby", "warehouse")}
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        extra = {
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={dirs['jtmp']} "
                f"-Dderby.system.home={dirs['derby']} -XX:-UsePerfData"
            ),
            # AvailableNow streams keep every batch's progress for the trace
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)

    def setup_done(self) -> None:
        self.e2e["setup_s"] = (time.perf_counter() - self.t0 - self.gen_s, "s")

    # -- operations -----------------------------------------------------
    def op(self, name: str, fn):
        """Run one operation under its own job group. Returns (result,
        seconds); a raising operation counts as failed and returns None."""
        self.attempted += 1
        self.tracer.op = name
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)
        t = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            result = None
        dt = time.perf_counter() - t
        self.tracer.op = None
        return result, dt

    def check(self, ok: bool, what: str) -> None:
        """One output check, counted like an operation: a wrong output is a
        failed attempt."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def trace_merge(self, module) -> None:
        """Wrap ``module.merge_into_parquet``; each call logs the bytes and
        rows of the data files it added under the target."""
        import pyarrow.parquet as pq

        def before(args, kwargs):
            path = args[2] if len(args) > 2 else kwargs["path"]
            return path, _data_files(path)

        def after(span, state, _result):
            path, old = state
            new = {p: s for p, s in _data_files(path).items() if p not in old}
            self.merge_log.append(
                {
                    "op": span.op,
                    "s": span.duration,
                    "bytes": sum(new.values()),
                    "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in new),
                }
            )

        self.tracer.wrap(module, "merge_into_parquet", "plans.merge.merge_into_parquet",
                         before, after)

    def merge_layers(self, ops: set[str], n_ops: int, source_rows: int) -> None:
        steady = [e for e in self.merge_log if e["op"] in ops]
        self.layer["plans.merge.merge_into_parquet_s"] = (median([e["s"] for e in steady]), "s")
        self.layer["plans.merge.calls"] = (len(steady) / max(n_ops, 1), "count")
        self.layer["plans.merge.bytes_written"] = (median([e["bytes"] for e in steady]), "bytes")
        self.layer["plans.merge.rows_rewritten_per_source_row"] = (
            sum(e["rows"] for e in steady) / max(source_rows, 1), "ratio")

    # -- results --------------------------------------------------------
    def finish(self, cold_s: float) -> None:
        """End-to-end metrics, plus the layer metrics every workload has."""
        self.e2e["cold_s"] = (cold_s, "s")
        self.e2e["op_p50_s"] = (median(self.ops), "s")
        # A run holds 1 to 10 operations: too few for a percentile above
        # the median with ten samples beyond it. The interpolated p90 is the
        # tail; it varies less between runs than the slowest operation does.
        # With a single operation (etl_scheduled) it is that operation.
        tail = (statistics.quantiles(self.ops, n=10, method="inclusive")[-1]
                if len(self.ops) > 1 else self.ops[0])
        self.e2e["op_tail_s"] = (tail, "s")
        self.notes.append(f"op_p50_s and op_tail_s (p90) over {len(self.ops)} operations")
        self.e2e["peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        for s in self.tracer.spans:
            if s.name in ("session.get_spark", "sources.parquet.warmup"):
                self.layer[f"{s.name}_s"] = (s.duration, "s")
        units = {"gc_s": "s", "jit_compile_s": "s", "loaded_classes": "count",
                 "metaspace_mb": "MB"}
        for k, v in self.jvm_cold.items():
            self.layer[f"jvm.{k}"] = (v, units[k])

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


# ---------------------------------------------------------------------------
# etl_scheduled
# ---------------------------------------------------------------------------


def _write_pages(seed: int, path: str, hours: list[int], deliveries: list[int]) -> None:
    import pyarrow as pa

    pdf = inputs.page_batch(seed, hours, deliveries)
    inputs.write_parquet(pa.Table.from_pandas(pdf, preserve_index=False), path)


def etl_scheduled(b: Bench) -> None:
    """One backfill ``pipeline.run`` (the cold phase), then hourly runs that
    each carry the next hour's page plus a re-delivery of the previous one."""
    pages_dir = os.path.join(b.tmp, "pages")
    os.makedirs(pages_dir)
    backfill = os.path.join(pages_dir, "backfill.parquet")
    b.generate(_write_pages, b.seed, backfill, list(range(BACKFILL_PAGES)),
               [0] * BACKFILL_PAGES)

    from cdmx_airquality_etl_spark import pipeline, quality
    from cdmx_airquality_etl_spark.sources import html_ingest

    b.start_spark()
    spark = b.spark
    with b.tracer.span("sources.parquet.warmup"):
        spark.read.parquet(backfill).count()
    b.setup_done()

    config = pipeline.PipelineConfig(warehouse_dir=os.path.join(b.tmp, "tables"))
    evals = spark.sparkContext.accumulator(0) if b.traced else None
    if b.traced:
        b.trace_merge(pipeline)
        b.tracer.wrap(pipeline, "ingest_reports", "sources.html_ingest.ingest_reports")
        b.tracer.wrap(quality, "gate", "quality.gate")
        b.tracer.wrap(pipeline, "run", "pipeline.run")

    def pages_frame(path):
        df = spark.read.parquet(path)
        if evals is None:
            return df

        def count_evals(batches, acc=evals):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(count_evals, df.schema)

    jvm0 = jvm_snapshot(spark) if b.traced else None
    _, cold_s = b.op("backfill", lambda: pipeline.run(spark, pages_frame(backfill), config))
    if b.traced:
        b.jvm_cold = jvm_delta(jvm0, jvm_snapshot(spark))
    b.notes.append(f"backfill_pages_per_s={BACKFILL_PAGES / cold_s:.2f} pages/s")

    hour = BACKFILL_PAGES
    deadline = time.perf_counter() + b.seconds
    hourly: list[str] = []
    while len(hourly) < MIN_OPS or time.perf_counter() < deadline:
        path = os.path.join(pages_dir, f"hour-{hour:05d}.parquet")
        b.generate(_write_pages, b.seed, path, [hour, hour - 1], [0, 1])
        name = f"hourly-{len(hourly)}"
        _, dt = b.op(name, lambda p=path: pipeline.run(spark, pages_frame(p), config))
        b.ops.append(dt)
        hourly.append(name)
        hour += 1
    b.finish(cold_s)

    if b.traced:
        b.tracer.close()
        t = time.perf_counter()
        html_ingest.parse_pages(spark.read.parquet(backfill)).write.format("noop").mode(
            "overwrite").save()
        b.layer["sources.html_ingest.parse_pass_s"] = (time.perf_counter() - t, "s")
        pages = BACKFILL_PAGES + 2 * len(hourly)
        b.layer["sources.html_ingest.page_evals_per_page"] = (evals.value / pages, "ratio")
        tr = b.tracer
        runs = [i for i, s in enumerate(tr.spans) if s.name == "pipeline.run" and s.op in hourly]
        gates = tr.named("quality.gate")
        b.layer["quality.gate_s"] = (
            median([sum(s.duration for s in gates if s.op == op) for op in hourly]), "s")
        b.layer["quality.gate_calls"] = (
            median([sum(1 for s in gates if s.op == op) for op in hourly]), "count")
        b.layer["pipeline.run_self_s"] = (median([tr.self_time(i) for i in runs]), "s")
        b.layer["pipeline.jobs_per_run"] = (
            median([b.jobs.counts(op)["jobs"] for op in hourly]), "count")
        rows_per_page = len(inputs.CDMX_STATIONS) + len(inputs.EDOMEX_STATIONS) + 1
        b.merge_layers(set(hourly), len(hourly), 2 * rows_per_page * len(hourly))

    # output checks: every generated key once, every re-delivery counted
    n_hours, redeliveries = hour, len(hourly)
    per_page = {"cdmx": len(inputs.CDMX_STATIONS), "edomex": len(inputs.EDOMEX_STATIONS),
                "gral_stats": 1}
    for name, k in per_page.items():
        row = spark.read.parquet(config.table_path(name)).selectExpr(
            "count(*) AS n", "sum(nupdates) AS s").first()
        b.check(row["n"] == k * n_hours, f"{name}: {row['n']} rows, want {k * n_hours}")
        b.check(row["s"] == k * (n_hours + redeliveries),
                f"{name}: sum(nupdates)={row['s']}, want {k * (n_hours + redeliveries)}")
    got = sorted(r[0] for r in spark.read.parquet(config.table_path("gral_stats"))
                 .select("report_ts").collect())
    b.check(got == [inputs.report_ts(h) for h in range(n_hours)],
            "gral_stats: report_ts keys differ from the generated hours")


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------


def _module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def query(b: Bench) -> None:
    """A cold pass over the query list (each query's first execution in
    the process, forced by a noop write), then warm passes in which each
    query's result is fetched to the client, each light query twice. The
    first warm pass's results are compared with the DuckDB oracles."""
    import random

    sf_dir = os.path.join(b.tmp, "tables")
    os.makedirs(sf_dir)

    def write_tables():
        for name, table in inputs.query_tables(b.seed, QUERY_SCALE).items():
            inputs.write_parquet(table, os.path.join(sf_dir, f"{name}.parquet"))

    b.generate(write_tables)
    names = HEAVY_QUERIES + LIGHT_QUERIES
    random.Random(b.seed).shuffle(names)

    from cdmx_airquality_etl_spark import QUERIES
    from cdmx_airquality_etl_spark.operators import fanout
    from cdmx_airquality_etl_spark.schemas import TESTDATA_TABLES
    from cdmx_airquality_etl_spark.sources.parquet import load_table

    b.start_spark()
    spark = b.spark
    with b.tracer.span("sources.parquet.warmup"):
        for t in TESTDATA_TABLES:
            load_table(spark, sf_dir, t).count()
    b.setup_done()

    engaged = []
    b.tracer.wrap(fanout, "scan_fanout_parallelism", "operators.fanout.probe",
                  after=lambda sp, _s, n: engaged.append(n))

    def run_query(name, sink):
        with b.tracer.span(f"operators.{_module_of(QUERIES[name])}.build"):
            df = QUERIES[name](spark, sf_dir)
        with b.tracer.span(f"operators.{_module_of(QUERIES[name])}.exec"):
            if sink == "noop":
                return df.write.format("noop").mode("overwrite").save()
            return df.toPandas()

    jvm0 = jvm_snapshot(spark) if b.traced else None
    t = time.perf_counter()
    for name in names:
        b.op(f"cold:{name}", lambda n=name: run_query(n, "noop"))
        spark.catalog.clearCache()
    cold_s = time.perf_counter() - t
    if b.traced:
        b.jvm_cold = jvm_delta(jvm0, jvm_snapshot(spark))

    results = {}
    passes = []
    deadline = time.perf_counter() + b.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        t = time.perf_counter()
        for name in names:
            pdf, dt = b.op(f"warm{len(passes)}:{name}", lambda n=name: run_query(n, "pandas"))
            spark.catalog.clearCache()
            b.ops.append(dt)
            if not passes:
                results[name] = pdf
        passes.append(time.perf_counter() - t)
        # A second sample of each light query, far cheaper than a second
        # full pass: op_p50_s sits in the light cluster.
        for name in names:
            if name in LIGHT_QUERIES:
                _, dt = b.op(f"warm{len(passes) - 1}b:{name}",
                             lambda n=name: run_query(n, "pandas"))
                spark.catalog.clearCache()
                b.ops.append(dt)
    b.finish(cold_s)
    b.notes.append(f"cold_pass_s={cold_s:.3f} s")
    b.notes.append(f"warm_pass_s={median(passes):.3f} s over {len(passes)} passes")

    if b.traced:
        b.tracer.close()
        tr = b.tracer
        cold_ops = {f"cold:{n}" for n in names}
        for mod in OPERATOR_MODULES:
            for part in ("build", "exec"):
                spans = [s for s in tr.named(f"operators.{mod}.{part}") if s.op in cold_ops]
                b.layer[f"operators.{mod}.{part}_s"] = (sum(s.duration for s in spans), "s")
            counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
            for n in names:
                if _module_of(QUERIES[n]) == mod:
                    for k, v in b.jobs.counts(f"cold:{n}").items():
                        counts[k] += v
            for k, v in counts.items():
                b.layer[f"operators.{mod}.{k}"] = (v, "count")
        b.layer["operators.fanout.probe_s"] = (
            sum(s.duration for s in tr.named("operators.fanout.probe")), "s")
        b.layer["operators.fanout.engaged"] = (float(bool(engaged and engaged[0])), "count")

    _check_oracles(b, sf_dir, results)


def _check_oracles(b: Bench, sf_dir: str, results: dict) -> None:
    import duckdb

    from check_oracle import canon_frame
    from cdmx_airquality_etl_spark.registry import resolve_oracles
    from cdmx_airquality_etl_spark.schemas import TESTDATA_TABLES

    oracles = resolve_oracles(sf_dir)
    con = duckdb.connect()
    try:
        con.sql("SET threads=4")
        con.sql("SET memory_limit='2GB'")
        con.sql(f"SET temp_directory='{os.path.join(b.tmp, 'duckdb')}'")
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, got in results.items():
            if got is None:
                continue  # already counted as a failed operation
            if name not in oracles:
                b.check(False, f"{name}: no oracle")
                continue
            want = con.sql(oracles[name]).df()
            b.check(sorted(got.columns) == sorted(want.columns)
                    and canon_frame(got) == canon_frame(want),
                    f"{name}: result differs from its DuckDB oracle")
    finally:
        con.close()


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class _Deliveries:
    """The orders and events files handed to the two streams, with the
    state the checks need: the last price per key and the re-delivery count."""

    def __init__(self, b: Bench):
        self.b = b
        root = os.path.join(b.tmp, "stream")
        self.orders_dir = os.path.join(root, "orders_src")
        self.events_dir = os.path.join(root, "events_src")
        self.target = os.path.join(root, "orders_tbl")
        self.state = os.path.join(root, "cms_state")
        self.ckpt = os.path.join(root, "ckpt")
        for d in (self.orders_dir, self.events_dir, self.ckpt):
            os.makedirs(d)
        self.n = 0
        self.known = 0
        self.events = 0
        self.redelivered = 0
        self.price: dict[int, float] = {}
        self.orders_rows = 0

    def _write(self, table, directory):
        path = os.path.join(directory, f"part-{self.n:05d}.parquet")
        inputs.write_parquet(table, path)
        # the file source takes files in modification-time order
        stamp = 1_700_000_000 + self.n
        os.utime(path, (stamp, stamp))

    def deliver(self, new_orders: int, redeliver: int, events: int) -> None:
        seed = self.b.seed
        orders = inputs.orders_snapshot(
            seed, self.n, range(self.known, self.known + new_orders), redeliver, self.known)
        self._write(orders, self.orders_dir)
        self._write(inputs.events_snapshot(seed, self.n, self.events, events), self.events_dir)
        keys = orders.column("o_orderkey").to_pylist()
        self.price.update(zip(keys, orders.column("o_totalprice").to_pylist()))
        self.redelivered += len(keys) - new_orders
        self.known += new_orders
        self.events += events
        self.orders_rows += len(keys)
        self.n += 1


def stream_ingest(b: Bench) -> None:
    """Orders snapshots through ``ingest_stream`` (unpartitioned keyed merge
    with a version-guarded counter) and events through ``cms_stream``, each
    an AvailableNow stream taking one file per micro-batch. The cold phase
    loads the base snapshots; each later round delivers three files."""
    d = _Deliveries(b)
    b.generate(d.deliver, ORDERS_BASE_ROWS, 0, EVENTS_BASE_ROWS)

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from cdmx_airquality_etl_spark.schemas import TESTDATA_SCHEMAS
    from cdmx_airquality_etl_spark.streaming import cms_maintenance, ingest

    orders_schema = StructType([
        StructField("o_orderkey", LongType()), StructField("o_custkey", LongType()),
        StructField("o_totalprice", DoubleType()), StructField("o_orderpriority", StringType()),
    ])
    events_schema = TESTDATA_SCHEMAS["events"]

    b.start_spark()
    spark = b.spark
    with b.tracer.span("sources.parquet.warmup"):
        spark.read.schema(orders_schema).parquet(d.orders_dir).count()
        spark.read.schema(events_schema).parquet(d.events_dir).count()
    b.setup_done()
    if b.traced:
        b.trace_merge(ingest)

    progress = {"ingest": [], "cms_maintenance": []}
    rows = {"ingest": 0, "cms_maintenance": 0}

    def run_streams(tag: str) -> None:
        """Both streams over every file not yet taken."""
        q = ingest.ingest_stream(
            spark, d.orders_dir, orders_schema, d.target, ["o_orderkey"],
            checkpoint_dir=os.path.join(d.ckpt, "ingest"), max_files_per_trigger=1)
        progress["ingest"].append((tag, q.recentProgress))
        q = cms_maintenance.cms_stream(
            spark, d.events_dir, events_schema, d.state, d.ckpt, "user_id")
        q.awaitTermination()
        progress["cms_maintenance"].append((tag, q.recentProgress))

    jvm0 = jvm_snapshot(spark) if b.traced else None
    _, cold_s = b.op("cold", lambda: run_streams("cold"))
    if b.traced:
        b.jvm_cold = jvm_delta(jvm0, jvm_snapshot(spark))

    rounds: list[str] = []
    wall = 0.0
    orders_before, events_before = d.orders_rows, d.events
    deadline = time.perf_counter() + b.seconds
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < deadline:
        for _ in range(FILES_PER_ROUND):
            b.generate(d.deliver, ORDERS_NEW_PER_FILE, ORDERS_REDELIVERED_PER_FILE,
                       EVENTS_PER_FILE)
        tag = f"round-{len(rounds)}"
        _, dt = b.op(tag, lambda t=tag: run_streams(t))
        wall += dt
        rounds.append(tag)
    steady_rows = (d.orders_rows - orders_before) + (d.events - events_before)
    b.notes.append(f"stream_rows_per_s={steady_rows / wall:.1f} rows/s")

    def batches(name, tags):
        return [p for tag, ps in progress[name] if tag in tags for p in ps
                if p["numInputRows"] > 0]

    for name in progress:
        b.ops.extend(p["durationMs"]["triggerExecution"] / 1000.0
                     for p in batches(name, set(rounds)))
    b.finish(cold_s)

    if b.traced:
        b.tracer.close()
        steady = set(rounds)
        true_rows = {"ingest": d.orders_rows - orders_before,
                     "cms_maintenance": d.events - events_before}
        for name in progress:
            ps = batches(name, steady)
            b.layer[f"streaming.{name}.batch_ms"] = (
                median([p["durationMs"]["triggerExecution"] for p in ps]), "ms")
            for part in STREAM_PARTS:
                b.layer[f"streaming.{name}.{part}_ms"] = (
                    median([p["durationMs"].get(part, 0) for p in ps]), "ms")
            b.layer[f"streaming.{name}.input_evals_per_row"] = (
                sum(p["numInputRows"] for p in ps) / true_rows[name], "ratio")
        versions = sorted(glob.glob(os.path.join(d.state, "state=*", "_SUCCESS")))
        b.layer["streaming.cms_maintenance.versions"] = (len(versions), "count")
        latest = max(versions, key=lambda p: int(p.split("state=")[1].split(os.sep)[0]))
        b.layer["streaming.cms_maintenance.state_bytes"] = (
            sum(_data_files(os.path.dirname(latest)).values()), "bytes")
        ingest_batches = len(batches("ingest", steady))
        b.merge_layers(steady, ingest_batches, true_rows["ingest"])

    # output checks: one row per key with its last-delivered price, the
    # counter bumped once per re-delivery, the sketch equal to a one-shot one
    got = spark.read.parquet(d.target).select("o_orderkey", "o_totalprice", "nupdates").toPandas()
    b.check(len(got) == d.known, f"orders target: {len(got)} rows, want {d.known}")
    b.check(got["o_orderkey"].is_unique, "orders target: duplicate keys")
    b.check(int(got["nupdates"].sum()) == d.known + d.redelivered,
            f"orders target: sum(nupdates)={int(got['nupdates'].sum())}, "
            f"want {d.known + d.redelivered}")
    b.check(dict(zip(got["o_orderkey"], got["o_totalprice"])) == d.price,
            "orders target: prices differ from the last delivery")
    events = spark.read.schema(events_schema).parquet(d.events_dir)
    empty = spark.createDataFrame([], cms_maintenance._STATE_SCHEMA)
    one_shot = cms_maintenance.merge_sketch(
        empty, cms_maintenance.batch_increments(events, "user_id"))
    sketch = cms_maintenance.read_sketch(spark, d.state)
    b.check(sorted(map(tuple, one_shot.collect())) == sorted(map(tuple, sketch.collect())),
            "cms sketch differs from the one-shot sketch")


WORKLOADS = {
    "etl_scheduled": etl_scheduled,
    "query": query,
    "stream_ingest": stream_ingest,
}
